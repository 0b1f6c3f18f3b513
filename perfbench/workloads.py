"""The workloads. Each is a closed loop with one client.

Every timing is taken here, around calls to the engine's public functions.
``Run`` carries the session, the counters, the samples and the failure
count of one benchmark run; a workload function fills it in.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import gen
from checks import NULLISH_TEXT, text_failures, triple_hash
from probes import Counters, process_uptime_s
from trace import Tracer

from knowledgegraphs_spark.config import EngineConfig
from knowledgegraphs_spark.operators.canonicalize import canonical_mapping
from knowledgegraphs_spark.operators.matching import blocking_pairs, compute_match_edges
from knowledgegraphs_spark.operators.mentions import distinct_surfaces, extract_mentions
from knowledgegraphs_spark.operators.po_extraction import transcript_po
from knowledgegraphs_spark.operators.skew import join_small_dim
from knowledgegraphs_spark.operators.sparql import parse_query, sparql_select
from knowledgegraphs_spark.operators.triples import emit_transcript_triples
from knowledgegraphs_spark.plans.incremental import incremental_update
from knowledgegraphs_spark.plans.pipeline import build_kg, entity_catalog, mention_triples, run_pipeline
from knowledgegraphs_spark.sources.transcripts import ingest
from knowledgegraphs_spark.streaming.maintenance import (
    compact_store, maintenance_batch_fn, read_catalog, read_maintained_triples,
    stream_kg_maintenance,
)

# Workload sizes: a warm build takes 6-7 s on 4 cores, nearly all of it
# per-stage Spark cost; see NOTES.md for why each shape exists.
WIDE = {"n_turns": 3_000, "n_words": 150, "per_word": 6}       # 2,700 surfaces
WARM_BUILDS = 1            # untimed builds before the first timed one
BUILDS = 3                 # timed builds at least; more while time is left
LIVE = {"boot_turns": 3_000, "batch_turns": 1_000, "n_words": 100, "per_word": 6,
        "novel_per_batch": 20}
LIVE_WARM_STEPS = 2        # untimed maintain steps
LIVE_STEPS = 3             # timed maintain steps (fixed, so the store hash repeats)
LIVE_COMPACT_EVERY = 2     # compact_store after every K-th step
LIVE_QUERIES_PER_STEP = 10
BUILD_QUERIES = 10
BUILD_SHARE = 0.7         # share of --seconds spent on timed builds

QUERY_TEXT = {
    "point": "SELECT ?p ?o WHERE {{ <kg:Turn_2_{conv}_{idx}> ?p ?o . }}",
    "star": ("SELECT ?t ?text WHERE {{ ?t p_Turn_Conversation <kg:Conversation_1_{conv}> . "
             "?t has_text ?a . ?a has_text_VALUE ?text . }}"),
    "agg": ("SELECT ?e (COUNT(DISTINCT ?c) AS ?n) WHERE { ?t has_mention ?m . "
            "?m p_Mention_Entity ?e . ?t p_Turn_Conversation ?c . } GROUP BY ?e"),
}
# point lookups dominate, so p50 sits inside the point-lookup mode and p90
# inside the aggregate mode rather than on the boundary between two modes
QUERY_CYCLE = ["point"] * 7 + ["star"] + ["agg"] * 2


@dataclass
class Run:
    spark: object
    workdir: str
    seed: int
    seconds: int
    trace: bool
    counters: Counters = None
    tracer: Tracer = field(default_factory=Tracer)
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    write_s: list = field(default_factory=list)      # build or drain wall times
    write_turns: list = field(default_factory=list)  # turns written by each
    compact_s: list = field(default_factory=list)
    query_s: list = field(default_factory=list)
    hashes: list = field(default_factory=list)
    layers: dict = field(default_factory=dict)       # per-layer samples (traced)
    notes: dict = field(default_factory=dict)
    measure_start: float = 0.0
    measured_s: float = 0.0
    seq: int = 0

    def __post_init__(self):
        self.counters = Counters(self.spark)

    def start_measuring(self) -> None:
        self.setup_s = process_uptime_s()
        self.gc0 = self.counters.gc()
        c = self.counters
        self.jobs0 = (c.jobs, c.tasks, c.failed_tasks)
        self.measure_start = time.perf_counter()

    def elapsed(self) -> float:
        return time.perf_counter() - self.measure_start

    def check(self, ok: bool, what: str) -> None:
        """Count an output check: a failed one counts in ``failed``."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.setdefault("failed_checks", []).append(what)

    def sample(self, name: str, value: float) -> None:
        self.layers.setdefault(name, []).append(value)

    def timed(self, group: str, fn, jobs_of=None):
        """Run one operation under its own job group; returns (result,
        seconds). An exception counts as a failed operation. ``jobs_of``
        maps the result to the job group its jobs ran under, when that is
        not the caller's (a streaming drain runs under its query's run id)."""
        self.seq += 1
        group = f"{group}#{self.seq}"
        self.counters.job_group(group)
        t0 = time.perf_counter()
        self.attempted += 1
        try:
            out = fn()
        except Exception as e:  # the run goes on and reports the failure
            self.failed += 1
            self.notes.setdefault("errors", []).append(f"{group}: {type(e).__name__}: {e}"[:300])
            out = None
        dt = time.perf_counter() - t0
        if jobs_of is not None and out is not None:
            group = jobs_of(out)
        self.counters.collect_group(group)
        return out, dt


# --------------------------------------------------------------------------
# queries


class QueryMix:
    """The fixed SPARQL mix with seeded parameters drawn from input turns."""

    def __init__(self, seed: int, rows: list[tuple]):
        self.rng = random.Random(seed ^ 0x5EED)
        self.cycle = QUERY_CYCLE[:]
        self.rng.shuffle(self.cycle)
        self.i = 0
        self.turns: list[tuple[str, int]] = []
        self.text_turns: dict[str, int] = {}
        self.agg_rows: dict[str, int] = {}
        self.add_rows(rows)

    def add_rows(self, rows: list[tuple]) -> None:
        """Make newly landed turns and conversations queryable."""
        for conv, idx, _role, text, *_ in rows:
            self.turns.append((conv, idx))
            keep = text is not None and text.strip().lower() not in NULLISH_TEXT
            self.text_turns[conv] = self.text_turns.get(conv, 0) + keep
        self.convs = sorted(self.text_turns)

    def next(self, kind: str | None = None) -> tuple[str, str, object]:
        """The next query of the cycle, or the next one of ``kind``."""
        if kind is None:
            kind = self.cycle[self.i % len(self.cycle)]
            self.i += 1
        if kind == "point":
            conv, idx = self.turns[self.rng.randrange(len(self.turns))]
            return kind, QUERY_TEXT[kind].format(conv=conv, idx=idx), None
        if kind == "star":
            conv = self.convs[self.rng.randrange(len(self.convs))]
            return kind, QUERY_TEXT[kind].format(conv=conv), self.text_turns[conv]
        return kind, QUERY_TEXT[kind], None

    def verify(self, kind: str, n_rows: int, expect, version: str) -> bool:
        if kind == "point":
            return n_rows >= 4  # type, conversation, role and ts always exist
        if kind == "star":
            return n_rows == expect
        # the aggregate returns one row per entity; it must not change while
        # the store does not
        return n_rows > 0 and self.agg_rows.setdefault(version, n_rows) == n_rows


def traced_query(run: Run, text: str, open_store):
    """A query with its parse and its execution (store open included) in
    their own spans."""
    def query():
        tr = run.tracer
        with tr.span("operators.sparql.query"):
            t0 = time.perf_counter()
            with tr.span("operators.sparql.parse"):
                parsed = parse_query(text)
            t1 = time.perf_counter()
            with tr.span("operators.sparql.exec"):
                store = open_store()
                rows = sparql_select(store, parsed).collect()
            t2 = time.perf_counter()
        run.sample("operators.sparql.parse_s", t1 - t0)
        run.sample("operators.sparql.exec_s", t2 - t1)
        run.sample("operators.sparql.files_scanned", len(store.inputFiles()))
        run.sample("operators.sparql.rows", len(rows))
        return rows
    return query


def run_queries(run: Run, mix: QueryMix, open_store, n: int, version: str) -> None:
    """``n`` timed queries, one after another, each against a freshly opened
    store (``open_store()``), so a read pays the store's file listing."""
    for _ in range(n):
        kind, text, expect = mix.next()
        if run.trace:
            query = traced_query(run, text, open_store)
        else:
            def query():
                return sparql_select(open_store(), text).collect()
        rows, dt = run.timed(f"query-{kind}", query)
        if rows is None:
            continue
        run.query_s.append(dt)
        run.check(mix.verify(kind, len(rows), expect, version), f"query {kind} rows={len(rows)}")


def warm_queries(run: Run, mix: QueryMix, open_store, version: str) -> None:
    """One untimed query of each kind, so no timed query is the first of
    its plan."""
    for kind in sorted(set(QUERY_CYCLE)):
        kind, text, expect = mix.next(kind)
        rows = sparql_select(open_store(), text).collect()
        run.check(mix.verify(kind, len(rows), expect, version), f"query {kind} rows={len(rows)}")


def trace_overhead(run: Run) -> None:
    """Traced minus untraced median wall of the same operation."""
    traced, untraced = run.layers.pop("trace.traced_s", []), run.layers.pop("trace.untraced_s", [])
    if traced and untraced:
        run.sample("trace.overhead_s", statistics.median(traced) - statistics.median(untraced))


# --------------------------------------------------------------------------
# builds


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def traced_build(run: Run, inp: str, wd: str, cfg: EngineConfig):
    """The stages of ``run_pipeline(resume=False)``, in its order, each
    materialized at its stage boundary inside its own span."""
    spark, tr = run.spark, run.tracer

    def materialize(df, name, partition_cols=None):
        out = os.path.join(wd, name)
        w = df.write.mode("overwrite")
        if partition_cols:
            w = w.partitionBy(*partition_cols)
        w.parquet(out)
        return spark.read.parquet(out)

    with tr.span("plans.pipeline.build"):
        with tr.span("sources.transcripts.ingest"):
            turns = materialize(ingest(spark.read.parquet(inp), cfg.shuffle_partitions), "turns")
        with tr.span("operators.mentions.extract"):
            mentions = materialize(extract_mentions(turns), "mentions")
            surfaces = materialize(distinct_surfaces(mentions), "surfaces")
        with tr.span("operators.matching.edges"):
            edges = materialize(compute_match_edges(
                surfaces.select("mention"), cfg.match,
                vocab_driver_threshold=cfg.vocab_driver_threshold), "match_edges")
        with tr.span("operators.canonicalize.mapping"):
            canonical = materialize(canonical_mapping(surfaces.select("mention"), edges, cfg), "canonical")
        with tr.span("operators.skew.mention_join"):
            m_canon = materialize(join_small_dim(
                mentions, canonical.select("mention", "canonical"), "mention",
                salt_buckets=cfg.match.salt_buckets, salt_from=["conv_id", "turn_idx", "pos"]),
                "mentions_canon")
        with tr.span("operators.triples.emit_write"):
            triples = emit_transcript_triples(turns, transcript_po()).unionByName(
                mention_triples(m_canon, canonical))
            n = cfg.shuffle_partitions
            triples = materialize(
                triples.withColumn("subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(n)))
                .repartition(n, "subj_bucket"), "triples", ["subj_bucket"])
        with tr.span("plans.pipeline.entities"):
            materialize(entity_catalog(m_canon), "entities")

    # counts outside the spans: they are tracing work, not build work
    freq = surfaces.agg(F.max("freq").alias("mx"), F.sum("freq").alias("n")).first()
    comp = canonical.groupBy("canonical").count().agg(
        F.count(F.lit(1)).alias("k"), F.max("count").alias("mx")).first()
    n_surf, n_edges = surfaces.count(), edges.count()
    cands = blocking_pairs(surfaces.select("mention"), cfg.match, n_surfaces=n_surf).count()
    files, size = _dir_stats(os.path.join(wd, "triples"))
    for k, v in {
        "sources.transcripts.rows": turns.count(),
        "operators.mentions.mentions": freq["n"],
        "operators.mentions.surfaces": n_surf,
        "operators.matching.candidates": cands,
        "operators.matching.edges": n_edges,
        "operators.matching.edge_yield": n_edges / max(cands, 1),
        "operators.matching.driver_path": int(n_surf <= cfg.vocab_driver_threshold),
        "operators.canonicalize.entities": comp["k"],
        "operators.canonicalize.largest_component": comp["mx"],
        "operators.skew.hot_key_share": freq["mx"] / max(freq["n"], 1),
        "operators.triples.triples": triples.count(),
        "operators.triples.bytes": size,
        "operators.triples.files": files,
    }.items():
        run.sample(k, v)
    return triples


BUILD_LAYERS = {
    "sources.transcripts.ingest": "sources.transcripts.ingest_s",
    "operators.mentions.extract": "operators.mentions.extract_s",
    "operators.matching.edges": "operators.matching.edges_s",
    "operators.canonicalize.mapping": "operators.canonicalize.mapping_s",
    "operators.skew.mention_join": "operators.skew.mention_join_s",
    "operators.triples.emit_write": "operators.triples.emit_write_s",
    "plans.pipeline.entities": "plans.pipeline.entities_s",
    "plans.pipeline.build": "plans.pipeline.other_s",
}


def build_workload(run: Run) -> None:
    spark = run.spark
    rows = gen.wide_corpus(run.seed, **WIDE)
    inp = os.path.join(run.workdir, "input")
    gen.write_parquet_dir(rows, inp, spark.sparkContext.defaultParallelism)
    cfg = EngineConfig()
    mix = QueryMix(run.seed, rows)

    def build(i: int, traced: bool):
        wd = os.path.join(run.workdir, f"build{i}")
        if traced:
            before = run.tracer.self_times()
            res, dt = run.timed(f"build{i}", lambda: traced_build(run, inp, wd, cfg))
            after = run.tracer.self_times()
            for span, metric in BUILD_LAYERS.items():
                run.sample(metric, after.get(span, 0.0) - before.get(span, 0.0))
            run.sample("trace.traced_s", dt)
            triples = res
        else:
            res, dt = run.timed(f"build{i}", lambda: run_pipeline(
                spark, spark.read.parquet(inp), wd, cfg, resume=False))
            triples = res.triples if res is not None else None
        if triples is not None:
            h = triple_hash(triples)
            run.check(not run.hashes or h == run.hashes[0], f"build{i} hash {h}")
            run.hashes.append(h)
        return wd, dt

    # warm-up: untimed builds and queries (the first build pays class
    # loading and code generation; the JIT keeps warming after it)
    prev = None
    for i in range(WARM_BUILDS):
        wd, _ = build(i, traced=False)
        if prev:
            shutil.rmtree(prev, ignore_errors=True)
        prev = wd
    store = lambda: spark.read.parquet(os.path.join(prev, "triples"))  # noqa: E731
    warm_queries(run, mix, store, "final")

    run.start_measuring()
    i = WARM_BUILDS
    # the traced run alternates untraced and traced builds; the difference
    # of their medians is the tracing overhead
    while i < WARM_BUILDS + BUILDS or run.elapsed() < BUILD_SHARE * run.seconds:
        traced = run.trace and i % 2 == 0
        wd, dt = build(i, traced)
        if not traced:
            run.write_s.append(dt)
            run.write_turns.append(len(rows))
            if run.trace:
                run.sample("trace.untraced_s", dt)
        shutil.rmtree(prev, ignore_errors=True)  # outside the timed build
        prev, i = wd, i + 1
    store = lambda: spark.read.parquet(os.path.join(prev, "triples"))  # noqa: E731
    run_queries(run, mix, store, BUILD_QUERIES, "final")
    run.measured_s = run.elapsed()

    # untimed output checks on the last build
    run.check(text_failures(store(), spark.read.parquet(inp)) == 0, "per-turn text")
    if run.trace:
        trace_overhead(run)


# --------------------------------------------------------------------------
# maintain loop


def bootstrap_store(spark, boot_path: str, store: str) -> None:
    triples, canonical = build_kg(spark, spark.read.parquet(boot_path))
    canonical.write.parquet(f"{store}/catalog_base")
    triples.select("subj", "pred", "obj", "obj_dtype", "is_literal").write.parquet(f"{store}/triples_base")


def traced_batch(run: Run, batch_path: str, store: str, batch_id: int, cfg: EngineConfig):
    """``maintenance_batch_fn``'s body with the incremental plan in its own
    span; the batch span's self time is the commit (prior read + writes)."""
    spark, tr = run.spark, run.tracer
    with tr.span("streaming.maintenance.batch"):
        prior = read_catalog(spark, store, before_batch=batch_id).localCheckpoint(eager=True)
        with tr.span("plans.incremental.update"):
            res = incremental_update(spark, spark.read.parquet(batch_path), prior, cfg)
            triples = res.triples.localCheckpoint(eager=True)
            delta = res.canonical_delta.localCheckpoint(eager=True)
        triples.write.mode("overwrite").parquet(f"{store}/triples/batch_id={batch_id}")
        delta.write.mode("overwrite").parquet(f"{store}/catalog_delta/batch_id={batch_id}")
    novel = delta.count()
    prior_canon = prior.select("canonical").distinct()
    attached = delta.join(prior_canon, "canonical").count()
    run.sample("plans.incremental.novel_surfaces", novel)
    run.sample("plans.incremental.attach_ratio", attached / max(novel, 1))
    run.sample("plans.incremental.batch_vocab", res.stats["batch_vocab"])
    run.sample("sources.transcripts.rows", spark.read.parquet(batch_path).count())


def live_workload(run: Run) -> None:
    spark = run.spark
    cfg = EngineConfig()
    lc = gen.LiveCorpus(run.seed, max_batches=LIVE_WARM_STEPS + LIVE_STEPS, **LIVE)
    root = run.workdir
    store, landing, ckpt = (os.path.join(root, d) for d in ("store", "landing", "ckpt"))
    os.makedirs(landing)
    boot = os.path.join(root, "boot")
    gen.write_parquet_dir(lc.boot, boot, spark.sparkContext.defaultParallelism)
    mix = QueryMix(run.seed, lc.boot)
    all_rows = list(lc.boot)
    bootstrap_store(spark, boot, store)
    open_store = lambda: read_maintained_triples(spark, store)  # noqa: E731

    def step(b: int, timed: bool) -> None:
        rows = lc.batch(b)
        path = os.path.join(landing, f"batch-{b:04d}.parquet")
        gen.write_parquet(rows, path)  # the file lands
        traced = run.trace and timed and b % 2 == 0
        if run.trace and timed and not traced:
            # the traced run calls the batch function directly throughout:
            # a streaming drain after a direct call would number its batch
            # differently
            fn = maintenance_batch_fn(store, cfg)
            _, dt = run.timed(f"batch{b}", lambda: fn(spark.read.parquet(path), b))
        elif traced:
            before = run.tracer.self_times()
            _, dt = run.timed(f"batch{b}", lambda: traced_batch(run, path, store, b, cfg))
            after = run.tracer.self_times()
            run.sample("plans.incremental.update_s", after["plans.incremental.update"]
                       - before.get("plans.incremental.update", 0.0))
            run.sample("streaming.maintenance.commit_s", after["streaming.maintenance.batch"]
                       - before.get("streaming.maintenance.batch", 0.0))
            run.sample("trace.traced_s", dt)
        else:
            def drain():
                q = stream_kg_maintenance(spark, landing, store, ckpt)
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                return q
            _, dt = run.timed(f"drain{b}", drain, jobs_of=lambda q: str(q.runId))
        run.check(os.path.isdir(f"{store}/triples/batch_id={b}"), f"batch {b} committed")
        if timed:
            run.write_s.append(dt)
            run.write_turns.append(len(rows))
            if run.trace and not traced:
                run.sample("trace.untraced_s", dt)
        mix.add_rows(rows)
        all_rows.extend(rows)

    def compact(timed: bool) -> None:
        if run.trace and timed:
            with run.tracer.span("streaming.maintenance.compact"):
                _, dt = run.timed("compact", lambda: compact_store(spark, store))
            run.sample("streaming.maintenance.compact_s", dt)
        else:
            _, dt = run.timed("compact", lambda: compact_store(spark, store))
        if timed:
            run.compact_s.append(dt)

    def store_shape() -> None:
        files, size = _dir_stats(store)
        tdir = f"{store}/triples"
        deltas = [d for d in os.listdir(tdir) if d.startswith("batch_id=")] if os.path.isdir(tdir) else []
        run.sample("streaming.maintenance.delta_dirs", len(deltas))
        run.sample("streaming.maintenance.store_files", files)
        run.sample("streaming.maintenance.store_bytes", size)

    # warm-up: untimed steps, a compaction and a few queries
    for b in range(LIVE_WARM_STEPS):
        step(b, timed=False)
    compact(timed=False)
    warm_queries(run, mix, open_store, "warm")

    run.start_measuring()
    for b in range(LIVE_WARM_STEPS, LIVE_WARM_STEPS + LIVE_STEPS):
        step(b, timed=True)
        if run.trace:
            store_shape()
        run_queries(run, mix, open_store, LIVE_QUERIES_PER_STEP, f"step{b}")
        if (b - LIVE_WARM_STEPS + 1) % LIVE_COMPACT_EVERY == 0:
            compact(timed=True)
    run.measured_s = run.elapsed()

    final = read_maintained_triples(spark, store)
    run.hashes.append(triple_hash(final))
    run.check(text_failures(final, spark.createDataFrame(
        [(r[0], r[1], r[3]) for r in all_rows], "conv_id string, turn_idx int, text string")) == 0,
        "per-turn text")
    if run.trace:
        trace_overhead(run)
