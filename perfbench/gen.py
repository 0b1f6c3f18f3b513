"""Seeded input generators for the benchmark workloads.

Every generator is cost-stable across seeds: the seed picks WHICH names,
texts and orderings appear, never HOW MANY. Token posting-list sizes, the
multiset of conversation lengths and the per-entity mention counts are fixed
by the workload shape, so matching's candidate count and the emission volume
repeat from seed to seed.

Entity surfaces are built from generated pseudo-words so that each token's
surface count is set by the design alone (a few dozen at most), far below the
matcher's ``max_token_df=1000`` stop-token cut. Templates keep every word
next to an entity lower-case, so the proper-name pattern never captures a
template word into a name span.
"""

from __future__ import annotations

import datetime as dt
import os
import random

_ONSETS = ["b", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z",
           "br", "dr", "gr", "kl", "pr", "st", "tr", "sh", "ch", "th"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ou", "ea"]
_CODAS = ["", "", "n", "r", "l", "s", "m", "k"]

TEMPLATES = [
    "please look up {e} regarding the {a} request.",
    "records for {e} are ready; the {a} field is pending.",
    "we contacted {e} about account verification and {a}.",
    "the report from {e} mentions {a} twice.",
    "{e} confirmed the transfer, so flag {a} for review.",
    "ask {e} to resend the {a} form with {i} filled in.",
    "escalate to {e} and attach the {a} summary.",
]
TEMPLATES_PAIR = [
    "{e} and {f} both signed the {a} form.",
    "forward the {a} notes from {e} to {f} today.",
]
ABBREVS = ["CAD", "SSN", "KYC", "APR", "IBAN", "VAT", "SLA", "ETA", "CRM", "ERP",
           "API", "SKU", "POS", "ACH", "BIC", "EIN"]
IDENTS = ["acct_no", "search_web", "db_query", "code_exec", "ticket_id",
          "user_id", "order_ref", "tax_code"]
TOOLS = ["search_web", "calculator", "db_query", "code_exec"]
ROLES = ["user", "assistant", "tool"]
NULL_SHARE = 0.03
NULLISH = [None, "-", "null"]
BASE_TS = dt.datetime(2026, 1, 1)


def pseudo_words(rng: random.Random, n: int, taken: set[str]) -> list[str]:
    """``n`` distinct capitalized pseudo-words of 2-3 syllables."""
    out: list[str] = []
    while len(out) < n:
        w = "".join(
            rng.choice(_ONSETS) + rng.choice(_VOWELS)
            for _ in range(rng.choice((2, 2, 3)))
        ) + rng.choice(_CODAS)
        w = w.capitalize()
        if w not in taken:
            taken.add(w)
            out.append(w)
    return out


def typo(rng: random.Random, word: str, taken: set[str]) -> str:
    """One-letter substitution at an interior position (keeps the
    capitalized-word shape the name pattern needs)."""
    while True:
        i = rng.randrange(1, len(word))
        c = rng.choice("abcdefghijklmnopqrstuvwxyz")
        w = word[:i] + c + word[i + 1:]
        if w != word and w not in taken:
            taken.add(w)
            return w


def entity_families(rng: random.Random, n_words: int, per_word: int,
                    taken: set[str] | None = None) -> list[list[str]]:
    """``n_words * per_word`` families over balanced first/last pools: each
    first name and each last name heads exactly ``per_word`` families, so
    every token posting list has the same size whatever the seed. A family
    is [full name, initial form, one-letter typo]; the typo alternates
    between the first and the last name."""
    taken = set() if taken is None else taken
    first = pseudo_words(rng, n_words, taken)
    last = pseudo_words(rng, n_words, taken)
    step = 7 if n_words % 7 else 11
    fams = []
    for i in range(n_words):
        for t in range(per_word):
            f, lname = first[i], last[(i + t * step) % n_words]
            if len(fams) % 2:
                variant = f"{typo(rng, f, taken)} {lname}"
            else:
                variant = f"{f} {typo(rng, lname, taken)}"
            fams.append([f"{f} {lname}", f"{f[0]}. {lname}", variant])
    rng.shuffle(fams)
    return fams


def _text(rng: random.Random, draw) -> str:
    if rng.random() < 0.15:
        return rng.choice(TEMPLATES_PAIR).format(e=draw(), f=draw(), a=rng.choice(ABBREVS))
    return rng.choice(TEMPLATES).format(
        e=draw(), a=rng.choice(ABBREVS), i=rng.choice(IDENTS)
    )


def _rows(rng: random.Random, conv_prefix: str, lengths: list[int], draw) -> list[tuple]:
    rows = []
    for c, n in enumerate(lengths):
        conv_id = f"{conv_prefix}{c:07d}"
        for k in range(n):
            role = ROLES[k % 3]
            text = rng.choice(NULLISH) if rng.random() < NULL_SHARE else _text(rng, draw)
            tool = rng.choice(TOOLS) if role == "tool" else None
            ts = BASE_TS + dt.timedelta(minutes=c % 1440, seconds=17 * k)
            rows.append((conv_id, k, role, text, tool, ts))
    return rows


def _cycle_draw(rng: random.Random, pool: list[str]):
    """Draw surfaces so each appears equally often: shuffled passes over the
    pool (every surface is mentioned; per-surface counts differ by ≤ 1)."""
    state = {"order": [], "i": 0}

    def draw() -> str:
        if state["i"] >= len(state["order"]):
            state["order"] = pool[:]
            rng.shuffle(state["order"])
            state["i"] = 0
        state["i"] += 1
        return state["order"][state["i"] - 1]

    return draw


def wide_corpus(seed: int, n_turns: int, n_words: int, per_word: int) -> list[tuple]:
    """Long-tail vocabulary: ``n_words * per_word`` rare entity families,
    each with near-duplicate variants, in fixed-length conversations."""
    rng = random.Random(seed)
    fams = entity_families(rng, n_words, per_word)
    pool = [s for fam in fams for s in fam]
    lengths = [10] * (n_turns // 10)
    return _rows(rng, "w", lengths, _cycle_draw(rng, pool))


class LiveCorpus:
    """Bootstrap corpus plus a stream of batches for the maintain loop.

    Each batch mentions known surfaces, plus a fixed share of NOVEL surfaces:
    half are new variants of known families (they attach to existing
    entities), half belong to brand-new families (they mint entities)."""

    def __init__(self, seed: int, boot_turns: int, batch_turns: int,
                 n_words: int, per_word: int, novel_per_batch: int, max_batches: int):
        rng = random.Random(seed)
        self.seed = seed
        self.batch_turns = batch_turns
        self.novel_per_batch = novel_per_batch
        taken: set[str] = set()
        self.families = entity_families(rng, n_words, per_word, taken)
        self.known = [s for fam in self.families for s in fam]
        n_new = novel_per_batch * max_batches // 2 + 1
        # brand-new families come from separate pools, so they share no
        # token with the bootstrap vocabulary and mint new entities
        self.fresh = entity_families(rng, n_new // 2 + 1, 2, taken)
        self.attach = [
            f"{fam[0].split()[0]} {typo(rng, fam[0].split()[1], taken)}"
            for fam in self.families[:n_new]
        ]
        self.boot = _rows(rng, "b", [10] * (boot_turns // 10),
                          _cycle_draw(rng, self.known))

    def batch(self, step: int) -> list[tuple]:
        rng = random.Random(self.seed * 1_000_003 + step)
        half = self.novel_per_batch // 2
        novel = self.attach[step * half:(step + 1) * half] + [
            fam[0] for fam in self.fresh[step * half:(step + 1) * half]
        ]
        known = _cycle_draw(rng, self.known)
        queue = list(novel)

        def draw() -> str:
            return queue.pop() if queue else known()

        return _rows(rng, f"s{step:03d}_", [10] * (self.batch_turns // 10), draw)


def write_parquet_dir(rows: list[tuple], path: str, n_files: int) -> None:
    """Write transcript rows as ``n_files`` parquet files under ``path``, so
    the first scan gets one task per file."""
    os.makedirs(path)
    step = -(-len(rows) // n_files)
    for i in range(n_files):
        write_parquet(rows[i * step:(i + 1) * step], os.path.join(path, f"part-{i:05d}.parquet"))


def write_parquet(rows: list[tuple], path: str) -> None:
    """Write transcript rows as one parquet file (pyarrow, no Spark): the
    only thing the engine receives from the generator."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    utc = dt.timezone.utc
    conv, idx, role, text, tool, ts = (list(c) for c in zip(*rows))
    table = pa.table({
        "conv_id": pa.array(conv, pa.string()),
        "turn_idx": pa.array(idx, pa.int32()),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array([t.replace(tzinfo=utc) for t in ts], pa.timestamp("us", tz="UTC")),
    })
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
