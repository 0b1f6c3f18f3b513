"""Output checks: an order-insensitive triple hash and per-turn text equality."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# inputs the engine maps to NULL; the generator only emits these three forms
NULLISH_TEXT = ["", "-", "none", "null"]


def triple_hash(triples: DataFrame) -> str:
    """Multiset hash of (subj, pred, obj): row count plus the sums of two
    independent 64-bit row hashes. Independent of row and file order, and a
    duplicated or missing triple changes it."""
    key = [F.col("subj"), F.col("pred"), F.col("obj")]
    row = triples.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*key).cast("decimal(38,0)")).alias("a"),
        F.sum(F.hash(*key).cast("decimal(38,0)")).alias("b"),
    ).first()
    return f"{row['n']}:{int(row['a'] or 0):x}:{int(row['b'] or 0):x}"


def text_failures(triples: DataFrame, turns: DataFrame) -> int:
    """Turns whose text did not survive: every input turn with a non-null
    text must carry exactly one ``has_text_VALUE`` literal equal to it, and a
    null turn none. Turns are keyed by the engine's documented turn URI,
    ``kg:Turn_2_<conv_id>_<turn_idx>``."""
    lit = triples.filter(F.col("pred") == "has_text_VALUE").select(
        F.col("subj").alias("attr"), F.col("obj").alias("lit"))
    edge = triples.filter(F.col("pred") == "has_text").select(
        F.col("subj").alias("turn_uri"), F.col("obj").alias("attr"))
    got = edge.join(lit, "attr").groupBy("turn_uri").agg(
        F.count(F.lit(1)).alias("n"), F.first("lit").alias("lit"))
    want = turns.select(
        F.concat(F.lit("kg:Turn_2_"), "conv_id", F.lit("_"), F.col("turn_idx").cast("string"))
        .alias("turn_uri"),
        "text",
        (F.col("text").isNotNull()
         & ~F.lower(F.trim("text")).isin(*NULLISH_TEXT)).alias("has_text"),
    )
    j = want.join(got, "turn_uri", "full_outer")
    bad = j.filter(
        F.col("has_text").isNull()  # a literal for a turn that is not in the input
        | (F.col("has_text") & ~F.coalesce((F.col("n") == 1) & (F.col("lit") == F.col("text")), F.lit(False)))
        | (~F.col("has_text") & F.col("n").isNotNull())
    )
    return bad.count()
