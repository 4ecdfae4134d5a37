"""Correctness gates. Each returns (attempted, failed): items checked and
items whose output was missing, duplicated or different from a reference
the benchmark computes itself over the same input."""

from __future__ import annotations

from pyspark.sql import functions as F

from realtime_fraud_detection_spark import pipeline as P
from realtime_fraud_detection_spark.sources.kafka import parse_transactions

import data

KEY = "transaction_id"


def _row_json(df):
    return F.to_json(F.struct(*[c for c in df.columns if c != "batch_id"]))


def _digest(df, tag: str):
    """(tag, two independent 64/32-bit hashes of each whole row): summed per
    tag, equal digests mean equal row multisets."""
    j = _row_json(df)
    return df.select(
        F.lit(tag).alias("t"),
        F.xxhash64(j).cast("decimal(38,0)").alias("h1"),
        F.hash(j).cast("decimal(38,0)").alias("h2"),
    )


def _bad_ids(out, ref):
    """Keys whose output rows are missing, duplicated, unexpected or not
    equal to the reference row."""
    o = out.select(KEY, F.xxhash64(_row_json(out)).alias("h"))
    o = o.groupBy(KEY).agg(F.count("*").alias("n"), F.min("h").alias("h"))
    r = ref.select(KEY, F.xxhash64(_row_json(ref)).alias("rh"))
    return (
        o.join(r, KEY, "full_outer")
        .filter(
            F.col("n").isNull() | F.col("rh").isNull() | (F.col("n") != 1) | (F.col("h") != F.col("rh"))
        )
        .select(KEY)
    )


def compare(pairs: dict) -> set:
    """``{name: (output, reference)}`` -> keys of failing rows. One job sums
    row digests per side; only on a mismatch are rows joined by key."""
    parts = [_digest(df, f"{name}/{side}") for name, dfs in pairs.items() for side, df in zip("or", dfs)]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    got = {r["t"]: (r["n"], r["s1"], r["s2"]) for r in u.groupBy("t").agg(
        F.count("*").alias("n"), F.sum("h1").alias("s1"), F.sum("h2").alias("s2")
    ).collect()}
    bad = set()
    for name, (out, ref) in pairs.items():
        if got.get(f"{name}/o") != got.get(f"{name}/r"):
            bad |= {r[KEY] for r in _bad_ids(out, ref).collect()}
    return bad


def scoring(spark, users, merchants, seg) -> tuple[int, int]:
    """Every generated transaction appears exactly once in each
    row-preserving sink (enriched, features), and enriched rows, feature
    rows and alerts equal a batch ``score_transactions`` over the same wire
    files, row for row."""
    expected = seg.gate["events"]
    parsed = parse_transactions(spark.read.parquet(*seg.gate["files"]))
    ref = P.score_transactions(parsed, users, merchants).cache()
    try:
        out = seg.gate["out"]
        bad = compare(
            {
                "transaction_enriched": (spark.read.parquet(f"{out}/transaction_enriched"), ref),
                "transaction_features": (
                    spark.read.parquet(f"{out}/transaction_features"),
                    P.feature_vector(ref).drop("features"),
                ),
                "fraud_alerts": (spark.read.parquet(f"{out}/fraud_alerts"), P.fraud_alerts(ref)),
            }
        )
        # the reference itself holds each generated id once: the parse is
        # row-preserving, so a full count with no parse errors proves it
        n, errors = ref.agg(F.count("*"), F.sum(F.col("is_parse_error").cast("int"))).first()
    finally:
        ref.unpersist()
    return expected, len(bad) + abs(expected - n) + (errors or 0)


def velocity(out, ref) -> tuple[int, int]:
    """Streaming rolling velocity ``out`` equals ``ref``, the
    ``rolling_velocity_batch`` of the same events, row for row."""
    return ref.count(), len(compare({"velocity": (out, ref)}))


def dedup(docs, clusters) -> tuple[int, int]:
    """Every document's cluster equals the exhaustive reference's."""
    ref = data.exact_clusters(docs)
    got = dict(zip(clusters["doc"].tolist(), clusters["cluster"].tolist()))
    return len(ref), sum(got.get(d) != c for d, c in ref.items()) + len(set(got) - set(ref))
