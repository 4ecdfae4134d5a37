"""r14 shared-count-table parity: cm_partials(counts=) and
frequent_items_partials(counts=) must be BIT-IDENTICAL to the raw-event
forms — the count_brackets suite query builds both sketches (and the CM
probe list) from one exact (hour, item, cnt) pre-aggregation, so the
weighted-sum reformulation is only legal if it reproduces the raw builds
exactly (integer sums over the same multiset — order-free)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


def _events(spark):
    base = dt.datetime(2024, 3, 1, 0, 0, 0)
    rows = []
    for i in range(500):
        rows.append(
            (base + dt.timedelta(minutes=7 * i), (i * i) % 23 if i % 11 else None)
        )
    return spark.createDataFrame(rows, "ts timestamp_ntz, user_id bigint")


def _counts(ev):
    return (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("user_id").alias("item"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _sorted_rows(df):
    # MG sentinel rows carry item=NULL — sort on the repr so None compares
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_cm_partials_from_counts_bit_identical(spark):
    from realtime_fraud_detection_spark.operators.count_min import (
        cm_partials,
        merge_cm,
    )

    ev = _events(spark)
    raw_day = merge_cm(
        cm_partials(ev, "user_id", ts_col="ts", grain="hour"), "day"
    ).withColumnRenamed("day", "hour")
    shared_day = cm_partials(
        ev, "user_id", ts_col="ts", grain="day", counts=_counts(ev)
    )
    assert _sorted_rows(raw_day) == _sorted_rows(shared_day)


def test_frequent_items_partials_from_counts_bit_identical(spark):
    from realtime_fraud_detection_spark.operators.heavy_hitters import (
        frequent_items_partials,
    )

    ev = _events(spark)
    raw = frequent_items_partials(ev, "ts", "user_id", capacity=4)
    shared = frequent_items_partials(
        ev, "ts", "user_id", capacity=4, counts=_counts(ev)
    )
    assert _sorted_rows(raw) == _sorted_rows(shared)


def test_cm_partials_item_also_a_key(spark):
    """An item column that is also a key column must not emit a duplicate
    column: the result equals the build keyed on a copy of the item."""
    from realtime_fraud_detection_spark.operators.count_min import cm_partials

    ev = _events(spark)
    got = cm_partials(ev, "user_id", ts_col="ts", key_cols=["user_id"])
    want = cm_partials(
        ev.withColumn("k", F.col("user_id")), "user_id", ts_col="ts", key_cols=["k"]
    ).withColumnRenamed("k", "user_id")
    assert got.columns == want.columns
    assert _sorted_rows(got) == _sorted_rows(want)


def test_frequent_items_partials_from_counts_honours_grain(spark):
    """Hour-grain counts fed to a day-grain build give day partials, the
    same as the raw-event day build."""
    from realtime_fraud_detection_spark.operators.heavy_hitters import (
        frequent_items_partials,
    )

    ev = _events(spark)
    raw = frequent_items_partials(ev, "ts", "user_id", capacity=4, grain="day")
    shared = frequent_items_partials(
        ev, "ts", "user_id", capacity=4, grain="day", counts=_counts(ev)
    )
    assert _sorted_rows(raw) == _sorted_rows(shared)
