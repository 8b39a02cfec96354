"""Cohort-retention matrix sidecar: the correction algebra must keep
the merged matrix EXACTLY equal to a live recompute under any append
sequence — including late batches that move users into earlier cohorts
(the case no associative partial algebra can absorb)."""

import random

import pytest
from pyspark.sql import functions as F

from columnar_spark.operators.cohort import (
    append_cohort_batch,
    check_cohort_sidecar,
    load_cohort_matrix,
    write_cohort_sidecar,
)

SF = "/root/testdata/sf0.001"


def _matrix_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _live(spark, path):
    from columnar_spark.operators.cohort import pairs_from_events

    pairs = pairs_from_events(spark.read.parquet(path)).distinct()
    um = pairs.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        pairs.join(um, "user_id")
        .groupBy("cohort_day", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("active_users"))
    )


@pytest.fixture()
def events_table(spark, tmp_path):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    p = str(tmp_path / "events.parquet")
    return ev, p


@pytest.fixture(params=["driver", "executor"])
def fold_path(request, spark, monkeypatch):
    """Run an append test over BOTH fold paths. Yields how to hand a
    batch to append_cohort_batch: as a driver-local relation (what
    append_batch passes for a small batch — the driver fold) or as the
    distributed plan (the executor plan). Asserts the path each append
    took."""
    from columnar_spark.localrel import local_relation
    from columnar_spark.operators import cohort

    taken = []
    real = cohort._fold_on_driver

    def spy(*args):
        taken.append(real(*args))
        return taken[-1]

    monkeypatch.setattr(cohort, "_fold_on_driver", spy)
    if request.param == "driver":
        yield lambda b: local_relation(spark, b)
    else:
        yield lambda b: b
    assert taken and all(t == (request.param == "driver") for t in taken)


def test_build_load_and_check(spark, events_table):
    ev, p = events_table
    ev.write.parquet(p)
    write_cohort_sidecar(spark, p)
    got = load_cohort_matrix(spark, p)
    assert got is not None
    assert _matrix_rows(got) == _matrix_rows(_live(spark, p))
    assert check_cohort_sidecar(spark, p) == []


def test_append_with_cohort_moves_stays_exact(spark, events_table, fold_path):
    """Adversarial split: the FIRST batch holds the LATE half of every
    user's history, so later batches move most users' cohorts earlier —
    maximal correction traffic."""
    ev, p = events_table
    ev = ev.withColumn("__r", F.xxhash64("event_id") % 3)
    first = ev.filter(F.col("__r") == 0).drop("__r")
    batches = [ev.filter(F.col("__r") == i).drop("__r") for i in (1, 2)]
    # order the initial state by LATEST events (descending day bias):
    # take users' late events first so appends lower day0
    first.write.parquet(p)
    write_cohort_sidecar(spark, p)
    for b in batches:
        b.write.mode("append").parquet(p)
        append_cohort_batch(spark, p, fold_path(b))
        got = load_cohort_matrix(spark, p)
        assert got is not None, "sidecar went stale after its own append"
        assert _matrix_rows(got) == _matrix_rows(_live(spark, p))
    assert check_cohort_sidecar(spark, p) == []


def test_append_fuzz_random_splits(spark, events_table, fold_path):
    ev, p = events_table
    rng = random.Random(11)
    n_parts = 4
    ev = ev.withColumn("__r", F.abs(F.xxhash64("event_id", F.lit(rng.random()))) % n_parts)
    parts = [ev.filter(F.col("__r") == i).drop("__r") for i in range(n_parts)]
    parts[0].write.parquet(p)
    write_cohort_sidecar(spark, p)
    for b in parts[1:]:
        b.write.mode("append").parquet(p)
        append_cohort_batch(spark, p, fold_path(b))
    got = load_cohort_matrix(spark, p)
    assert _matrix_rows(got) == _matrix_rows(_live(spark, p))
    # duplicate replay of the last batch's PAIRS is absorbed by the
    # anti-join (all pairs already present -> no-op)
    append_cohort_batch(spark, p, fold_path(parts[-1]))
    got2 = load_cohort_matrix(spark, p)
    assert _matrix_rows(got2) == _matrix_rows(_live(spark, p))


def test_staleness_gate(spark, events_table):
    ev, p = events_table
    ev.write.parquet(p)
    write_cohort_sidecar(spark, p)
    # out-of-band append -> stale -> None
    ev.limit(50).write.mode("append").parquet(p)
    assert load_cohort_matrix(spark, p) is None
