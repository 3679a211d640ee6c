"""Window feature ops: sessionize boundaries, backfill leakage property,
determinism across parallelism levels (SURVEY.md §5.2 items 3-4)."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from kgfarm_spark.operators.windows import backfill_features, sessionize
from kgfarm_spark.sources.datagen import gen_transcripts

T0 = dt.datetime(2024, 1, 1)


def ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


def test_sessionize_boundaries(spark):
    df = spark.createDataFrame(
        [
            ("a", 0, ts(0)), ("a", 1, ts(10)), ("a", 2, ts(50)),  # 40min gap → new
            ("a", 3, ts(55)), ("b", 0, ts(0)),
        ],
        "conv_id string, turn_idx int, ts timestamp",
    ).withColumn("role", F.lit("user")).withColumn("text", F.lit("x")).withColumn("tool", F.lit(None).cast("string"))
    out = {(r["conv_id"], r["turn_idx"]): r["session_id"]
           for r in sessionize(df, gap="30 MINUTE").collect()}
    assert out[("a", 0)] == 0 and out[("a", 1)] == 0
    assert out[("a", 2)] == 1 and out[("a", 3)] == 1
    assert out[("b", 0)] == 0


def test_sessionize_exact_gap_not_new(spark):
    """Boundary uses strict > gap — a gap of exactly 30min stays in-session."""
    df = spark.createDataFrame(
        [("a", 0, ts(0), "user", "x", None), ("a", 1, ts(30), "user", "x", None)],
        "conv_id string, turn_idx int, ts timestamp, role string, text string, tool string",
    )
    out = sessionize(df, gap="30 MINUTE").collect()
    assert {r["session_id"] for r in out} == {0}


def test_backfill_leakage_free(spark):
    """north_rule property: features at turn k never change when all turns
    with ts > ts_k are deleted."""
    t = gen_transcripts(spark, n_turns=2000, n_convs=20, seed=7)
    full = backfill_features(t)
    conv = t.select("conv_id").first()["conv_id"]
    cut_row = t.filter(F.col("conv_id") == conv).orderBy("turn_idx").collect()
    cut_ts = cut_row[len(cut_row) // 2]["ts"]
    trimmed = backfill_features(t.filter(F.col("ts") <= F.lit(cut_ts)))
    cols = ["turns_so_far", "tool_calls_so_far", "text_len_sum", "user_turns_so_far"]
    a = full.filter((F.col("conv_id") == conv) & (F.col("ts") <= F.lit(cut_ts))).orderBy("turn_idx")
    b = trimmed.filter(F.col("conv_id") == conv).orderBy("turn_idx")
    assert [tuple(r[c] for c in cols) for r in a.collect()] == [
        tuple(r[c] for c in cols) for r in b.collect()
    ]


def test_datagen_deterministic_across_parallelism(spark):
    """Same seed → identical table at 2 vs 8 partitions (SURVEY §5.2.4)."""
    a = gen_transcripts(spark, n_turns=5000, n_convs=50, seed=3, partitions=2)
    b = gen_transcripts(spark, n_turns=5000, n_convs=50, seed=3, partitions=8)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_datagen_invariants(spark):
    t = gen_transcripts(spark, n_turns=5000, n_convs=50, seed=3)
    # unique (conv_id, turn_idx)
    assert t.groupBy("conv_id", "turn_idx").count().filter("count > 1").count() == 0
    # ts strictly increasing per conv (gaps are ≥5s)
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    bad = t.withColumn("prev", F.lag("ts").over(w)).filter(
        F.col("prev").isNotNull() & (F.col("ts") <= F.col("prev"))
    )
    assert bad.count() == 0
    # skew exists: hottest conv ≫ median conv
    sizes = t.groupBy("conv_id").count().toPandas()["count"]
    assert sizes.max() > 5 * sizes.median()


def test_flagship_hash_invariant_under_partitioning(spark):
    """North-rule determinism: the flagship result's order-insensitive
    checksum must be identical regardless of input partitioning (proxy
    for identical output at different cluster sizes)."""
    from kgfarm_spark.operators.backfill import backfill_asof_fused
    from kgfarm_spark.plans.lineage import feature_hash
    from kgfarm_spark.sources.datagen import gen_probes, gen_transcripts

    t = gen_transcripts(spark, n_turns=3000, n_convs=20, seed=13)
    p = gen_probes(spark, t)
    h = [
        feature_hash(
            backfill_asof_fused(t.repartition(n), p.repartition(m), tolerance="1 DAY")
        )
        for n, m in ((3, 2), (17, 9))
    ]
    assert h[0] == h[1]


def test_windows_review_regressions(spark):
    """Review findings: non-positive bucket sizes raise at call time
    (negatives inverted the prefix carry — temporal leakage); emitted-
    name collisions raise instead of duplicating columns."""
    from kgfarm_spark.operators.windows import (
        backfill_features,
        rolling_aggregates,
        sessionize,
    )
    from tests.conftest import SF_SMOKE
    from kgfarm_spark.sources.transcripts import transcripts

    t = transcripts(spark, SF_SMOKE).limit(50)
    with pytest.raises(ValueError, match=">= 1"):
        backfill_features(t, max_turns_per_task=-100).collect()
    with pytest.raises(ValueError, match=">= 1"):
        sessionize(t, max_turns_per_task=0).collect()
    with pytest.raises(ValueError, match="collide"):
        backfill_features(backfill_features(t))
    with pytest.raises(ValueError, match="collide"):
        backfill_features(rolling_aggregates(t))
    with pytest.raises(ValueError, match="collide"):
        sessionize(sessionize(t))


@pytest.mark.parametrize("max_turns_per_task", [None, 100], ids=["plain", "bucketed"])
def test_sessionize_bad_gap_names_the_argument(spark, max_turns_per_task):
    """``gap`` is spliced into an INTERVAL literal: a spec the interval
    parser rejects is a ValueError naming ``gap``, raised before any job."""
    df = spark.createDataFrame(
        [("a", 0, ts(0), "user", "x", None)],
        "conv_id string, turn_idx int, ts timestamp, role string, text string, tool string",
    )
    sc = spark.sparkContext
    group = f"sessionize-bad-gap-{max_turns_per_task}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="gap"):
            sessionize(df, gap="30 fortnights", max_turns_per_task=max_turns_per_task)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
