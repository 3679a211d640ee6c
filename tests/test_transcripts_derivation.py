"""Derivation-twin guards for the r07 optimization round.

The Spark-side ``transcripts()`` now partitions its row_number window by
the ``conv_id`` expression (one shuffle for every downstream
per-conversation op) while the frozen oracle SQL partitions by
``user_id``. The two are identical exactly when ``user_id -> conv_id``
is injective — ``lpad(user_id, 6, '0')`` truncates at 10^6, so the test
pins the bound on the driver data AND compares the derivations directly.

``probes()`` now emits the three UNION ALL branches through one
array+explode pass; the test pins multiset equality against the literal
3-branch translation.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from kgfarm_spark.sources.transcripts import load_table, probes, transcripts

SF = "/root/testdata/sf0.01"


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def test_user_id_conv_id_injective(spark):
    ev = load_table(spark, SF, "events")
    row = ev.agg(
        F.min("user_id").alias("mn"),
        F.max("user_id").alias("mx"),
        F.count_distinct("user_id").alias("du"),
    ).first()
    # lpad(..., 6, '0') truncates at 10^6 and '-' breaks zero-padding:
    # the conv_id-partitioned derivation window is only valid below that
    assert row["mn"] >= 0
    assert row["mx"] < 1_000_000
    dconv = (
        ev.select(
            F.concat(
                F.lit("conv_"), F.lpad(F.col("user_id").cast("string"), 6, "0")
            ).alias("c")
        )
        .agg(F.count_distinct("c").alias("dc"))
        .first()["dc"]
    )
    assert dconv == row["du"]


def test_transcripts_matches_user_id_partitioned_twin(spark):
    ev = load_table(spark, SF, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    twin = ev.select(
        F.concat(F.lit("conv_"), F.lpad(F.col("user_id").cast("string"), 6, "0")).alias(
            "conv_id"
        ),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_type").isin("click", "view"), "user")
        .when(F.col("event_type") == "purchase", "assistant")
        .when(F.col("event_type") == "signup", "system")
        .otherwise("tool")
        .alias("role"),
        F.concat(F.col("event_type"), F.lit(":"), F.col("props")).alias("text"),
        F.when(F.col("event_type") == "error", "code")
        .when(F.col("event_type") == "purchase", "search")
        .alias("tool"),
        F.col("ts"),
    )
    assert _rows(transcripts(spark, SF)) == _rows(twin)


def test_probes_matches_three_branch_union(spark):
    t = transcripts(spark, SF)
    shifted = t.filter(F.col("turn_idx") % 7 == 3).select(
        "conv_id",
        (F.col("ts") + F.expr("INTERVAL 37 MINUTE")).alias("query_ts"),
        F.concat(
            F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string"), F.lit("#shift")
        ).alias("probe_id"),
    )
    tie = t.filter(F.col("turn_idx") % 13 == 2).select(
        "conv_id",
        F.col("ts").alias("query_ts"),
        F.concat(
            F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string"), F.lit("#tie")
        ).alias("probe_id"),
    )
    miss = t.filter(F.col("turn_idx") % 31 == 5).select(
        F.lit("conv_miss").alias("conv_id"),
        F.col("ts").alias("query_ts"),
        F.concat(
            F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string"), F.lit("#miss")
        ).alias("probe_id"),
    )
    union = shifted.unionByName(tie).unionByName(miss)
    assert _rows(probes(spark, SF)) == _rows(union)


def test_probes_schema_matches_union_schema(spark):
    p = probes(spark, SF)
    assert [f.name for f in p.schema.fields] == ["conv_id", "query_ts", "probe_id"]
    assert [f.dataType.simpleString() for f in p.schema.fields] == [
        "string",
        "timestamp_ntz",
        "string",
    ]


def _events(spark, path, user_ids):
    import datetime as dt

    spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1, 0, i), uid, "click", 1.0, "p")
            for i, uid in enumerate(user_ids)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, "
        "props string",
    ).write.parquet(f"{path}/events.parquet")
    return str(path)


@pytest.mark.parametrize("user_ids", [[100_000, 1_000_000], [-1, 7]], ids=["10^6", "negative"])
def test_transcripts_rejects_user_id_out_of_range(spark, tmp_path, user_ids):
    """lpad(user_id, 6, '0') maps 1000000 and 100000 to the same conv_id,
    which would merge two users into one turn_idx sequence: such an id
    raises, naming user_id."""
    with pytest.raises(Exception, match="user_id"):
        transcripts(spark, _events(spark, tmp_path, user_ids)).collect()


def test_transcripts_conv_id_in_range(spark, tmp_path):
    sf = _events(spark, tmp_path, [0, 42, 999_999, None])
    got = {r["conv_id"] for r in transcripts(spark, sf).collect()}
    assert got == {None, "conv_000000", "conv_000042", "conv_999999"}


def test_plan_cache_releases_a_dead_session():
    """The plan memo must not keep a session alive: once nothing else
    references a session, its entry goes, even though a cached frame
    references its own session."""
    import gc
    import types
    import weakref

    from kgfarm_spark.sources.transcripts import _PLAN_CACHE, _cached_plan

    class _Session:  # weakref-able stand-in for a SparkSession
        pass

    session = _Session()
    frame = types.SimpleNamespace(_jdf=object(), _session=session)
    assert _cached_plan(session, ("dir", "t"), lambda: frame) is frame
    assert any(isinstance(k, _Session) for k in list(_PLAN_CACHE))
    alive = weakref.ref(session)
    del session, frame
    gc.collect()
    assert alive() is None
    assert not any(isinstance(k, _Session) for k in list(_PLAN_CACHE))
