"""Hot-conversation scale path (VERDICT r02 'Wrong #2'): the per-key
order-bucket + prefix-carry decomposition must EQUAL the plain per-key
window output — including on a synthetic 100k-turn single conversation
(the pathological case the plain window serializes into one task)."""

from __future__ import annotations

import datetime as dt
import gc
import weakref

import pytest
from pyspark.sql import functions as F

from kgfarm_spark.operators.backfill import backfill_asof_fused
from kgfarm_spark.operators.windows import backfill_features
from kgfarm_spark.sources.datagen import gen_probes, gen_transcripts


def _frames_equal(a, b) -> bool:
    assert a.columns == sorted(a.columns) or set(a.columns) == set(b.columns)
    b = b.select(a.columns)
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_bucketed_backfill_equals_plain_on_100k_turn_conversation(spark):
    # skew=3 concentrates mass on conv 0: one conversation carries a large
    # share of the 100k turns — the exact straggler scenario
    t = gen_transcripts(spark, n_turns=100_000, n_convs=50, seed=7, skew=3.0)
    hottest = t.groupBy("conv_id").count().orderBy(F.desc("count")).first()
    assert hottest["count"] > 20_000  # the scenario is real

    plain = backfill_features(t)
    bucketed = backfill_features(t, max_turns_per_task=5_000)
    assert plain.columns == bucketed.columns
    assert _frames_equal(plain, bucketed)


def test_bucketed_backfill_null_text_and_tool_carry(spark):
    # Nulls crossing bucket boundaries: text_len_sum/avg/max must stay
    # NULL until the first non-null text, exactly like the window twin —
    # including when the whole FIRST bucket of a conversation is null text.
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(10):
        rows.append(
            (
                "c1",
                i,
                "user" if i % 2 == 0 else "assistant",
                None if i < 4 else f"text {i} {'x' * i}",
                "search" if i % 3 == 0 else None,
                base + dt.timedelta(minutes=i),
            )
        )
    rows.append(("c2", 0, "user", None, None, base))
    rows.append(("c2", 1, "assistant", "hi", None, base + dt.timedelta(minutes=1)))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    plain = backfill_features(df)
    bucketed = backfill_features(df, max_turns_per_task=3)
    assert _frames_equal(plain, bucketed)
    # spot-check: the all-null prefix really is NULL, not 0
    r = (
        bucketed.filter((F.col("conv_id") == "c1") & (F.col("turn_idx") == 3))
        .select("text_len_sum", "text_len_avg", "text_len_max")
        .first()
    )
    assert r["text_len_sum"] is None and r["text_len_avg"] is None and r["text_len_max"] is None


def test_fused_hot_guard_equals_plain(spark):
    t = gen_transcripts(spark, n_turns=40_000, n_convs=40, seed=11, skew=3.0)
    probes = gen_probes(spark, t)
    plain = backfill_asof_fused(t, probes, tolerance="1 DAY")
    guarded = backfill_asof_fused(
        t, probes, tolerance="1 DAY", hot_conv_turns=2_000, n_hot_buckets=16
    )
    assert plain.columns == guarded.columns
    assert _frames_equal(plain, guarded)
    # the guard actually engaged: at skew=3 some conversation exceeds the
    # threshold (otherwise this test degenerates to plain == plain)
    n_hot = (
        t.groupBy("conv_id").count().filter(F.col("count") >= 2_000).count()
    )
    assert n_hot >= 1


def test_fused_hot_guard_null_text_first_bucket(spark):
    """The null-text fixture of test_bucketed_backfill_null_text_and_tool_carry
    through the time-bucket cut: c1 is hot and its first bucket holds
    only NULL text, so a probe after the fourth turn must still read
    NULL text_len_sum/avg/max, equal to the guard-off output."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        (
            "c1",
            i,
            "user" if i % 2 == 0 else "assistant",
            None if i < 4 else f"text {i} {'x' * i}",
            "search" if i % 3 == 0 else None,
            base + dt.timedelta(minutes=i),
        )
        for i in range(10)
    ]
    rows.append(("c2", 0, "user", None, None, base))
    rows.append(("c2", 1, "assistant", "hi", None, base + dt.timedelta(minutes=1)))
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    probes = spark.createDataFrame(
        [("c1", base + dt.timedelta(minutes=m, seconds=30), f"p{m}") for m in range(10)]
        + [("c2", base, "q0")],
        "conv_id string, query_ts timestamp, probe_id string",
    )
    plain = backfill_asof_fused(t, probes)
    guarded = backfill_asof_fused(t, probes, hot_conv_turns=5, n_hot_buckets=4)
    assert _frames_equal(plain, guarded)
    r = guarded.filter(F.col("probe_id") == "p3").first()
    assert r["turns_so_far"] == 4
    assert r["text_len_sum"] is None and r["text_len_avg"] is None and r["text_len_max"] is None


_BACKFILL_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp, "
    "text_len int, turns_so_far bigint, tool_calls_so_far bigint, text_len_sum bigint, "
    "text_len_avg double, text_len_max int, user_turns_so_far bigint, "
    "assistant_turns_so_far bigint, tool_call_rate double"
)
_FUSED_SCHEMA = (
    "conv_id string, query_ts timestamp, probe_id string, matched_ts timestamp, "
    "turns_so_far bigint, tool_calls_so_far bigint, text_len_sum bigint, "
    "text_len_avg double, text_len_max bigint, user_turns_so_far bigint, "
    "assistant_turns_so_far bigint, tool_call_rate double"
)


@pytest.mark.parametrize(
    "build, schema",
    [
        (lambda t, p: backfill_features(t), _BACKFILL_SCHEMA),
        (lambda t, p: backfill_features(t, max_turns_per_task=3), _BACKFILL_SCHEMA),
        # ts is passed through, never read
        (
            lambda t, p: backfill_features(t.drop("ts")),
            _BACKFILL_SCHEMA.replace(" ts timestamp,", ""),
        ),
        (lambda t, p: backfill_asof_fused(t, p), _FUSED_SCHEMA),
        (lambda t, p: backfill_asof_fused(t, p, hot_conv_turns=50, n_hot_buckets=4), _FUSED_SCHEMA),
        (lambda t, p: backfill_asof_fused(t, p, hot_conv_turns="auto"), _FUSED_SCHEMA),
    ],
    ids=["backfill", "backfill-bucketed", "backfill-no-ts", "fused-off", "fused-on", "fused-auto"],
)
def test_output_schema(spark, build, schema):
    """Names, order and types of each backfill output (oracle parity casts
    text_len columns, so it does not pin them): text_len and text_len_max
    are int in backfill_features, text_len_max is bigint in the fused
    output."""
    t = gen_transcripts(spark, n_turns=600, n_convs=4, seed=5, skew=3.0)
    df = build(t, gen_probes(spark, t))
    assert ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema) == schema


def test_fused_hot_guard_no_hot_keys_is_identity(spark):
    t = gen_transcripts(spark, n_turns=2_000, n_convs=100, seed=3, skew=1.0)
    probes = gen_probes(spark, t)
    plain = backfill_asof_fused(t, probes, tolerance="1 DAY")
    guarded = backfill_asof_fused(t, probes, tolerance="1 DAY", hot_conv_turns=10**9)
    assert _frames_equal(plain, guarded)


def test_bucketed_max_task_rows_bounded(spark):
    """The point of the decomposition: no task sees more than ~bucket_turns
    rows of one conversation. Verified structurally — the cumulative window
    partitions by (key, bucket) and every (key, bucket) group is ≤
    bucket_turns rows because turn_idx is dense per key."""
    t = gen_transcripts(spark, n_turns=50_000, n_convs=20, seed=5, skew=3.0)
    tagged = t.withColumn("__ob", F.floor(F.col("turn_idx") / F.lit(2_000)).cast("int"))
    biggest_group = (
        tagged.groupBy("conv_id", "__ob").count().agg(F.max("count")).first()[0]
    )
    assert biggest_group <= 2_000
    # and the hot conversation did split into many buckets
    n_buckets_hot = (
        tagged.groupBy("conv_id")
        .agg(F.countDistinct("__ob").alias("nb"))
        .agg(F.max("nb"))
        .first()[0]
    )
    assert n_buckets_hot >= 5


def test_all_window_ops_hot_safe_variants_equal_plain(spark):
    """EVERY per-conv window op has a straggler-free variant pinned
    equal to the plain window on a skewed 30k-turn fixture: the one
    order-bucket cut (bounded reach for lag/lead, role transitions and
    rolling, bounded reach then bucket+carry for sessionize)."""
    from kgfarm_spark.operators.windows import (
        lag_lead_features,
        role_transitions,
        rolling_aggregates,
        sessionize,
    )

    t = gen_transcripts(spark, n_turns=30_000, n_convs=30, seed=13, skew=3.0)

    a = lag_lead_features(t, cols={"role": 2, "ts": 1})
    b = lag_lead_features(t, cols={"role": 2, "ts": 1}, max_turns_per_task=1_000)
    assert a.columns == b.columns
    assert _frames_equal(a, b)

    a = role_transitions(t)
    b = role_transitions(t, max_turns_per_task=1_000)
    assert a.columns == b.columns
    assert _frames_equal(a, b)

    a = sessionize(t, gap="30 MINUTE")
    b = sessionize(t, gap="30 MINUTE", max_turns_per_task=1_000)
    assert a.columns == b.columns
    assert _frames_equal(a, b)

    a = rolling_aggregates(t, n_turns=3)
    b = rolling_aggregates(t, n_turns=3, max_turns_per_task=1_000)
    assert a.columns == b.columns
    assert _frames_equal(a, b)


def _lag_lead(t, **kw):
    from kgfarm_spark.operators.windows import lag_lead_features

    return lag_lead_features(t, **kw)


def _role_transitions(t, **kw):
    from kgfarm_spark.operators.windows import role_transitions

    return role_transitions(t, **kw)


def _sessionize(t, **kw):
    from kgfarm_spark.operators.windows import sessionize

    return sessionize(t, gap="30 MINUTE", **kw)


def _rolling(t, **kw):
    from kgfarm_spark.operators.windows import rolling_aggregates

    return rolling_aggregates(t, n_turns=1, **kw)


_OPS = [backfill_features, _sessionize, _lag_lead, _role_transitions, _rolling]
_OP_IDS = ["backfill", "sessionize", "lag_lead", "role_transitions", "rolling"]


def _gappy_turns(spark):
    """Two conversations, one with a NULL key, whose ``turn_idx`` has gaps
    and one NULL: 7 turns each."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        (
            conv,
            i,
            "user" if k % 2 == 0 else "assistant",
            f"text {k}",
            "search" if k == 3 else None,
            base + dt.timedelta(minutes=10 * k + (90 if k > 2 else 0)),
        )
        for conv in (None, "c1")
        for k, i in enumerate([None, 0, 1, 3, 5, 6, 9])
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


@pytest.mark.parametrize("op", _OPS, ids=_OP_IDS)
def test_hot_variants_keep_null_key_turns(spark, op):
    """NULL conversation keys form one group in the plain window (and in
    the oracle SQL), and a NULL ``turn_idx`` sorts first in it; the cut
    must keep those turns and give them the same features (e.g. the
    previous NULL-key turn as the lag) across ``turn_idx`` gaps, with
    buckets of one turn, of two, and larger than any conversation."""
    t = _gappy_turns(spark)
    plain = op(t)
    for bucket in (1, 2, 100):
        guarded = op(t, max_turns_per_task=bucket)
        assert plain.columns == guarded.columns
        assert guarded.filter(F.col("conv_id").isNull()).count() == 7
        assert guarded.filter(F.col("turn_idx").isNull()).count() == 2
        assert _frames_equal(plain, guarded), bucket


@pytest.mark.parametrize("op", _OPS, ids=_OP_IDS)
def test_duplicate_turn_idx_fails_loudly(spark, op):
    """A repeated (key, turn_idx) leaves the turn order arbitrary: the
    plain window and the cut both fail the action that reads the
    features, naming the columns."""
    t = _gappy_turns(spark)
    dup = t.unionByName(t.filter((F.col("conv_id") == "c1") & (F.col("turn_idx") == 5)))
    for bucket in (None, 2):
        with pytest.raises(Exception, match=r"duplicate \(conv_id, turn_idx\)"):
            op(dup, max_turns_per_task=bucket).collect()


def test_rolling_ghost_rows_cross_bucket_boundary(spark):
    """Adversarial bucket size: B barely above the frame length, so almost
    every frame crosses a bucket boundary and takes its edge value."""
    from kgfarm_spark.operators.windows import rolling_aggregates

    t = gen_transcripts(spark, n_turns=2_000, n_convs=3, seed=17, skew=2.0)
    a = rolling_aggregates(t, n_turns=5)
    b = rolling_aggregates(t, n_turns=5, max_turns_per_task=7)
    assert _frames_equal(a, b)


def test_single_100k_turn_conversation_bucketed_equals_plain(spark):
    """The literal pathological case: ONE conversation with 100k turns.
    The plain window serializes it into one task; the bucketed path must
    produce identical output from 20 parallel buckets."""
    t = gen_transcripts(spark, n_turns=100_000, n_convs=1, seed=23, skew=1.0)
    assert t.select("conv_id").distinct().count() == 1
    plain = backfill_features(t)
    bucketed = backfill_features(t, max_turns_per_task=5_000)
    assert _frames_equal(plain, bucketed)


def test_fused_hot_guard_probe_in_activity_gap(spark):
    """ADVICE r03 (high): a probe whose ts falls in a turn-FREE fixed-width
    time bucket of a hot conversation (an activity gap spanning several
    buckets) must still inherit the prefix state from earlier buckets.
    Before the carry grid densification, such a probe found no carry row
    (the carry was grouped from observed transcript rows only) and was
    reported as no-match with nulled features."""
    base = dt.datetime(2024, 5, 1)
    rows = []
    for i in range(10):  # burst 1: minutes 0..9
        rows.append(("hot", i, "user" if i % 2 == 0 else "assistant",
                     f"a{i}", None, base + dt.timedelta(minutes=i)))
    for i in range(10):  # burst 2: minutes 50..59 — 40-minute gap between
        rows.append(("hot", 10 + i, "assistant", f"b{i}",
                     "code" if i % 2 else None, base + dt.timedelta(minutes=50 + i)))
    rows.append(("cold", 0, "user", "hi", None, base))
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    probes = spark.createDataFrame(
        [
            ("hot", base + dt.timedelta(minutes=30), "gap_probe"),
            ("hot", base + dt.timedelta(minutes=55), "late_probe"),
            ("cold", base + dt.timedelta(minutes=5), "cold_probe"),
        ],
        "conv_id string, query_ts timestamp, probe_id string",
    )
    # 12 buckets over a 59-minute span → ~5-minute buckets; the gap probe
    # at minute 30 lands in a bucket (and neighborhood) with zero turns
    plain = backfill_asof_fused(t, probes)
    guarded = backfill_asof_fused(t, probes, hot_conv_turns=5, n_hot_buckets=12)
    assert _frames_equal(plain, guarded)
    r = guarded.filter(F.col("probe_id") == "gap_probe").first()
    assert r["turns_so_far"] == 10
    assert r["matched_ts"] == base + dt.timedelta(minutes=9)
    # and with a tolerance that the gap violates, the probe nulls out
    tol = backfill_asof_fused(
        t, probes, tolerance="10 MINUTE", hot_conv_turns=5, n_hot_buckets=12
    )
    tol_plain = backfill_asof_fused(t, probes, tolerance="10 MINUTE")
    assert _frames_equal(tol_plain, tol)
    assert tol.filter(F.col("probe_id") == "gap_probe").first()["matched_ts"] is None


def test_fused_hot_guard_auto_mode(spark):
    """VERDICT r03 next-step #7: hot_conv_turns='auto' engages the guard
    iff some conversation holds more than ~1/n_cores of the rows (the
    measured crossover, BENCH.md §2c) — no hand-tuning."""
    from kgfarm_spark.operators.backfill import _auto_hot_threshold

    hot_t = gen_transcripts(spark, n_turns=20_000, n_convs=20, seed=31, skew=3.0)
    uni_t = gen_transcripts(spark, n_turns=2_000, n_convs=100, seed=31, skew=1.0)
    assert _auto_hot_threshold(hot_t, "conv_id") is not None
    assert _auto_hot_threshold(uni_t, "conv_id") is None

    jvm = spark._jvm
    fmt = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    probes = gen_probes(spark, hot_t)
    plain = backfill_asof_fused(hot_t, probes, tolerance="1 DAY")
    auto = backfill_asof_fused(hot_t, probes, tolerance="1 DAY", hot_conv_turns="auto")
    assert _frames_equal(plain, auto)
    assert "__ob" in auto._jdf.queryExecution().explainString(fmt), (
        "auto mode must engage the bucketed window on the pathological table"
    )

    up = gen_probes(spark, uni_t)
    off = backfill_asof_fused(uni_t, up, tolerance="1 DAY", hot_conv_turns="auto")
    assert "__ob" not in off._jdf.queryExecution().explainString(fmt), (
        "auto mode must stay on the plain single-window plan for uniform data"
    )


def test_fused_hot_guard_rejects_unknown_string(spark):
    """ADVICE r04: a typo like 'Auto' used to fall through to the numeric
    _hot_bounds path and die deep in Spark — must be an immediate
    ValueError naming the accepted values."""
    t = gen_transcripts(spark, n_turns=200, n_convs=5, seed=2)
    probes = gen_probes(spark, t)
    with pytest.raises(ValueError, match="'auto'"):
        backfill_asof_fused(t, probes, hot_conv_turns="Auto")


def test_auto_hot_threshold_stays_off_on_moderate_skew(spark):
    """VERDICT r04 #6: the auto crossover optimizes the straggler bound,
    so on MODERATE skew (largest conversation well under a core's share
    of rows) the guard must stay off — the plain window's parallelism
    already hides it and the guard's extra shuffles would be pure cost."""
    from kgfarm_spark.operators.backfill import _auto_hot_threshold

    mod_t = gen_transcripts(spark, n_turns=20_000, n_convs=200, seed=5, skew=1.5)
    from pyspark.sql import functions as F

    top = (
        mod_t.groupBy("conv_id").count().agg(F.max("count")).first()[0]
    )
    n_cores = spark.sparkContext.defaultParallelism
    assert top < 20_000 / n_cores, "fixture must actually be moderate-skew"
    assert _auto_hot_threshold(mod_t, "conv_id") is None


def test_rolling_cut_bucket_not_exceeding_frame(spark):
    """A bucket no larger than the rolling frame: a frame spans up to
    three buckets, and every row of it is an edge row of its bucket, so
    the cut still equals the plain window."""
    from kgfarm_spark.operators.windows import rolling_aggregates

    t = gen_transcripts(spark, n_turns=100, n_convs=2, seed=1)
    plain = rolling_aggregates(t, n_turns=5)
    for bucket in (5, 3):
        assert _frames_equal(plain, rolling_aggregates(t, n_turns=5, max_turns_per_task=bucket))


def test_fused_hot_guard_exact_ts_ties_at_bucket_boundaries(spark):
    """Adversarial ties: multiple turns share the SAME timestamp, and
    probes land at exactly those timestamps. Bucket id is a pure function
    of ts, so tied rows must share a bucket and the (ts, side, turn)
    ordering must survive the decomposition — inclusive backward
    semantics (probe at ts T sees all turns at T) included."""
    base = dt.datetime(2024, 3, 1)
    rows = []
    for i in range(60):
        # blocks of 4 turns share one timestamp -> heavy ties
        ts = base + dt.timedelta(minutes=i // 4)
        rows.append(("c1", i, "user" if i % 2 == 0 else "assistant",
                     f"t{i}", "code" if i % 5 == 0 else None, ts))
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    probe_rows = [
        ("c1", base + dt.timedelta(minutes=m), f"p{m}") for m in range(0, 15, 2)
    ]
    probes = spark.createDataFrame(
        probe_rows, "conv_id string, query_ts timestamp, probe_id string"
    )
    plain = backfill_asof_fused(t, probes, tolerance="1 DAY")
    guarded = backfill_asof_fused(
        t, probes, tolerance="1 DAY", hot_conv_turns=10, n_hot_buckets=7
    )
    assert _frames_equal(plain, guarded)
    # inclusive backward at a tie: the probe at minute 0 sees all 4 turns
    r = guarded.filter(F.col("probe_id") == "p0").first()
    assert r["turns_so_far"] == 4


def test_probe_pushdown_equals_plain_and_prunes_plan(spark):
    """probe_pushdown semi-joins the transcript side down to probed
    conversations before the union-window shuffle; features are
    conversation-local so the output must be IDENTICAL to the plain
    plan on the same probe frame, and the executed plan must carry a
    broadcast left-semi join (the map-side corpus reduction)."""
    t = gen_transcripts(spark, n_turns=20_000, n_convs=40, seed=23)
    all_probes = gen_probes(spark, t)
    sub = all_probes.filter(F.crc32(F.col("conv_id")) % 4 == 0)
    assert 0 < sub.select("conv_id").distinct().count() < 40

    plain = backfill_asof_fused(t, sub, tolerance="1 DAY")
    pushed = backfill_asof_fused(t, sub, tolerance="1 DAY", probe_pushdown=True)
    assert plain.columns == pushed.columns
    assert _frames_equal(plain, pushed)

    plan = pushed._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan, "pushdown must plan a left-semi reduction"
    assert "Broadcast" in plan, "the probe key set must broadcast"


def test_probe_heavy_skew_engages_guard_and_stays_exact(spark):
    """Review finding: a conversation skewed by a huge PROBE frame (few
    turns) must trip the auto guard — probe rows sit in the same window
    task — and the guarded output must equal the plain path exactly."""
    from pyspark.sql import functions as F

    from kgfarm_spark.operators.backfill import (
        _auto_hot_threshold,
        backfill_asof_fused,
    )

    turns = spark.createDataFrame(
        [(f"c{i % 20}", i, f"t {i}", "user", None)
         for i in range(200)],
        "conv_id string, turn_idx long, text string, role string, tool string",
    ).withColumn("ts", F.timestamp_seconds(F.col("turn_idx") * 60 + 1))
    # c0 gets a probe flood: 5000 probes vs 10 turns
    probes = spark.createDataFrame(
        [("c0", i) for i in range(5000)] + [(f"c{i % 20}", i) for i in range(100)],
        "conv_id string, n long",
    ).withColumn("query_ts", F.timestamp_seconds(F.col("n") % 9000 + 30))
    thr = _auto_hot_threshold(turns, "conv_id", probes.select("conv_id", "query_ts"))
    assert thr is not None  # probe flood detected
    p = probes.select("conv_id", "query_ts", "n")
    plain = backfill_asof_fused(turns, p, hot_conv_turns=None)
    guarded = backfill_asof_fused(turns, p, hot_conv_turns="auto")
    assert sorted(map(repr, plain.collect())) == sorted(map(repr, guarded.collect()))


def test_probe_feature_name_collision_raises(spark):
    from pyspark.sql import functions as F

    from kgfarm_spark.operators.backfill import backfill_asof_fused

    turns = spark.createDataFrame(
        [("c0", 0, "t", "user", None)],
        "conv_id string, turn_idx long, text string, role string, tool string",
    ).withColumn("ts", F.timestamp_seconds(F.lit(1)))
    probes = spark.createDataFrame(
        [("c0", 1.0)], "conv_id string, tool_call_rate double"
    ).withColumn("query_ts", F.timestamp_seconds(F.lit(2)))
    with pytest.raises(ValueError, match="collide"):
        backfill_asof_fused(turns, probes)


@pytest.mark.parametrize("guard", [None, 50, "auto"], ids=["off", "on", "auto"])
def test_fused_odd_probe_columns(spark, guard):
    """Probe columns are spliced into SQL text: a backtick in a name and a
    struct whose field name holds a space must pass through every guard
    path (``CAST(NULL AS struct<a b:int>)`` is not valid SQL), and each
    probe's features must equal the guard-off output for plain names."""
    t = gen_transcripts(spark, n_turns=600, n_convs=4, seed=5, skew=3.0)
    plain = gen_probes(spark, t)
    odd = plain.withColumn("p`id", F.col("probe_id")).withColumn(
        "s", F.struct(F.length("probe_id").alias("a b"))
    )
    features = [c for c in backfill_asof_fused(t, plain).columns if c not in plain.columns]
    want = {
        r["probe_id"]: tuple(r[c] for c in features)
        for r in backfill_asof_fused(t, plain, tolerance="1 DAY").collect()
    }
    got = backfill_asof_fused(
        t, odd, tolerance="1 DAY", hot_conv_turns=guard, n_hot_buckets=4
    )
    assert got.columns == ["conv_id", *[c for c in odd.columns if c != "conv_id"], *features]
    rows = got.collect()
    assert len(rows) == len(want)
    for r in rows:
        assert r["p`id"] == r["probe_id"] and r["s"]["a b"] == len(r["probe_id"])
        assert tuple(r[c] for c in features) == want[r["probe_id"]]


@pytest.mark.parametrize("guard", [2, "auto"], ids=["on", "auto"])
def test_fused_hot_guard_backtick_key(spark, guard):
    """An engaged hot guard quotes the key: a key column named ``c`id``
    gives the output of a plain-named copy."""
    from kgfarm_spark.operators.backfill import _auto_hot_threshold

    turns = spark.createDataFrame(
        [("a", i, f"t {i}", ("user", "assistant")[i % 2], "s" if i == 3 else None)
         for i in range(6)],
        "conv_id string, turn_idx long, text string, role string, tool string",
    ).withColumn("ts", F.timestamp_seconds(F.col("turn_idx") * 60))
    probes = spark.createDataFrame([("a", 200)], "conv_id string, s long").select(
        "conv_id", F.timestamp_seconds("s").alias("query_ts")
    )
    odd_t = turns.withColumnRenamed("conv_id", "c`id")
    odd_p = probes.withColumnRenamed("conv_id", "c`id")
    if guard == "auto":
        assert _auto_hot_threshold(odd_t, "c`id", odd_p) is not None
    kw = {"hot_conv_turns": guard, "n_hot_buckets": 3}
    want = backfill_asof_fused(turns, probes, **kw)
    got = backfill_asof_fused(odd_t, odd_p, key="c`id", **kw)
    assert got.columns == ["c`id", *want.columns[1:]]
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def _jobs_during(spark, group, fn):
    """Run ``fn()`` under a fresh job group; return (result or exception,
    ids of the Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        try:
            out = fn()
        except Exception as e:  # returned for the caller to assert on
            out = e
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize(
    "kwargs, match",
    [
        ({"hot_conv_turns": True}, "hot_conv_turns"),
        ({"hot_conv_turns": 0}, "hot_conv_turns"),
        ({"hot_conv_turns": 2.5}, "hot_conv_turns"),
        ({"n_hot_buckets": 0}, "n_hot_buckets"),
        ({"n_hot_buckets": True}, "n_hot_buckets"),
        ({"hot_conv_turns": "auto", "n_hot_buckets": -1}, "n_hot_buckets"),
    ],
    ids=["turns-bool", "turns-zero", "turns-float", "buckets-zero", "buckets-bool",
         "auto-buckets-negative"],
)
def test_fused_rejects_bad_guard_args_before_any_job(spark, kwargs, match):
    """``hot_conv_turns=True`` used to die as an AnalysisException
    ``(__n >= true)`` and ``n_hot_buckets=0`` as a DIVIDE_BY_ZERO task
    failure; both are argument errors raised before any Spark job."""
    t = gen_transcripts(spark, n_turns=200, n_convs=5, seed=2)
    probes = gen_probes(spark, t)
    err, jobs = _jobs_during(
        spark, "fused-bad-args", lambda: backfill_asof_fused(t, probes, **kwargs)
    )
    assert isinstance(err, ValueError) and match in str(err), err
    assert jobs == []


def test_fused_name_clash_raises_before_auto_detection(spark):
    """A clashing probe frame fails fast: the 'auto' detection job never
    starts."""
    turns = spark.createDataFrame(
        [("c0", 0, "t", "user", None)],
        "conv_id string, turn_idx long, text string, role string, tool string",
    ).withColumn("ts", F.timestamp_seconds(F.lit(1)))
    probes = spark.createDataFrame(
        [("c0", 1)], "conv_id string, turns_so_far long"
    ).withColumn("query_ts", F.timestamp_seconds(F.lit(2)))
    err, jobs = _jobs_during(
        spark,
        "fused-clash",
        lambda: backfill_asof_fused(turns, probes, hot_conv_turns="auto"),
    )
    assert isinstance(err, ValueError) and "collide" in str(err), err
    assert jobs == []


def _reference_threshold(keys, n_cores):
    """Brute-force twin of the auto rule: every key group counted (NULL
    keys form one group), engage at a core's share of the rows."""
    counts = [r[0] for r in keys.groupBy(keys.columns[0]).count().select("count").collect()]
    if not counts:
        return None
    threshold = max(int(sum(counts) / n_cores), 2)
    return threshold if max(counts) >= threshold else None


def _parity_uniform(spark):
    return gen_transcripts(spark, n_turns=2_000, n_convs=100, seed=31, skew=1.0), None


def _parity_moderate(spark):
    t = gen_transcripts(spark, n_turns=20_000, n_convs=200, seed=5, skew=1.5)
    return t, gen_probes(spark, t)


def _parity_hot(spark):
    return gen_transcripts(spark, n_turns=20_000, n_convs=20, seed=31, skew=3.0), None


def _parity_probe_flood(spark):
    turns = spark.createDataFrame([(f"c{i % 20}",) for i in range(200)], "conv_id string")
    probes = spark.createDataFrame(
        [("c0",)] * 5000 + [(f"c{i % 20}",) for i in range(100)], "conv_id string"
    )
    return turns, probes


def _parity_null_hot(spark):
    # the NULL group (400 of 500 rows) is the only group over 500 / 8
    rows = [(None,)] * 400 + [(f"c{i % 20}",) for i in range(100)]
    return spark.createDataFrame(rows, "conv_id string"), None


def _parity_int_uniform(spark):
    return spark.range(5_000).selectExpr("CAST(id % 500 AS INT) AS conv_id"), None


def _parity_int_hot(spark):
    t = spark.range(5_000).selectExpr("IF(id % 3 = 0, 0L, id) AS conv_id")
    return t, spark.range(100).selectExpr("id AS conv_id")


def _parity_empty(spark):
    e = spark.createDataFrame([], "conv_id string")
    return e, e


def _parity_double(spark):
    return spark.range(1_000).selectExpr("CAST(id % 100 AS DOUBLE) AS conv_id"), None


def _parity_collated(spark):
    t = spark.range(1_000).selectExpr(
        "CAST(concat('c', id % 100) AS STRING COLLATE UTF8_LCASE) AS conv_id"
    )
    return t, None


@pytest.mark.parametrize(
    "build, decided_by",
    [
        (_parity_uniform, "sketch"),
        (_parity_moderate, "sketch"),
        (_parity_hot, "exact"),
        (_parity_probe_flood, "exact"),
        (_parity_null_hot, "exact"),
        (_parity_int_uniform, "sketch"),
        (_parity_int_hot, "exact"),
        (_parity_empty, "sketch"),
        (_parity_double, "exact"),
        (_parity_collated, "exact"),
    ],
    ids=lambda v: v.__name__.removeprefix("_parity_") if callable(v) else v,
)
def test_auto_threshold_matches_brute_force(spark, monkeypatch, build, decided_by):
    """The count-min certificate may only ever answer None, and only when
    the exact rule would; every other input reaches the exact aggregate.
    Floating-point and collated keys skip the certificate: byte equality
    is not their grouping equality."""
    from kgfarm_spark.operators import backfill

    exact_calls = []
    real_exact = backfill._exact_hot_threshold

    def spy(*args):
        exact_calls.append(args)
        return real_exact(*args)

    monkeypatch.setattr(backfill, "_exact_hot_threshold", spy)
    transcripts, probes = build(spark)
    keys = transcripts.select("conv_id")
    if probes is not None:
        keys = keys.unionByName(probes.select("conv_id"))
    n_cores = max(spark.sparkContext.defaultParallelism, 2)
    want = _reference_threshold(keys, n_cores)

    # cold, then warm from the memoized verdict: same answer, same path
    for run in ("cold", "warm"):
        exact_calls.clear()
        got = backfill._auto_hot_threshold(transcripts, "conv_id", probes)
        assert got == want, run
        assert ("exact" if exact_calls else "sketch") == decided_by, run


def test_auto_detection_is_one_job_in_the_callers_group(spark, tmp_path):
    """On moderate skew 'auto' launches ONE Spark job during the call (the
    certificate scan; the exact aggregate it replaces took three), and
    that job counts under the caller's job group although it runs on a
    background thread. Int and None thresholds launch none."""
    t = gen_transcripts(spark, n_turns=20_000, n_convs=200, seed=5, skew=1.5)
    t.write.parquet(str(tmp_path / "t"))
    t = spark.read.parquet(str(tmp_path / "t"))
    probes = gen_probes(spark, t)

    for hot, want_jobs in (("auto", 1), (None, 0), (5_000, 0)):
        out, jobs = _jobs_during(
            spark,
            f"fused-auto-jobs-{hot}",
            lambda: backfill_asof_fused(t, probes, tolerance="1 DAY", hot_conv_turns=hot),
        )
        assert not isinstance(out, Exception), out
        assert len(jobs) == want_jobs, (hot, jobs)


def _parquet(spark, df, path):
    df.write.parquet(str(path))
    return spark.read.parquet(str(path))


def _auto(t, probes):
    return backfill_asof_fused(t, probes, tolerance="1 DAY", hot_conv_turns="auto")


def _input_records(spark, jobs) -> int:
    """Rows the stages of ``jobs`` read from their sources."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    stages = {s for j in jobs for s in sc.statusTracker().getJobInfo(j).stageIds}
    return sum(jsc.statusStore().lastStageAttempt(s).inputRecords() for s in stages)


def test_auto_decision_is_memoized_per_input_snapshot(spark, tmp_path):
    """The first 'auto' call over parquet frames runs the one certificate
    job; a second call over the same frames reads the verdict from the
    memo and runs no job. Appending a file to the transcript directory
    and reading it again is a new snapshot: the certificate runs again
    over every turn and probe. The output stays the guard-off output
    throughout."""
    t_dir = tmp_path / "t"
    t = _parquet(spark, gen_transcripts(spark, n_turns=4_000, n_convs=100, seed=5), t_dir)
    probes = _parquet(spark, gen_probes(spark, t), tmp_path / "p")

    for run, want_jobs in (("cold", 1), ("warm", 0)):
        out, jobs = _jobs_during(spark, f"memo-snapshot-{run}", lambda: _auto(t, probes))
        assert not isinstance(out, Exception), out
        assert len(jobs) == want_jobs, (run, jobs)
    off = backfill_asof_fused(t, probes, tolerance="1 DAY")
    assert _frames_equal(out, off)

    more = gen_transcripts(spark, n_turns=1_000, n_convs=100, seed=6)
    more.write.mode("append").parquet(str(t_dir))
    t2 = spark.read.parquet(str(t_dir))
    out, jobs = _jobs_during(spark, "memo-snapshot-append", lambda: _auto(t2, probes))
    assert not isinstance(out, Exception), out
    assert len(jobs) == 1
    assert _input_records(spark, jobs) == 5_000 + probes.count()
    assert _frames_equal(out, backfill_asof_fused(t2, probes, tolerance="1 DAY"))


def test_auto_new_probe_frame_runs_the_certificate_again(spark, tmp_path):
    """A new probe frame over a memoized transcript frame is a new pair:
    the certificate runs again. The first pair's verdict stays memoized."""
    t = _parquet(spark, gen_transcripts(spark, n_turns=4_000, n_convs=100, seed=9), tmp_path / "t")
    p1 = _parquet(spark, gen_probes(spark, t), tmp_path / "p1")
    p2 = _parquet(spark, gen_probes(spark, t, every_nth=5), tmp_path / "p2")
    _auto(t, p1)
    for run, probes, want_jobs in (("new", p2, 1), ("old", p1, 0)):
        out, jobs = _jobs_during(spark, f"memo-probes-{run}", lambda: _auto(t, probes))
        assert not isinstance(out, Exception), out
        assert len(jobs) == want_jobs, (run, jobs)


def test_auto_never_memoizes_a_nondeterministic_side(spark):
    """A pair with a ``rand()`` key column is certified again on every
    call and leaves nothing in the memo."""
    from kgfarm_spark.operators import backfill

    t = spark.range(2_000).selectExpr("CAST(floor(rand() * 200) AS INT) AS conv_id")
    p = spark.range(100).selectExpr("CAST(id AS INT) AS conv_id")
    for run in ("first", "second"):
        got, jobs = _jobs_during(
            spark, f"memo-rand-{run}", lambda: backfill._auto_hot_threshold(t, "conv_id", p)
        )
        assert got is None and len(jobs) == 1, (run, got, jobs)
    assert spark not in backfill._SKETCH_MEMO


def test_sketch_memo_is_bounded_and_releases_a_dead_session():
    """The memo holds at most ``_MEMO_ENTRIES`` pairs per session, the
    least recently used going first, and does not keep a session alive."""
    from kgfarm_spark.operators.backfill import _MEMO_ENTRIES, _SKETCH_MEMO, _memo_put

    class _Session:  # weakref-able stand-in for a SparkSession
        pass

    session = _Session()
    for i in range(_MEMO_ENTRIES + 3):
        _memo_put(session, ([object()], ("pair", i)), True)
    memo = _SKETCH_MEMO[session]
    assert list(memo) == [("pair", i) for i in range(3, _MEMO_ENTRIES + 3)]
    alive = weakref.ref(session)
    del session, memo
    gc.collect()
    assert alive() is None
    assert not any(isinstance(k, _Session) for k in list(_SKETCH_MEMO))


def test_auto_detection_failure_surfaces_from_the_call(spark):
    """An error inside the background detection job is raised by
    backfill_asof_fused itself."""
    t = gen_transcripts(spark, n_turns=500, n_convs=10, seed=4)
    probes = gen_probes(spark, t)
    bad = t.withColumn(
        "conv_id", F.raise_error(F.concat(F.lit("bad key "), F.col("conv_id"))).cast("string")
    )
    with pytest.raises(Exception, match="bad key"):
        backfill_asof_fused(bad, probes, hot_conv_turns="auto")


def test_auto_detection_leaves_session_usable_for_ml(spark):
    """The certificate reads its observed metrics without registering a
    ``pyspark.sql.Observation``: on Spark 4.1 that registration leaves a
    non-serializable manager on the session, and every later task that
    captures the session (a logistic-regression transform) fails."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    from kgfarm_spark.operators.backfill import _auto_hot_threshold

    t = gen_transcripts(spark, n_turns=2_000, n_convs=100, seed=31, skew=1.0)
    probes = gen_probes(spark, t)
    got, jobs = _jobs_during(spark, "auto-ml", lambda: _auto_hot_threshold(t, "conv_id", probes))
    # the certificate ran (the generator's window shuffle makes it two
    # jobs here), so its metrics were read from the query
    assert got is None and jobs, (got, jobs)
    d = spark.createDataFrame(
        [(Vectors.dense([float(i), 1.0]), float(i % 2)) for i in range(40)],
        ["features", "label"],
    )
    model = LogisticRegression(maxIter=3).fit(d)
    assert len(model.transform(d).select("prediction").collect()) == 40
