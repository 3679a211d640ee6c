"""As-of join semantics: reference parity (J2 interval windows,
operations/api.py:518-571), tie handling, tolerance, leakage."""

from __future__ import annotations

import contextlib
import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from kgfarm_spark.operators.asof import asof_join

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def ts(minutes: float) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


@pytest.fixture(scope="module")
def tiny(spark):
    left = spark.createDataFrame(
        [
            ("a", ts(10), "p1"),   # between r rows
            ("a", ts(5), "p2"),    # exact tie with a right row
            ("a", ts(0), "p3"),    # before first right row
            ("b", ts(100), "p4"),  # far after last right row (tolerance test)
            ("c", ts(50), "p5"),   # key missing on right
        ],
        "conv_id string, query_ts timestamp, probe_id string",
    )
    right = spark.createDataFrame(
        [
            ("a", ts(5), 0, "r_a5"),
            ("a", ts(5), 1, "r_a5b"),  # duplicate ts → tiebreak
            ("a", ts(12), 2, "r_a12"),
            ("b", ts(1), 0, "r_b1"),
        ],
        "conv_id string, ts timestamp, turn_idx int, val string",
    )
    return left, right


def rows_by_probe(df):
    return {r["probe_id"]: r for r in df.collect()}


class TestBackward:
    def test_semantics(self, tiny):
        left, right = tiny
        out = asof_join(
            left, right, on="conv_id", left_ts="query_ts", right_ts="ts",
            direction="backward", tiebreak="turn_idx",
        )
        r = rows_by_probe(out)
        assert r["p1"]["val"] == "r_a5b"          # most recent ≤ 10min
        assert r["p2"]["val"] == "r_a5b"          # tie is INCLUDED (api.py:551)
        assert r["p2"]["matched_ts"] == ts(5)
        assert r["p3"]["val"] is None             # nothing before
        assert r["p4"]["val"] == "r_b1"           # unbounded tolerance
        assert r["p5"]["val"] is None             # unknown key
        assert out.count() == left.count()        # left rows preserved

    def test_tolerance(self, tiny):
        left, right = tiny
        out = asof_join(
            left, right, on="conv_id", left_ts="query_ts", right_ts="ts",
            direction="backward", tolerance="30 MINUTE", tiebreak="turn_idx",
        )
        r = rows_by_probe(out)
        assert r["p1"]["val"] == "r_a5b"
        assert r["p4"]["val"] is None             # 99min gap > 30min window

    def test_no_temporal_leakage(self, tiny):
        """Property (north_rule): deleting all right rows with ts > query_ts
        never changes a backward match."""
        left, right = tiny
        full = rows_by_probe(
            asof_join(left, right, on="conv_id", left_ts="query_ts",
                      right_ts="ts", direction="backward", tiebreak="turn_idx")
        )
        for p in full.values():
            trimmed = right.filter(F.col("ts") <= F.lit(p["query_ts"]))
            got = rows_by_probe(
                asof_join(left.filter(F.col("probe_id") == p["probe_id"]),
                          trimmed, on="conv_id", left_ts="query_ts",
                          right_ts="ts", direction="backward", tiebreak="turn_idx")
            )[p["probe_id"]]
            assert got["val"] == p["val"] and got["matched_ts"] == p["matched_ts"]


class TestForward:
    def test_semantics(self, tiny):
        left, right = tiny
        out = asof_join(
            left, right, on="conv_id", left_ts="query_ts", right_ts="ts",
            direction="forward", tiebreak="turn_idx",
        )
        r = rows_by_probe(out)
        assert r["p1"]["val"] == "r_a12"          # next ≥ 10min
        assert r["p2"]["val"] == "r_a5b"          # tie included, max tiebreak
        assert r["p3"]["val"] == "r_a5b"          # first row at 5min, max tb
        assert r["p4"]["val"] is None             # nothing after 100min


class TestNearest:
    def test_semantics(self, tiny):
        left, right = tiny
        out = asof_join(
            left, right, on="conv_id", left_ts="query_ts", right_ts="ts",
            direction="nearest", tiebreak="turn_idx",
        )
        r = rows_by_probe(out)
        assert r["p1"]["val"] == "r_a12"          # 2min fwd beats 5min back
        assert r["p2"]["val"] == "r_a5b"          # distance 0
        assert r["p3"]["val"] == "r_a5b"          # only forward exists
        assert r["p4"]["val"] == "r_b1"           # only backward exists

    def test_equal_distance_prefers_backward(self, spark):
        left = spark.createDataFrame(
            [("k", ts(10), "p")], "conv_id string, query_ts timestamp, probe_id string"
        )
        right = spark.createDataFrame(
            [("k", ts(7), 0, "back"), ("k", ts(13), 1, "fwd")],
            "conv_id string, ts timestamp, turn_idx int, val string",
        )
        out = asof_join(left, right, on="conv_id", left_ts="query_ts",
                        right_ts="ts", direction="nearest", tiebreak="turn_idx")
        assert out.collect()[0]["val"] == "back"


class TestAllInWindow:
    def test_reference_j2_parity(self, tiny):
        """mode='all_in_window' == reference interval semantics: keep every
        row in [query_ts - tol, query_ts], ties kept, inner join."""
        left, right = tiny
        out = asof_join(
            left, right, on="conv_id", left_ts="query_ts", right_ts="ts",
            tolerance="6 MINUTE", mode="all_in_window", right_cols=["val"],
        )
        got = sorted((r["probe_id"], r["val"]) for r in out.collect())
        assert got == [("p1", "r_a5"), ("p1", "r_a5b"), ("p2", "r_a5"), ("p2", "r_a5b")]


class TestTiebreak:
    @pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
    def test_tiebreak_wins_whatever_the_input_order(self, spark, direction):
        """Equal-ts right rows arrive max-tiebreak FIRST (one partition):
        every direction must still pick the greatest tiebreak, as the
        module docstring promises."""
        left = spark.createDataFrame(
            [("a", ts(6), "back"), ("a", ts(4), "fwd"), ("a", ts(5), "exact")],
            "conv_id string, query_ts timestamp, probe_id string",
        )
        right = spark.createDataFrame(
            [("a", ts(5), 1, "r_hi"), ("a", ts(5), 0, "r_lo")],
            "conv_id string, ts timestamp, turn_idx int, val string",
        ).coalesce(1)
        out = asof_join(left, right, direction=direction, tiebreak="turn_idx",
                        right_cols=["val"])
        got = {r["probe_id"]: r["val"] for r in out.collect()}
        want = {"back": "r_hi", "fwd": "r_hi", "exact": "r_hi"}
        if direction == "backward":
            want["fwd"] = None
        elif direction == "forward":
            want["back"] = None
        assert got == want


@pytest.fixture(scope="module")
def pushdown_frames(spark, tmp_path_factory):
    """Left frames with a null key and a key absent on the right, one
    driver-local (``createDataFrame`` of pandas) and one not (a parquet
    round trip); the right side is stored too and holds a null key."""
    import pandas as pd

    d = tmp_path_factory.mktemp("pushdown")
    local = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["a", "a", "a", "b", "c", None],
        "query_ts": [ts(10), ts(5), ts(0), ts(100), ts(50), ts(5)],
        "probe_id": ["p1", "p2", "p3", "p4", "p5", "p6"],
    }))
    local.write.parquet(str(d / "left"))
    spark.createDataFrame(
        [
            ("a", ts(5), 0, "r_a5"),
            ("a", ts(5), 1, "r_a5b"),
            ("a", ts(12), 2, "r_a12"),
            ("b", ts(1), 0, "r_b1"),
            ("d", ts(3), 0, "r_d3"),
            (None, ts(4), 0, "r_null"),
        ],
        "conv_id string, ts timestamp, turn_idx int, val string",
    ).write.parquet(str(d / "right"))
    return {
        "local": local,
        "parquet": spark.read.parquet(str(d / "left")),
        "right": spark.read.parquet(str(d / "right")),
    }


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestProbePushdown:
    """probe_pushdown reduces the right side to the left key set — by a
    scan-side ``IN`` filter for a driver-local left frame, by a broadcast
    left-semi join otherwise — and the output must equal the plain plan in
    every mode/direction."""

    @pytest.mark.parametrize(
        "kw",
        [
            dict(direction="backward", tolerance="10 minutes", tiebreak="turn_idx"),
            dict(direction="forward", tiebreak="turn_idx"),
            dict(direction="nearest", tiebreak="turn_idx"),
            dict(mode="all_in_window", tolerance="10 minutes"),
        ],
        ids=["backward", "forward", "nearest", "all_in_window"],
    )
    def test_equals_plain(self, pushdown_frames, kw):
        right = pushdown_frames["right"]
        for left_kind in ("local", "parquet"):
            left = pushdown_frames[left_kind]
            plain = asof_join(left, right, **kw)
            pushed = asof_join(left, right, probe_pushdown=True, **kw)
            assert plain.columns == pushed.columns
            cols = sorted(plain.columns)
            a = sorted(map(str, plain.select(*cols).collect()))
            b = sorted(map(str, pushed.select(*cols).collect()))
            assert a == b, left_kind
            if kw.get("mode") != "all_in_window":
                assert len(a) == 6  # left rows preserved, null key included

    @pytest.mark.parametrize("left_kind", ["local", "parquet"])
    def test_plan_reduces_right_side(self, pushdown_frames, left_kind):
        """Driver-local left: a key IN filter pushed to the right scan, no
        semi join and no broadcast. Distributed left: a left-semi join."""
        left, right = pushdown_frames[left_kind], pushdown_frames["right"]
        plan = _plan(asof_join(left, right, probe_pushdown=True))
        if left_kind == "local":
            assert re.search(r"PushedFilters: \[[^\]]*In\(conv_id,", plan), plan
            assert "LeftSemi" not in plan and "BroadcastExchange" not in plan
        else:
            assert "LeftSemi" in plan

    def test_local_lookup_runs_one_job(self, spark, pushdown_frames):
        """A backward lookup of a 200-row driver-local entity frame over a
        small view is one job of one stage: collecting the key set adds
        none, and the single-task plan has no shuffle. Counted per job
        group, like a tracer."""
        sc = spark.sparkContext
        group = "asof-job-count-guard"
        sc.setJobGroup(group, "asof job-count guard")
        try:
            rows = asof_join(
                _entities(spark), pushdown_frames["right"], direction="backward",
                tolerance="1 DAY", tiebreak="turn_idx", probe_pushdown=True,
            ).collect()
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
            stages = [s for j in jobs for s in sc.statusTracker().getJobInfo(j).stageIds]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(rows) == 200
        assert len(jobs) == 1, jobs
        assert len(stages) == 1, stages

    def test_lookup_build_py4j_budget(self, spark, pushdown_frames, monkeypatch):
        """Building a 200-row driver-local lookup takes a fixed number of
        Python-to-JVM round trips, however many rows or keys there are.
        Memory-release messages are left out: py4j sends them for Python
        objects freed earlier, whenever the garbage collector runs."""
        right = pushdown_frames["right"]
        kw = dict(direction="backward", tolerance="1 DAY", tiebreak="turn_idx",
                  right_cols=["turn_idx", "val"], probe_pushdown=True)
        asof_join(_entities(spark), right, **kw)  # first-use lookups
        entities = _entities(spark)
        client = spark.sparkContext._gateway._gateway_client
        send, sent = client.send_command, []
        monkeypatch.setattr(
            client, "send_command", lambda cmd, *a, **k: (sent.append(cmd), send(cmd, *a, **k))[1]
        )
        asof_join(entities, right, **kw)
        monkeypatch.undo()
        calls = [c.split("\n")[:3] for c in sent if not c.startswith("m\n")]
        assert len(calls) <= 24, calls


def _entities(spark, n=200):
    """A driver-local entity frame of ``n`` rows over keys a, b, c."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({
        "conv_id": [("a", "b", "c")[i % 3] for i in range(n)],
        "query_ts": [ts(i / 10) for i in range(n)],
        "probe_id": [f"q{i}" for i in range(n)],
    }))


@contextlib.contextmanager
def _broadcast_threshold(spark, value: str):
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, saved)


@pytest.fixture(scope="module")
def edge_frames(spark, tmp_path_factory):
    """A driver-local left and a stored right that hold every edge the
    single-task plan must get right: null keys on both sides, a null right
    timestamp, equal-ts ties whose tiebreak order differs from the input
    order, right rows out of ts order, and probes exactly one tolerance
    (10 minutes) from a right row on either side."""
    import pandas as pd

    d = tmp_path_factory.mktemp("edges")
    spark.createDataFrame(
        [
            ("a", ts(30), 5, "a30"),
            ("a", ts(10), 2, "a10_tb2"),
            ("a", ts(10), 7, "a10_tb7"),   # tie at 10, wins on tiebreak
            ("a", ts(10), 1, "a10_tb1"),
            ("a", ts(20), 3, "a20"),
            ("a", None, 9, "a_null_ts"),   # never a match
            ("b", ts(50), 0, "b50"),
            ("b", ts(40), 1, "b40"),
            (None, ts(10), 8, "null_key"),  # never a match
            ("z", ts(10), 0, "z10"),       # key not probed
        ],
        "conv_id string, ts timestamp, turn_idx int, val string",
    ).write.parquet(str(d / "right"))
    left = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["a", "a", "a", "a", "a", "a", "b", "b", "b", "c", None],
        "query_ts": [ts(10), ts(15), ts(0), ts(40), ts(20), ts(25), ts(30), ts(45), ts(60),
                     ts(10), ts(10)],
        "probe_id": [f"p{i}" for i in range(11)],
    }))
    return left, spark.read.parquet(str(d / "right"))


def _plan_nodes(df, name: str) -> int:
    return len(re.findall(rf"\b{name}\b", _plan(df)))


class TestSingleTaskLookup:
    """A driver-local left over a right side within
    ``spark.sql.autoBroadcastJoinThreshold`` is planned as one task (no
    exchange); the shuffle plan it replaces must give the same rows."""

    def test_small_right_plans_no_exchange(self, edge_frames):
        left, right = edge_frames
        out = asof_join(left, right, tiebreak="turn_idx", probe_pushdown=True)
        assert _plan_nodes(out, "Exchange") == 0, _plan(out)
        assert _plan_nodes(out, "Window") == 1, _plan(out)

    def test_threshold_off_keeps_the_shuffle(self, spark, edge_frames):
        left, right = edge_frames
        with _broadcast_threshold(spark, "-1"):
            out = asof_join(left, right, tiebreak="turn_idx", probe_pushdown=True)
        assert _plan_nodes(out, "Exchange") == 1, _plan(out)

    @pytest.mark.parametrize("pushdown", [True, False], ids=["pushdown", "plain"])
    @pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
    def test_equals_shuffle_plan(self, spark, edge_frames, direction, pushdown):
        left, right = edge_frames
        kw = dict(direction=direction, tolerance="10 minutes", tiebreak="turn_idx",
                  probe_pushdown=pushdown)
        one_task = asof_join(left, right, **kw)
        with _broadcast_threshold(spark, "-1"):
            shuffled = asof_join(left, right, **kw)
        assert _plan_nodes(one_task, "Exchange") == 0
        assert _plan_nodes(shuffled, "Exchange") == 1
        assert one_task.columns == shuffled.columns
        got, want = rows_by_probe(one_task), rows_by_probe(shuffled)
        assert got == want
        assert len(got) == 11
        # the edges are exercised, not skipped
        assert got["p10"]["val"] is None  # null left key
        if direction == "backward":
            assert got["p0"]["val"] == "a10_tb7"  # tie → max tiebreak
            assert got["p1"]["val"] == "a10_tb7"  # 5 min after the tie
            assert got["p3"]["val"] == "a30"      # exactly one tolerance back
            assert got["p7"]["val"] == "b40"      # out-of-order right ts


class TestSqlSplicing:
    """The union-window plan is one SQL statement: tolerance and column
    names are spliced into its text, so both must be safe."""

    @pytest.mark.parametrize("bad", ["1 DAY) OR (1=1", "DAY", "1.5 HOUR", "1 FORTNIGHT", 1])
    def test_bad_tolerance_names_the_argument(self, tiny, bad):
        left, right = tiny
        with pytest.raises(ValueError, match="tolerance"):
            asof_join(left, right, tolerance=bad, tiebreak="turn_idx")

    def test_bad_tolerance_rejected_by_fused_backfill(self, spark):
        from kgfarm_spark.operators.backfill import backfill_asof_fused
        from kgfarm_spark.sources.datagen import gen_probes, gen_transcripts

        t = gen_transcripts(spark, n_turns=50, n_convs=2, seed=1)
        with pytest.raises(ValueError, match="tolerance"):
            backfill_asof_fused(t, gen_probes(spark, t), tolerance="1 DAY --")

    @pytest.mark.parametrize("direction", ["backward", "forward", "nearest"])
    def test_quoted_column_names(self, tiny, direction):
        left, right = tiny
        odd_l = left.withColumnRenamed("probe_id", "pro`be {id}")
        odd_r = right.withColumnRenamed("val", "v`al").withColumnRenamed("turn_idx", "t`b")
        want = {
            r["probe_id"]: r["val"]
            for r in asof_join(left, right, direction=direction, tolerance="30 MINUTE",
                               tiebreak="turn_idx").collect()
        }
        out = asof_join(odd_l, odd_r, direction=direction, tolerance="30 MINUTE",
                        tiebreak="t`b")
        assert out.columns == ["conv_id", "query_ts", "pro`be {id}", "matched_ts", "t`b", "v`al"]
        assert {r["pro`be {id}"]: r["v`al"] for r in out.collect()} == want
