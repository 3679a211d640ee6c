"""The workloads (BENCHMARK.json gates two of the four; METRICS.md says
why). Each one prepares its inputs and reference answers in ``setup``
(counted in ``setup_s``), runs one timed operation per ``op`` call,
checks its outputs, and in a traced run reports the metrics of the
layers it exercises from the spans around its calls."""

from __future__ import annotations

import os
import shutil
import statistics
from functools import reduce

import numpy as np
import pyarrow.parquet as pq

from kgfarm_spark.api import FeatureFarm
from kgfarm_spark.operators.windows import backfill_features, role_transitions, sessionize
from kgfarm_spark.plans.lineage import (
    feature_hash,
    read_checkpointed_output,
    run_checkpointed,
)

import datagen
from oracle import FEATURES, PrefixTable

TOLERANCE = "1 DAY"
TOLERANCE_S = 86400
FUSED_COLS = [
    "conv_id", "query_ts", "probe_id", "matched_ts", "turns_so_far",
    "tool_calls_so_far", "text_len_sum", "text_len_avg", "text_len_max",
    "user_turns_so_far", "assistant_turns_so_far", "tool_call_rate",
]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


class Workload:
    """Shared set-up: one seeded transcript table (plus its probes)."""

    name = ""
    n_turns = n_convs = 0
    skew = 2.0
    min_ops = 3
    # untimed ops before measuring: op walls keep falling for the first
    # few dozen ops while the JIT compiles the engine's hot paths
    warmup_ops = 6

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.ff = FeatureFarm(self.spark)
        self.cols = None

    def sizes(self) -> dict:
        return {"turns": self.n_turns, "conversations": self.n_convs, "skew": self.skew}

    def load_transcripts(self, with_probes: bool = False):
        key = f"transcripts-s{self.ctx.seed}-n{self.n_turns}-c{self.n_convs}-k{self.skew}"

        def make():
            self.cols = datagen.gen_columns(self.ctx.seed, self.n_turns, self.n_convs, self.skew)
            return datagen.to_table(self.cols)

        path = datagen.ensure_parquet(self.ctx.cache_dir, key, make)
        self.input_paths = [path]
        t = self.spark.read.parquet(path)
        if not with_probes:
            return t, None

        def make_probes():
            if self.cols is None:
                self.cols = datagen.read_columns(path)
            return datagen.probe_table(self.cols)

        ppath = datagen.ensure_parquet(self.ctx.cache_dir, key + "-probes", make_probes)
        self.input_paths.append(ppath)
        return t, self.spark.read.parquet(ppath)

    def input_rows(self) -> int:
        return sum(parquet_rows(p) for p in self.input_paths)

    def source_metrics(self) -> dict:
        """Scans are counted in rows: Spark's stage ``inputBytes`` reports
        only a few KB for these local parquet scans."""
        scan = self.tr.median("op", scan_rows)
        return {
            "sources.input_bytes": sum(dir_bytes(p) for p in self.input_paths),
            "sources.scan_rows_read": scan,
            "sources.scan_read_amplification": scan / self.input_rows(),
        }

    def verify(self) -> bool:
        """Untimed check of the op just run."""
        return True

    def check(self) -> bool:
        """End-of-run output check; False fails every op of the run."""
        return True


class BackfillResolve(Workload):
    name = "backfill_resolve"
    n_turns, n_convs, skew = 100_000, 250, 2.0

    def setup(self) -> None:
        self.t, self.probes = self.load_transcripts(with_probes=True)
        self.expected = self.reference()

    def reference(self):
        """Expected fused row per probe id, computed without the engine:
        the backward as-of lookup of each probe in ``oracle.PrefixTable``
        (which also yields ``turn_idx``, not a fused column)."""
        if self.cols is None:
            self.cols = datagen.read_columns(self.input_paths[0])
        probes = datagen.probe_table(self.cols)
        conv = probes.column("conv_id").to_pylist()
        q = probes.column("query_ts").cast("int64").to_numpy() // 1_000_000
        pid = probes.column("probe_id").to_pylist()
        found = PrefixTable(self.cols).lookup(
            np.char.lstrip(np.array(conv), "conv_").astype(np.int64), q, TOLERANCE_S
        )
        return {
            p: (c, int(t), row[0], *row[2:]) for p, c, t, row in zip(pid, conv, q, found)
        }

    def op(self) -> None:
        with self.tr.span("api.backfill_and_resolve.build"):
            self.last = self.ff.backfill_and_resolve(self.t, self.probes, tolerance=TOLERANCE)
        with self.tr.span("operators.backfill.exec", task_summaries=True):
            self.last.write.format("noop").mode("overwrite").save()

    def check(self) -> bool:
        """Every row of the last op's result equals the expected row for
        its probe, and every probe has one row."""
        rows = self.last.selectExpr(
            "probe_id", "conv_id", "CAST(query_ts AS LONG)", "CAST(matched_ts AS LONG)",
            *FUSED_COLS[4:],
        ).collect()
        want = self.expected
        return len(rows) == len(want) and all(want.get(r[0]) == tuple(r[1:]) for r in rows)

    def layer_metrics(self) -> dict:
        tr, cores = self.tr, self.ctx.cores
        exec_s = tr.median("operators.backfill.exec", lambda s: s["wall_s"])
        cpu_s = tr.median(
            "operators.backfill.exec", lambda s: s["summary"]["executor_cpu_ms"] / 1000
        )

        def window_stage(s) -> dict:
            readers = [st for st in s["stages"] if st.get("shuffleReadBytes")]
            return max(readers, key=lambda st: st["shuffleReadBytes"]) if readers else {}

        def task_ms(s, field) -> float:
            return window_stage(s).get(field) or 0

        def skew_ratio(s) -> float:
            return task_ms(s, "maxTaskMs") / max(task_ms(s, "medianTaskMs"), 1)

        ex = "operators.backfill.exec"
        return {
            **self.source_metrics(),
            "api.backfill_and_resolve.build_s": tr.median(
                "api.backfill_and_resolve.build", lambda s: s["wall_s"]
            ),
            "operators.backfill.exec_s": exec_s,
            "operators.backfill.jobs": tr.median(ex, lambda s: s["jobs"]),
            "operators.backfill.stages": tr.median(ex, lambda s: s["summary"]["n_stages"]),
            "operators.backfill.tasks": tr.median(ex, lambda s: s["summary"]["n_tasks"]),
            "operators.backfill.executor_cpu_s": cpu_s,
            "operators.backfill.cpu_busy_frac": cpu_s / (exec_s * cores),
            "operators.backfill.shuffle_write_bytes_per_turn": tr.median(
                ex, lambda s: s["summary"]["shuffle_write_bytes"] / self.n_turns
            ),
            "operators.backfill.shuffle_read_bytes": tr.median(
                ex, lambda s: s["summary"]["shuffle_read_bytes"]
            ),
            "operators.backfill.spill_disk_bytes": tr.median(
                ex, lambda s: s["summary"]["spill_disk_bytes"]
            ),
            "operators.backfill.max_task_ms": tr.median(ex, lambda s: task_ms(s, "maxTaskMs")),
            "operators.backfill.median_task_ms": tr.median(
                ex, lambda s: task_ms(s, "medianTaskMs")
            ),
            "operators.backfill.task_skew_ratio": tr.median(ex, skew_ratio),
        }


class SkewedBackfill(BackfillResolve):
    """Not in BENCHMARK.json (run budget): the same call where the auto
    hot-conversation guard engages; checked against the guard-off output."""

    name = "skewed_backfill"
    n_turns, n_convs, skew = 600_000, 10_000, 7.0

    def reference(self) -> int:
        """Checksum of the same call with the guard off."""
        off = self.ff.backfill_and_resolve(
            self.t, self.probes, tolerance=TOLERANCE, hot_conv_turns=None
        )
        return feature_hash(off.select(*FUSED_COLS))

    def check(self) -> bool:
        return feature_hash(self.last.select(*FUSED_COLS)) == self.expected


def chain(df):
    """The checkpointed feature view: sessions, cumulative features and
    role transitions per turn."""
    return role_transitions(backfill_features(sessionize(df)))


class Checkpointer:
    """``run_checkpointed`` of ``chain`` over ``n_buckets`` buckets,
    interrupted after half of them and resumed, then checked."""

    def __init__(self, tr, transcripts, n_buckets: int):
        self.tr, self.t, self.n_buckets = tr, transcripts, n_buckets

    def run(self, out: str, **kw) -> list[dict]:
        return run_checkpointed(chain, self.t, "conv_id", out, n_buckets=self.n_buckets, **kw)

    def build(self, out: str) -> None:
        with self.tr.span("plans.lineage.interrupted") as self.first_span:
            self.first = self.run(out, max_buckets=self.n_buckets // 2)
        with self.tr.span("plans.lineage.resume") as self.resume_span:
            self.rest = self.run(out)

    def verify(self, out: str, n_rows: int, expected: int | None) -> bool:
        """A resume with every bucket committed must run nothing, the
        buckets must hold ``n_rows`` rows, and the xor of the per-bucket
        manifest checksums must equal ``expected``, the checksum of the
        single-shot chain (feature_hash is an xor-fold), when given."""
        with self.tr.span("plans.lineage.noop_resume"):
            again = self.run(out)
        recs = self.first + self.rest
        if self.tr.enabled:
            self.resume_span.set(
                buckets_run=len(recs),
                buckets_skipped_frac=1 - len(self.rest) / self.n_buckets,
                bucket_wall_s=statistics.median(r["wall_sec"] for r in recs),
                write_bytes_per_row=dir_bytes(out) / sum(r["rows"] for r in recs),
                scan_rows_both=scan_rows(self.first_span.rec) + scan_rows(self.resume_span.rec),
            )
        got = reduce(lambda a, r: a ^ r["feature_hash"], recs, 0)
        return (
            len(self.first) == self.n_buckets // 2
            and len(recs) == self.n_buckets
            and again == []
            and sum(r["rows"] for r in recs) == n_rows
            and expected in (None, got)
        )


class PitLookup(Workload):
    name = "pit_lookup"
    n_turns, n_convs, skew = 100_000, 250, 2.0
    n_buckets = 2
    convs_per_lookup, rows_per_lookup = 20, 200
    precomputed = 100  # lookups whose expected rows are built at set-up

    def sizes(self) -> dict:
        return {
            **super().sizes(),
            "view_buckets": self.n_buckets,
            "lookup_conversations": self.convs_per_lookup,
            "lookup_rows": self.rows_per_lookup,
        }

    def setup(self) -> None:
        """The feature view is built the way a production view is: by the
        checkpointed writer, interrupted half way and resumed. Only the
        traced run also runs the single-shot chain, for the windows layer's
        metrics and the checksum check; untraced runs keep it out of
        ``setup_s``, and the lookups check the view's features."""
        t, _ = self.load_transcripts()
        if self.cols is None:
            self.cols = datagen.read_columns(self.input_paths[0])
        expected = None
        if self.tr.enabled:
            with self.tr.span("operators.windows.job"):
                expected = feature_hash(chain(t))
        view_dir = os.path.join(self.ctx.work_dir, "feature_view")
        ck = Checkpointer(self.tr, t, self.n_buckets)
        ck.build(view_dir)
        self.view_ok = ck.verify(view_dir, self.n_turns, expected)
        self.input_paths = [view_dir]
        self.view = read_checkpointed_output(self.spark, view_dir, self.n_buckets)
        self.frames = datagen.LookupFrames(
            self.cols, self.ctx.seed, self.convs_per_lookup, self.rows_per_lookup
        )
        self.prefix = PrefixTable(self.cols)
        self.expected = [self.answers(i) for i in range(self.precomputed)]
        self.next = 0

    def answers(self, i: int) -> dict:
        conv, q, pid = self.frames.frame(i)
        return dict(zip(pid, self.prefix.lookup(conv, q, TOLERANCE_S)))

    def op(self) -> None:
        self.i = self.next
        self.next += 1
        conv, q, pid = self.frames.frame(self.i)
        with self.tr.span("sources.entity_frame"):
            entities = self.spark.createDataFrame(
                datagen.entity_table(datagen.conv_name(conv), q, pid).to_pandas()
            )
        with self.tr.span("operators.asof.build"):
            res = self.ff.asof_join(
                entities, self.view, on="conv_id", left_ts="query_ts", right_ts="ts",
                tolerance=TOLERANCE, tiebreak="turn_idx", right_cols=FEATURES,
                probe_pushdown=True,
            ).selectExpr("probe_id", "CAST(matched_ts AS LONG) AS matched_s", *FEATURES)
        with self.tr.span("operators.asof.exec") as self.exec_span:
            self.rows = res.collect()

    def verify(self) -> bool:
        """Every collected row equals the expected row for its probe."""
        rows = self.rows
        if self.tr.enabled:
            self.exec_span.set(
                matched=sum(r["matched_s"] is not None for r in rows), sent=len(rows)
            )
        want = self.expected[self.i] if self.i < len(self.expected) else self.answers(self.i)
        return len(rows) == len(want) and all(want.get(r[0]) == tuple(r[1:]) for r in rows)

    def check(self) -> bool:
        return self.view_ok

    def layer_metrics(self) -> dict:
        tr = self.tr
        ex = "operators.asof.exec"
        sent = sum(s["sent"] for s in tr.named(ex))
        return {
            **self.source_metrics(),
            "operators.asof.build_ms": 1000 * tr.median("operators.asof.build", lambda s: s["wall_s"]),
            "operators.asof.exec_ms": 1000 * tr.median(ex, lambda s: s["wall_s"]),
            "operators.asof.jobs_per_lookup": tr.median("op", lambda s: s["jobs"]),
            "operators.asof.stages_per_lookup": tr.median(ex, lambda s: s["summary"]["n_stages"]),
            "operators.asof.tasks_per_lookup": tr.median(ex, lambda s: s["summary"]["n_tasks"]),
            "operators.asof.scan_rows_per_lookup": tr.median(ex, scan_rows),
            "operators.asof.matched_frac": sum(s["matched"] for s in tr.named(ex)) / max(sent, 1),
            **windows_metrics(tr, self.n_turns),
            **lineage_metrics(tr, self.n_turns),
        }


class CheckpointedView(Workload):
    """Not in BENCHMARK.json (run budget): the checkpointed writer as the
    timed operation. ``pit_lookup`` measures the same writer at set-up."""

    name = "checkpointed_view"
    n_turns, n_convs, skew = 150_000, 375, 2.0
    n_buckets = 2

    def sizes(self) -> dict:
        return {**super().sizes(), "buckets": self.n_buckets}

    def setup(self) -> None:
        t, _ = self.load_transcripts()
        with self.tr.span("operators.windows.job"):
            self.expected = feature_hash(chain(t))
        self.ck = Checkpointer(self.tr, t, self.n_buckets)
        self.root = os.path.join(self.ctx.work_dir, "checkpoints")
        self.n = 0

    def op(self) -> None:
        self.out = os.path.join(self.root, f"op{self.n}")
        self.n += 1
        self.ck.build(self.out)

    def verify(self) -> bool:
        ok = self.ck.verify(self.out, self.n_turns, self.expected)
        shutil.rmtree(self.out)
        return ok

    def layer_metrics(self) -> dict:
        return {
            **self.source_metrics(),
            **windows_metrics(self.tr, self.n_turns),
            **lineage_metrics(self.tr, self.n_turns),
        }


def scan_rows(span: dict) -> int:
    return sum(st.get("inputRecords") or 0 for st in span["stages"])


def lineage_metrics(tr, n_turns: int) -> dict:
    res = "plans.lineage.resume"
    return {
        "plans.lineage.bucket_wall_s": tr.median(res, lambda s: s["bucket_wall_s"]),
        "plans.lineage.write_bytes_per_row": tr.median(res, lambda s: s["write_bytes_per_row"]),
        "plans.lineage.read_amplification": tr.median(res, lambda s: s["scan_rows_both"] / n_turns),
        "plans.lineage.buckets_run": tr.median(res, lambda s: s["buckets_run"]),
        "plans.lineage.buckets_skipped_frac": tr.median(res, lambda s: s["buckets_skipped_frac"]),
        "plans.lineage.resume_s": tr.median(res, lambda s: s["wall_s"]),
        "plans.lineage.resume_noop_s": tr.median("plans.lineage.noop_resume", lambda s: s["wall_s"]),
    }


def windows_metrics(tr, n_turns: int) -> dict:
    w = "operators.windows.job"
    return {
        "operators.windows.build_s": tr.median(w, lambda s: s["wall_s"]),
        "operators.windows.shuffle_write_bytes_per_turn": tr.median(
            w, lambda s: s["summary"]["shuffle_write_bytes"] / n_turns
        ),
        "operators.windows.executor_cpu_s": tr.median(
            w, lambda s: s["summary"]["executor_cpu_ms"] / 1000
        ),
    }


WORKLOADS = {w.name: w for w in (BackfillResolve, SkewedBackfill, PitLookup, CheckpointedView)}
