#!/usr/bin/env python3
"""Point-in-time backfill benchmark for kgfarm_spark.

    python3 perfbench/run.py --workload backfill_resolve --seed 1 --seconds 8 --trace 0

Run from the repository root. One process runs one workload in a fresh
``local[<cores>]`` session built by ``kgfarm_spark.session.get_spark``
(engine defaults, AQE on): it generates or verifies the seeded inputs,
builds the reference answers, runs untimed warm-up operations, then runs
operations back to back (one client, closed loop) for ``--seconds`` and
checks every output. Each operation is followed by an engine-free
reference job, and op walls are reported relative to it (see
``reference_job``), because CPU time taken by other guests on the host
stretches every Spark job. The last line of standard output is one JSON object
with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, a separate run with the Spark UI on, half its operations
untraced to measure the tracing overhead). Metric names and units come
from BENCHMARK.json; perfbench/METRICS.md maps layers to metrics and
workloads. Everything the run writes goes under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def steal_jiffies() -> tuple[int, int]:
    """(all, stolen) CPU jiffies of the machine so far, from /proc/stat:
    time the host gave to other guests shows as stolen."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return sum(ticks), ticks[7]


# Wall of ``reference_job`` on an unloaded 4-vCPU host. Op walls are
# reported on this scale: op wall / the next reference job's wall * REF_JOB_MS.
REF_JOB_MS = 130.0
REF_JOB_CONF = {"spark.sql.shuffle.partitions": "8", "spark.sql.adaptive.enabled": "true"}


def reference_job(spark, cores: int) -> float:
    """Wall of a fixed engine-free Spark job (range, group by, noop sink)
    under fixed SQL settings. It runs after every op: CPU time the host
    gives to other guests stretches its wall as much as the op's."""
    saved = {k: spark.conf.get(k) for k in REF_JOB_CONF}
    for k, v in REF_JOB_CONF.items():
        spark.conf.set(k, v)
    t0 = time.monotonic()
    spark.range(0, 2_000_000, 1, cores).selectExpr("id % 1000 AS k", "id AS v").groupBy(
        "k"
    ).sum("v").write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    for k, v in saved.items():
        spark.conf.set(k, v)
    return wall


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the JVM the session launched."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def stop(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, HERE]
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        from kgfarm_spark.session import get_spark
        from spans import Tracer
        from workloads import WORKLOADS
    except (ImportError, OSError) as e:
        print(f"perfbench: cannot load the engine or the spec: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, "runs", run_id)
    work_dir = os.path.join(run_dir, "work")
    os.makedirs(work_dir)
    os.makedirs(os.path.join(base, "cache"), exist_ok=True)
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp)
    # keep shuffle files and JVM/Python temp files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"])
    )

    context = {"loadavg_start": os.getloadavg()}
    conf = {"spark.ui.enabled": "true"} if args.trace else {}

    # get_spark's own defaults (shuffle partitions included), as a user
    # calling it without the driver-contract environment gets them
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    t_setup = time.monotonic()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", master=f"local[{cores}]", extra_conf=conf
    )
    try:
        session_start_s = time.monotonic() - t_setup
        tracer = Tracer(spark, run_id, enabled=bool(args.trace))
        ctx = SimpleNamespace(
            spark=spark, tracer=tracer, seed=args.seed, cores=cores,
            cache_dir=os.path.join(base, "cache"), work_dir=work_dir,
        )
        wl = WORKLOADS[args.workload](ctx)
        t0 = time.monotonic()
        wl.setup()
        context["setup_phases_s"] = {
            "session_start": session_start_s,
            "inputs_and_reference": time.monotonic() - t0,
        }
        t0 = time.monotonic()
        tracer.enabled = False
        for _ in range(wl.warmup_ops):
            wl.op()
            if not wl.verify():
                raise RuntimeError("warm-up operation failed its output check")
            reference_job(spark, cores)
        context["setup_phases_s"]["warmup"] = time.monotonic() - t0
        setup_s = time.monotonic() - t_setup

        ops: list[dict] = []
        t_loop = time.monotonic()
        while True:
            # a traced run alternates untraced and traced ops, so the
            # tracing overhead is measured on equally warm operations
            traced = bool(args.trace) and len(ops) % 2 == 1
            done = len(ops) >= (4 if args.trace else wl.min_ops)
            if time.monotonic() - t_loop >= args.seconds and done and not traced:
                break
            tracer.enabled = traced
            j0 = steal_jiffies()
            t0 = time.monotonic()
            try:
                with tracer.span("op", op=len(ops)):
                    wl.op()
                wall = time.monotonic() - t0
                good = wl.verify()
            except Exception:
                traceback.print_exc()
                wall, good = time.monotonic() - t0, False
            loop_wall = time.monotonic() - t0
            j1 = steal_jiffies()
            tracer.enabled = False
            ops.append(
                {
                    "traced": traced, "ok": good, "op_s": wall, "op_and_check_s": loop_wall,
                    "reference_s": reference_job(spark, cores),
                    "steal_frac": (j1[1] - j0[1]) / max(j1[0] - j0[0], 1),
                }
            )
        try:
            run_ok = wl.check()
        except Exception:
            traceback.print_exc()
            run_ok = False
        context["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        layers = wl.layer_metrics() if args.trace else {}
    finally:
        stop(spark)
    context["loadavg_end"] = os.getloadavg()
    shutil.rmtree(work_dir, ignore_errors=True)

    attempted = len(ops)
    failed = attempted if not run_ok else sum(not o["ok"] for o in ops)
    untraced = [o for o in ops if not o["traced"]]

    def scaled_ms(key: str) -> float:
        """Median over untraced ops of ``key`` in reference-job units, in ms."""
        return REF_JOB_MS * statistics.median(o[key] / o["reference_s"] for o in untraced)

    op_ms = [1000 * o["op_s"] for o in untraced]
    if args.trace:
        values = layers
        values.update(
            {
                "session.start_s": session_start_s,
                "session.jvm_peak_rss_mb": context["jvm_peak_rss_mb"],
                "trace.overhead_frac": statistics.median(
                    1000 * o["op_s"] for o in ops if o["traced"]
                ) / statistics.median(op_ms) - 1,
                "trace.spans": len(tracer.spans),
            }
        )
        names = spec["per_layer"]
        tracer.dump(os.path.join(run_dir, "spans.json"), {"workload": args.workload})
    else:
        p50 = scaled_ms("op_s")
        values = {
            "setup_s": setup_s,
            "op_ms_p50": p50,
            "ops_per_s": 1000 / scaled_ms("op_and_check_s"),
            "turns_per_s": wl.n_turns / p50 * 1000,
        }
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": values.get(m["name"], 0), "unit": m["unit"]} for m in names}

    q = statistics.quantiles(op_ms, n=4)  # every run has >= 2 untraced ops
    deciles = statistics.quantiles(op_ms, n=10)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": cores,
        "sizes": wl.sizes(),
        "loop": "closed, 1 client",
        "ops_attempted": attempted,
        "ops_failed": failed,
        "ops_failed_frac": failed / attempted,
        "ops": ops,
        "op_ms_quartiles": q,
        "op_ms_p90": deciles[8],
        "op_ms_p90_samples_beyond": sum(x > deciles[8] for x in op_ms),
        "reference_ms_p50": 1000 * statistics.median(o["reference_s"] for o in untraced),
        "steal_frac_p50": statistics.median(o["steal_frac"] for o in ops),
        "context": context,
        "metrics": metrics,
    }
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(
        f"{args.workload} seed={args.seed}: {attempted} ops, {failed} failed "
        f"(ops_failed_frac={failed / attempted:.4f}); raw op ms quartiles "
        f"{', '.join(f'{x:.1f}' for x in q)}; p90 {deciles[8]:.1f} ms "
        f"with {record['op_ms_p90_samples_beyond']} samples beyond"
    )
    print(
        "context: reference job {:.1f} ms, host steal {:.1%}, loadavg {} -> {}".format(
            record["reference_ms_p50"], record["steal_frac_p50"],
            context["loadavg_start"], context["loadavg_end"],
        )
    )
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
