"""Runtime stage audit for the headline queries (optimization guide §1):
for each query, run the noop sink once and report per-stage task counts,
input bytes (how many times the source parquet is REALLY scanned after
runtime exchange reuse), shuffle read/write bytes, and job and stage
counts (jobs are counted per query through a job group, so a plan that
grows an extra job, e.g. a key-set collection, shows up). ``n_jobs_warm``
is the job count of a second run of the same query, which shows what a
session reuses across calls (e.g. the auto hot-guard's memoized
verdict).

Usage: python tools/stage_audit.py [query ...]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "flagship_backfill_asof",
    "flagship_backfill_auto",
    "flagship_hot_guard",
    "asof_backward_latest",
    "asof_local_lookup",
    "asof_interval_all",
    "backfill_features",
    "backfill_features_hot",
    "sessionize",
    "rolling_aggregates",
    "lag_lead_hot_safe",
    "role_transitions_hot_safe",
    "sessionize_hot_safe",
    "rolling_hot_safe",
    "dedup_minhash_lsh",
    "cosine_topk",
    "text_quality",
]


def main() -> None:
    from kgfarm_spark.session import get_spark
    from kgfarm_spark.entry_queries import QUERIES
    from kgfarm_spark.operators.backfill import _SKETCH_MEMO
    from kgfarm_spark.plans.metrics import StageMetrics

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    names = sys.argv[1:] or HEADLINE
    spark = get_spark(
        app_name="kgfarm_stage_audit", master=f"local[{cpus}]",
        shuffle_partitions=cpus, extra_conf={"spark.ui.enabled": "true"},
    )
    # warm, then forget the verdicts it memoized: n_jobs stays each
    # query's first-run count
    QUERIES[names[0]](spark, sf_dir).write.format("noop").mode("overwrite").save()
    _SKETCH_MEMO.pop(spark, None)
    sc = spark.sparkContext

    def run(group: str, name: str) -> int:
        """Run the query under its own job group; return its job count."""
        sc.setJobGroup(group, name)
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    out = {}
    for name in names:
        with StageMetrics(spark) as m:
            n_jobs = run(f"stage-audit-{name}", name)
        n_jobs_warm = run(f"stage-audit-{name}-warm", name)
        s = m.summary()
        out[name] = {
            "n_jobs": n_jobs,
            "n_jobs_warm": n_jobs_warm,
            "n_stages": len(m.stages),
            "n_tasks": s.get("n_tasks"),
            "input_mb": round(sum(st.get("inputBytes") or 0 for st in m.stages) / 1e6, 2),
            "shuffle_read_mb": round(s.get("shuffle_read_bytes", 0) / 1e6, 2),
            "exec_run_ms": sum(st.get("executorRunTime") or 0 for st in m.stages),
            "stages": [
                {
                    "id": st.get("stageId"),
                    "tasks": st.get("numTasks"),
                    "in_mb": round((st.get("inputBytes") or 0) / 1e6, 2),
                    "sh_r_mb": round((st.get("shuffleReadBytes") or 0) / 1e6, 2),
                    "sh_w_mb": round((st.get("shuffleWriteBytes") or 0) / 1e6, 2),
                    "run_ms": st.get("executorRunTime"),
                    "name": (st.get("name") or "").split("\n")[0][:60],
                }
                for st in sorted(m.stages, key=lambda x: x.get("stageId") or 0)
            ],
        }
        print(name, json.dumps(out[name]["stages"], indent=None))
    print(json.dumps({k: {kk: vv for kk, vv in v.items() if kk != "stages"} for k, v in out.items()}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
