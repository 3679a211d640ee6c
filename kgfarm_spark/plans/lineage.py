"""Per-partition checkpointing + lineage manifests + resume (north_rule:
"resumable from per-partition checkpoints carrying lineage manifests
(partition id, input snapshot id, rows processed, feature-hash) and emit
per-stage metrics").

Unit of work = a *bucket* of conversations (pmod(xxhash64(conv_id), N)) —
deterministic, independent of physical partitioning, stable across
cluster sizes. Each bucket runs as one fully-distributed job; its output
lands under ``out/bucket=K/`` and a manifest line
``{bucket, snapshot_id, rows, feature_hash, wall_sec}`` is appended
(one ``write`` + ``fsync``) only after the bucket's output commit.
Resume = skip buckets whose manifest line exists → crash-safe
exactly-once per bucket without any coordination service. A crash in the
middle of an append leaves a torn final line: it is read as the
uncommitted bucket it stands for (that bucket re-runs) and is cut off
before the next append. An unparseable line anywhere else is corruption,
not a torn append, and raises.

The feature-hash is an order-insensitive distributed checksum
(bit-XOR of per-row xxhash64 over the canonicalized row string) so a
resumed run can be verified byte-equal to a single-shot run.

At 10^12 turns the bucket count scales with the cluster (e.g. 4096); a
bucket is still thousands of conversations so each job saturates the
cluster, while the blast radius of a failure is one bucket.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_of(key_col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")


def input_snapshot_id(df: DataFrame) -> str:
    """Deterministic fingerprint of the DataFrame's physical inputs —
    the parquet-world stand-in for an Iceberg snapshot id (north_rule:
    manifests carry the input snapshot id; on Iceberg this would be
    ``SELECT snapshot_id() ...``). md5 over the sorted (path, size)
    listing: any file added/replaced/resized changes the id, so a resume
    can detect that its checkpoint no longer matches the input."""
    import hashlib

    files = sorted(df.inputFiles())
    h = hashlib.md5()
    hconf = df.sparkSession.sparkContext._jsc.hadoopConfiguration()
    jvm = df.sparkSession._jvm
    for f in files:
        h.update(f.encode())
        try:
            p = jvm.org.apache.hadoop.fs.Path(f)
            size = p.getFileSystem(hconf).getFileStatus(p).getLen()
            h.update(str(size).encode())
        except Exception:
            pass
    return h.hexdigest()[:16] if files else "in-memory"


def feature_hash(df: DataFrame) -> int:
    """Order-insensitive 64-bit checksum of the full result: xor-fold of
    xxhash64(canonical row string). Distributed, one aggregate."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in sorted(df.columns)]
    row_h = F.xxhash64(F.concat_ws("\x01", *cols))
    # xor aggregate via bit_xor
    out = df.select(row_h.alias("h")).agg(F.expr("bit_xor(h)").alias("x")).first()
    return out["x"] if out["x"] is not None else 0


def _manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "manifest.jsonl")


def _committed_end(data: bytes) -> int:
    """Byte length of the manifest's complete lines. Every append ends in a
    newline, so text after the last one is a torn append."""
    return data.rfind(b"\n") + 1


def read_manifest(checkpoint_dir: str) -> dict[int, dict]:
    """Committed records by bucket; the newest line per bucket wins. A torn
    final line is an uncommitted bucket and is left out; an unparseable
    line before it raises ``ValueError`` naming the file and the line."""
    path = _manifest_path(checkpoint_dir)
    if not os.path.exists(path):
        return {}
    with open(path, "rb") as f:
        data = f.read()
    done: dict[int, dict] = {}
    for i, line in enumerate(data[: _committed_end(data)].splitlines(), 1):
        if line.strip():
            try:
                rec = json.loads(line)
            except ValueError:
                raise ValueError(
                    f"{path}: line {i} is not a manifest record: {line[:80]!r}"
                ) from None
            done[rec["bucket"]] = rec
    return done


def _append_manifest(checkpoint_dir: str, rec: dict) -> None:
    """Append one record, first cutting off a torn final line so the record
    starts a line of its own."""
    with open(_manifest_path(checkpoint_dir), "a+b") as f:
        f.seek(0)
        f.truncate(_committed_end(f.read()))
        f.write((json.dumps(rec) + "\n").encode())
        f.flush()
        os.fsync(f.fileno())


def run_checkpointed(
    build_job,
    input_df: DataFrame,
    key_col: str,
    out_dir: str,
    n_buckets: int = 8,
    snapshot_id: str | None = None,
    max_buckets: int | None = None,
    on_snapshot_mismatch: str = "recompute",
) -> list[dict]:
    """Run ``build_job(bucket_input_df) -> DataFrame`` once per pending
    bucket, committing output + manifest per bucket. ``build_job`` may
    also accept ``(bucket_input_df, bucket_id)`` — useful when the job
    must co-bucket a second table on the same key hash.

    ``max_buckets`` limits how many buckets run this invocation (lets
    tests simulate a crash mid-run); call again to resume. Returns the
    manifest records written this invocation.

    Resume compares each completed bucket's manifest ``snapshot_id``
    against the current one: a mismatch means the input changed under the
    checkpoint. ``snapshot_id`` defaults to ``input_snapshot_id(input_df)``
    (the input's file listing and sizes, so a file appended to a parquet
    input is a new snapshot); pass one to pin it, e.g. an Iceberg snapshot
    id. ``on_snapshot_mismatch='recompute'`` (default) invalidates and
    re-runs those buckets (the manifest is append-only; the newest line
    per bucket wins on read); ``'fail'`` raises instead — no mode silently
    mixes stale and fresh bucket outputs.
    """
    import inspect

    if on_snapshot_mismatch not in ("recompute", "fail"):
        raise ValueError(f"on_snapshot_mismatch must be 'recompute' or 'fail', got {on_snapshot_mismatch!r}")
    if snapshot_id is None:
        snapshot_id = input_snapshot_id(input_df)
    os.makedirs(out_dir, exist_ok=True)
    done = read_manifest(out_dir)
    written: list[dict] = []
    bucketed = input_df.withColumn("__bucket", bucket_of(key_col, n_buckets))
    two_arg = len(inspect.signature(build_job).parameters) >= 2
    ran = 0
    for b in range(n_buckets):
        if b in done:
            if done[b].get("snapshot_id") == snapshot_id:
                continue
            if on_snapshot_mismatch == "fail":
                raise RuntimeError(
                    f"bucket {b} was checkpointed against snapshot "
                    f"{done[b].get('snapshot_id')!r} but the input is now "
                    f"{snapshot_id!r}; pass on_snapshot_mismatch='recompute' "
                    "to invalidate and re-run it"
                )
            # 'recompute': fall through and overwrite the stale bucket
        if max_buckets is not None and ran >= max_buckets:
            break
        t0 = time.monotonic()
        part = bucketed.filter(F.col("__bucket") == b).drop("__bucket")
        out = build_job(part, b) if two_arg else build_job(part)
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"bucket={b}"))
        committed = out.sparkSession.read.parquet(os.path.join(out_dir, f"bucket={b}"))
        rec = {
            "bucket": b,
            "snapshot_id": snapshot_id,
            "rows": committed.count(),
            "feature_hash": feature_hash(committed),
            "wall_sec": round(time.monotonic() - t0, 3),
        }
        _append_manifest(out_dir, rec)
        written.append(rec)
        ran += 1
    return written


def read_checkpointed_output(spark, out_dir: str, n_buckets: int) -> DataFrame:
    paths = [
        os.path.join(out_dir, f"bucket={b}")
        for b in range(n_buckets)
        if os.path.exists(os.path.join(out_dir, f"bucket={b}"))
    ]
    return spark.read.parquet(*paths)
