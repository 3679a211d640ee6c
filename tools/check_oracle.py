"""Local mimic of the driver's correctness gate: run each __spark_entry__
query on Spark and its oracle SQL on DuckDB at sf0.01, compare row count,
schema (column names), and an order-insensitive value hash.

Usage: python tools/check_oracle.py [query ...]
       python tools/check_oracle.py --shard K/N   # oracle names split into
                                                  # N deterministic shards,
                                                  # run shard K (1-based) —
                                                  # the full 84-oracle gate
                                                  # no longer fits a single
                                                  # 10-minute sitting
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def norm_cell(v):
    """Strict normalization: distinguishes int 6005 from float 6005.0 and keeps
    full float precision, so a local PASS predicts the driver's strict hash.
    (Round 1 lesson: `{v:.6g}` masked DuckDB HUGEINT->float64 artifacts that
    the driver caught — see VERDICT.md r01 'What's wrong' #1.)"""
    if pd.isna(v) if not isinstance(v, (list, tuple, dict)) else False:
        return "NULL"
    if isinstance(v, float):
        return repr(float(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def df_hash(pdf: pd.DataFrame) -> str:
    pdf = pdf[sorted(pdf.columns)]
    rows = sorted(
        "|".join(norm_cell(v) for v in row) for row in pdf.itertuples(index=False)
    )
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def main():
    import __spark_entry__ as entry_mod
    from kgfarm_spark.session import get_spark

    args = sys.argv[1:]
    shard = None
    if "--shard" in args:
        i = args.index("--shard")
        k, n = (int(x) for x in args[i + 1].split("/"))
        if not 1 <= k <= n:
            raise SystemExit(f"--shard K/N needs 1 <= K <= N, got {k}/{n}")
        shard = (k, n)
        args = args[:i] + args[i + 2 :]
    wanted = args or None
    spark = get_spark(master="local[8]", shuffle_partitions=8)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    if shard is not None:
        k, n = shard
        names = list(oracles)  # registration order — stable across runs
        mine = set(names[k - 1 :: n])
        qs = {name: fn for name, fn in qs.items() if name in mine}
    failures = 0
    for name, fn in qs.items():
        if wanted and name not in wanted:
            continue
        try:
            sdf = fn(spark, SF_DIR)
            spdf = sdf.toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows={len(spdf)} (no oracle — rows-only)")
            continue
        try:
            opdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        ok_rows = len(spdf) == len(opdf)
        ok_schema = sorted(spdf.columns) == sorted(opdf.columns)
        ok_hash = ok_schema and df_hash(spdf) == df_hash(opdf)
        status = "PASS" if (ok_rows and ok_schema and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status} {name}: rows {len(spdf)}/{len(opdf)} schema={ok_schema} hash={ok_hash}"
        )
        if status == "FAIL" and ok_schema:
            # show a small diff sample
            cols = sorted(spdf.columns)
            s = spdf[cols].copy()
            o = opdf[cols].copy()
            skey = s.apply(lambda r: "|".join(norm_cell(v) for v in r), axis=1)
            okey = o.apply(lambda r: "|".join(norm_cell(v) for v in r), axis=1)
            only_s = set(skey) - set(okey)
            only_o = set(okey) - set(skey)
            for x in list(only_s)[:3]:
                print("   spark-only:", x[:200])
            for x in list(only_o)[:3]:
                print("   oracle-only:", x[:200])
        elif status == "FAIL":
            print("   spark cols:", sorted(spdf.columns))
            print("   oracle cols:", sorted(opdf.columns))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
