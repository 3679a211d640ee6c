"""Transcript-table source (BASELINE.json ``input_hint`` schema).

The engine's flagship input is a table of multi-turn conversation/agent
transcripts ``(conv_id:string, turn_idx:int, role:string, text:string,
tool:string, ts:timestamp)``. The sandbox has no Iceberg transcript table,
so we *derive* one deterministically from the driver's ``events`` parquet
with a transform that is expressible in both Spark DataFrame ops and ANSI
SQL — which lets every transcript-level operator carry an exact DuckDB
oracle (driver contract, __spark_entry__.py).

At production scale this module is replaced by
``spark.read.format("iceberg").load("catalog.db.transcripts")`` — the
downstream operators only see the input_hint schema, never this derivation.

Scale notes: the derivation contains one window (row_number per user) —
a single shuffle on the conversation key, which is exactly the partitioning
every downstream per-conversation window op wants, so Catalyst reuses the
exchange. On a real Iceberg table turn_idx is stored, no shuffle happens.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Shared ANSI-SQL definitions (valid in BOTH Spark SQL and DuckDB) so the
# DuckDB oracle sees byte-identical derived tables.
# ---------------------------------------------------------------------------

#: transcripts := deterministic reshaping of the `events` table.
#: role encodes event_type; text is a pure string concat (no float
#: formatting — Spark/DuckDB float-to-string differ); ties on ts broken
#: by event_id so row_number is deterministic.
TRANSCRIPTS_SQL = """
SELECT
  'conv_' || lpad(CAST(user_id AS STRING), 6, '0')                       AS conv_id,
  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
       AS INT)                                                           AS turn_idx,
  CASE event_type
       WHEN 'click'    THEN 'user'
       WHEN 'view'     THEN 'user'
       WHEN 'purchase' THEN 'assistant'
       WHEN 'signup'   THEN 'system'
       ELSE 'tool' END                                                   AS role,
  event_type || ':' || props                                             AS text,
  CASE WHEN event_type = 'error'    THEN 'code'
       WHEN event_type = 'purchase' THEN 'search'
       ELSE NULL END                                                     AS tool,
  ts
FROM events
"""

#: probes := the feature_queries frame (FIXTURES.md §2): entity×timestamp
#: rows the point-in-time join resolves. Three flavors — shifted (normal
#: backward match), tie (query_ts == a turn ts; backward INCLUDES it, the
#: reference keeps ts_fv == ts_e via strict `<` at operations/api.py:551),
#: and miss (unknown conv_id → null-result path).
PROBES_SQL = """
SELECT conv_id,
       ts + INTERVAL 37 MINUTE                                   AS query_ts,
       conv_id || '#' || CAST(turn_idx AS STRING) || '#shift'    AS probe_id
FROM transcripts WHERE turn_idx % 7 = 3
UNION ALL
SELECT conv_id,
       ts                                                        AS query_ts,
       conv_id || '#' || CAST(turn_idx AS STRING) || '#tie'      AS probe_id
FROM transcripts WHERE turn_idx % 13 = 2
UNION ALL
SELECT 'conv_miss'                                               AS conv_id,
       ts                                                        AS query_ts,
       conv_id || '#' || CAST(turn_idx AS STRING) || '#miss'     AS probe_id
FROM transcripts WHERE turn_idx % 31 = 5
"""


def oracle_ctes() -> str:
    """WITH-clause prefix for DuckDB oracle SQL strings."""
    return (
        "WITH transcripts AS (" + TRANSCRIPTS_SQL + "),\n"
        "probes AS (" + PROBES_SQL + ")\n"
    )


# ---------------------------------------------------------------------------
# Spark-side loaders (DataFrame API — the idiomatic-engine path)
# ---------------------------------------------------------------------------

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


#: lazy-PLAN memo: session → {source key: the plan's JVM Dataset}. It
#: caches the immutable DataFrame *plan* only, never data: every action on
#: a cached frame still scans the parquet and recomputes in full.
#: Motivation (optimization round, guide §1 measurement): building a query
#: is thousands of py4j round-trips, and ~0.1 s of that per build was
#: re-running parquet schema inference / re-deriving the transcripts
#: window plan that is identical within a session. Weakly keyed by the
#: session, and the values hold only the JVM handle (a Python DataFrame
#: references its session and would keep its own key alive), so a new
#: session never sees a stale plan and a stopped, unreferenced session's
#: plans are released with it.
_PLAN_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _cached_plan(spark: SparkSession, key: tuple, build) -> DataFrame:
    plans = _PLAN_CACHE.setdefault(spark, {})
    jdf = plans.get(key)
    if jdf is not None:
        return DataFrame(jdf, spark)
    df = build()
    plans[key] = df._jdf
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan for a driver table. Column pruning + predicate pushdown
    happen automatically once callers select/filter (verified in tests via
    explain: PushedFilters / ReadSchema).

    The plan, with its schema and file listing, is built once per session
    and reused (``_PLAN_CACHE``): a source directory is assumed immutable
    within a session. Files added or replaced under ``sf_dir`` after the
    first call are not seen until a new session reads it."""
    return _cached_plan(
        spark, (sf_dir, name), lambda: spark.read.parquet(f"{sf_dir}/{name}.parquet")
    )


def scan_repartition(
    df: DataFrame, key: str | None = None, multiplier: int = 1
) -> DataFrame:
    """Repartition a SCAN-ONLY frame up to the session's default
    parallelism when the source yields fewer input splits.

    The driver tables are single-row-group parquet files, so a scan is
    one unsplittable task and every narrow CPU-heavy pipeline above it
    (tokenize/md5/cosine) serializes onto one core (optimization guide
    §2.5 'input skew: one huge unsplittable file … repartition
    immediately after the read'). The guard makes it scale-adaptive: a
    real-scale table already provides >= cores splits and the exchange
    is never added.

    Pass a high-cardinality ``key`` (the id column) to HASH-partition:
    hash partitioning is deterministic, so when several subtrees of one
    query start at this exchange, ReuseExchange materializes it ONCE —
    round-robin exchanges canonicalize as order-dependent and are
    re-executed per consumer (measured: the dedup corpus shuffled twice
    under round-robin, once under hash). Without ``key`` falls back to
    round-robin (still deterministic under retry via Spark's
    sort-before-repartition, SPARK-23207, but not reusable).

    Only call this on frames WITHOUT exchanges (plain scan/filter/
    union/project): reading ``df.rdd`` on an AQE-wrapped plan would
    materialize its query stages eagerly."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * multiplier
    if df.rdd.getNumPartitions() >= target:
        return df
    if key is not None:
        return df.repartition(target, F.col(key))
    return df.repartition(target)


def transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame twin of TRANSCRIPTS_SQL (kept in exact semantic lockstep).

    The row_number window partitions by the ``conv_id`` EXPRESSION rather
    than ``user_id``: the two induce identical row groups because
    ``'conv_' || lpad(user_id, 6, '0')`` is injective on [0, 10^6), and a
    ``user_id`` outside that range raises an error naming it (pinned by
    tests/test_transcripts_derivation.py), and
    partitioning the derivation on the key every downstream
    per-conversation window/join needs lets Catalyst's alias-aware
    partitioning propagation satisfy their ClusteredDistribution without
    a second Exchange (optimization guide §2.4: two operations keyed the
    same way share one exchange). One shuffle of the events table instead
    of two for every transcript window query."""
    return _cached_plan(
        spark, (sf_dir, "__transcripts"), lambda: _build_transcripts(spark, sf_dir)
    )


def _build_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # conv_id must be a projected ATTRIBUTE before the window (not an
    # inline expression) — the window partitioning survives as
    # hashpartitioning(conv_id) only when the partition key is the same
    # attribute downstream operators cluster on.
    # lpad truncates: an id outside [0, 10^6) would share a conv_id (and a
    # turn_idx sequence) with another user, so it raises instead
    uid = F.col("user_id")
    base = ev.select(
        F.when(
            (uid < 0) | (uid >= 1_000_000),
            F.raise_error(
                F.concat(F.lit("user_id outside [0, 10^6): "), uid.cast("string"))
            ),
        )
        .otherwise(F.concat(F.lit("conv_"), F.lpad(uid.cast("string"), 6, "0")))
        .alias("conv_id"),
        "ts",
        "event_id",
        "event_type",
        "props",
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    return base.select(
        "conv_id",
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


def probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame twin of PROBES_SQL — row-identical to the 3-branch
    UNION ALL, computed in ONE pass.

    The literal union translation re-derived the transcripts window
    (scan → shuffle → row_number) once per branch: the physical plan
    carried three Sort+Window subtrees over the (exchange-reused) events
    shuffle, tripling the window work and the union's shuffle read in
    every as-of/flagship query (optimization guide §2.4: remove
    duplicated subtrees). Here each transcript row conditionally emits
    its 0-3 probe rows through one array+explode — the three UNION ALL
    predicates and projections are untouched, so the output multiset is
    exactly PROBES_SQL's (a row matching several predicates emits one
    probe per matching branch, as UNION ALL does)."""
    return _cached_plan(
        spark, (sf_dir, "__probes"), lambda: _build_probes(spark, sf_dir)
    )


def _build_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = transcripts(spark, sf_dir)
    pid = lambda tag: F.concat(  # noqa: E731
        F.col("conv_id"), F.lit("#"), F.col("turn_idx").cast("string"), F.lit(tag)
    )
    branches = F.array(
        F.when(
            F.col("turn_idx") % 7 == 3,
            F.struct(
                F.col("conv_id").alias("conv_id"),
                (F.col("ts") + F.expr("INTERVAL 37 MINUTE")).alias("query_ts"),
                pid("#shift").alias("probe_id"),
            ),
        ),
        F.when(
            F.col("turn_idx") % 13 == 2,
            F.struct(
                F.col("conv_id").alias("conv_id"),
                F.col("ts").alias("query_ts"),
                pid("#tie").alias("probe_id"),
            ),
        ),
        F.when(
            F.col("turn_idx") % 31 == 5,
            F.struct(
                F.lit("conv_miss").alias("conv_id"),
                F.col("ts").alias("query_ts"),
                pid("#miss").alias("probe_id"),
            ),
        ),
    )
    return t.select(
        F.explode(F.filter(branches, lambda p: p.isNotNull())).alias("__p")
    ).select("__p.conv_id", "__p.query_ts", "__p.probe_id")
