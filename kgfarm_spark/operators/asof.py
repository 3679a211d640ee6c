"""Point-in-time (as-of) join — the engine's flagship operator.

Generalizes the reference's ``enrich()`` (equi join + freshness-window
interval filter, /root/reference/operations/api.py:518-571, J1+J2 in
SURVEY.md §2.3). The reference iterates joined rows in a Python loop with
``datetime.strptime`` per row; here the same semantics are a declarative
DataFrame plan Catalyst can optimize.

Two result modes:

- ``mode='latest'`` — Feast-style point-in-time-correct join: for each left
  row take the single best right row (backward = most recent right row with
  ``r.ts <= l.ts``; forward = next; nearest = closer of the two). This is
  the north_rule's as-of join.
- ``mode='all_in_window'`` — exact reference-J2 parity: keep *every* right
  row with ``r.ts ∈ [l.ts - tolerance, l.ts]`` (the reference keeps ties,
  strict ``<`` at api.py:551). A plain equi+range join.

``latest`` is planned as a union window: tag both sides, union, one
shuffle on the key, then ``last(value, ignorenulls)`` over an ordered
window carries the most recent right payload onto each left row. Cost:
ONE shuffle of |L|+|R| rows, no fan-out, no join explosion — robust when
a single left timestamp matches thousands of right rows. This is the
100 TB path: it shuffles each input exactly once on the conversation key
(the same partitioning downstream window features need, so the exchange
is reused). The whole plan (union, window, tolerance, output projection)
is one SQL statement, so building it costs one parse and one analyzer
pass. Point lookups skip the shuffle: when the left frame is
driver-local (``_driver_local``) and the right side's estimated size is
within ``spark.sql.autoBroadcastJoinThreshold`` (``_fits_one_task``,
read from the analyzed plan's statistics), the union carries a
``COALESCE(1)`` hint. Its single partition already satisfies the
window's clustered distribution, so scan, window and projection run as
ONE job of one stage and one task. Semantics are those of the shuffle
plan; a threshold of -1 turns the path off.

Tie semantics (deterministic, oracle-checked): among right rows sharing the
match timestamp, every direction takes the greatest ``tiebreak`` value;
``nearest`` prefers the backward candidate on equal distance. Keys match
as in an SQL equi join: a null key matches nothing, and a right row with a
null timestamp is never a match.

Zero temporal leakage by construction: a backward match can never read a
right row with ``ts`` greater than the left timestamp (north_rule).
"""

from __future__ import annotations

import re
import uuid
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: interval units a tolerance or gap may name: the day-time units of
#: Spark's INTERVAL literal (a month or year has no fixed length)
_TOLERANCE = re.compile(
    r"\s*(\d+)\s+(MICROSECOND|MILLISECOND|SECOND|MINUTE|HOUR|DAY)S?\s*", re.I
)

#: key type name → the ``SparkSession.implicits`` encoder that collects the
#: key column as plain (boxed, nullable) JVM values for the IN-list
_KEY_ENCODERS = {
    "string": "newStringEncoder",
    "long": "newBoxedLongEncoder",
    "integer": "newBoxedIntEncoder",
    "short": "newBoxedShortEncoder",
    "byte": "newBoxedByteEncoder",
    "boolean": "newBoxedBooleanEncoder",
    "date": "newLocalDateEncoder",
    "timestamp": "newInstantEncoder",
    "timestamp_ntz": "newLocalDateTimeEncoder",
}


def _tolerance_expr(tolerance: str | None, name: str = "tolerance") -> str | None:
    """Validate an interval spec like '10 days' / '1 HOUR' and return it as
    an INTERVAL literal. The result is spliced into SQL text, so anything
    but ``<int> <unit>`` is rejected here, as a ``ValueError`` naming the
    argument ``name``, rather than surfacing as a parse error deep in plan
    construction."""
    if tolerance is None:
        return None
    m = _TOLERANCE.fullmatch(tolerance) if isinstance(tolerance, str) else None
    if m is None:
        raise ValueError(
            f"{name} must look like '<int> <unit>' with unit one of "
            f"MICROSECOND, MILLISECOND, SECOND, MINUTE, HOUR, DAY; got {tolerance!r}"
        )
    return f"INTERVAL {m.group(1)} {m.group(2).upper()}"


def _ident(name: str) -> str:
    """Quote a column name for splicing into SQL text."""
    return "`" + name.replace("`", "``") + "`"


def _driver_local(df: DataFrame) -> bool:
    """True when collecting ``df`` launches no Spark job: it is
    ``isLocal()`` (e.g. ``createDataFrame`` of a pandas frame) or its
    optimized plan folds to a ``LocalRelation`` (a projection or filter of
    such a frame)."""
    if df.isLocal():
        return True
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def _fits_one_task(df: DataFrame) -> bool:
    """True when ``df``'s estimated size is within
    ``spark.sql.autoBroadcastJoinThreshold``: the bound Spark already uses
    to plan a relation without a shuffle (a negative threshold disables
    it). The estimate is the analyzed plan's statistics (``logicalPlan``),
    so deciding costs no optimizer pass and no Spark job."""
    limit = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return 0 <= df._jdf.logicalPlan().stats().sizeInBytes() <= limit


def keyset_reduce(
    right: DataFrame, left: DataFrame, keys: Sequence[str], local: bool | None = None
) -> DataFrame:
    """Reduce ``right`` to the rows whose key occurs in ``left`` — the
    data-induced predicate of a key-equi join pushed to the right side's
    scan. Exact for any operator whose output rows only read right rows of
    their own key. ``local`` is ``_driver_local(left)`` when the caller has
    it already. Two mechanisms:

    - ``left`` driver-local with a single key of a plain type: its key
      column is collected on the driver — no Spark job, the projection
      folds into the local relation — and ``right`` is filtered by ONE
      ``key IN (...)`` expression built JVM-side from the collected list,
      in a fixed handful of py4j calls on the two ``_jdf`` handles (not
      one literal per key). Parquet and DSv2 scans push the predicate down;
      Catalyst drops duplicate values and evaluates the list as a hash
      set. A null left key adds a NULL, which matches nothing. The list
      needs no size bound of its own: it holds at most one literal per row
      of a relation Spark already embeds in the plan and ships with every
      task.
    - otherwise (a distributed ``left``, composite keys): the distinct key
      set is broadcast and ``right`` is left-semi joined to it, which
      costs the jobs that compute and broadcast the key set. Leave the
      reduction off when ``left`` covers most of ``right``'s keys or its
      key set is too large to broadcast (>~100M keys).
    """
    keys = list(keys)
    enc = None
    if len(keys) == 1:
        enc = _KEY_ENCODERS.get(left.schema[keys[0]].dataType.typeName())
    if enc is None or not (_driver_local(left) if local is None else local):
        return right.join(F.broadcast(left.select(*keys).distinct()), keys, "left_semi")
    key, ljdf, rjdf = _ident(keys[0]), left._jdf, right._jdf
    encoder = getattr(left.sparkSession._jsparkSession.implicits(), enc)()
    values = ljdf.select(getattr(ljdf.col(key), "as")(encoder)).collectAsList()
    return DataFrame(rjdf.filter(rjdf.col(key).isInCollection(values)), right.sparkSession)


def _sql(text: str, views: dict[str, DataFrame]) -> DataFrame:
    """Run ONE SQL statement over DataFrames registered under throwaway
    temp-view names (what ``spark.sql(text, name=df)`` does, without its
    ``str.format`` pass, so braces in column names need no escaping).
    ``spark.sql`` analyzes eagerly, so the views can go right after. It
    all runs on the JVM session and one catalog handle: one py4j call per
    view registered or dropped, one for the statement."""
    spark = next(iter(views.values())).sparkSession
    jss = spark._jsparkSession
    catalog = jss.catalog()
    try:
        for name, df in views.items():
            df._jdf.createOrReplaceTempView(name)
        return DataFrame(jss.sql(text), spark)
    finally:
        for name in views:
            catalog.dropTempView(name)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | Sequence[str] = "conv_id",
    left_ts: str = "query_ts",
    right_ts: str = "ts",
    direction: str = "backward",
    tolerance: str | None = None,
    mode: str = "latest",
    right_cols: Sequence[str] | None = None,
    tiebreak: str | None = None,
    probe_pushdown: bool = False,
) -> DataFrame:
    """As-of join ``left`` (entity frame) against ``right`` (feature view).

    Args:
        on: equi key column(s) present on both sides (e.g. ``conv_id``).
        left_ts / right_ts: event-time columns (both inclusive at equality —
            reference keeps ``ts_fv == ts_e``, api.py:551 strict ``<``).
        direction: 'backward' | 'forward' | 'nearest' (latest mode only).
        tolerance: max distance as ``'<int> <unit>'``, e.g. ``'10 days'``
            (reference freshness default, api.py:518) or ``'1 hour'``;
            None = unbounded. Anything else raises ``ValueError``.
        mode: 'latest' (one best match, left rows preserved — left outer)
            or 'all_in_window' (reference interval-join parity — inner).
        right_cols: right payload columns to carry (default: all non-key,
            non-ts columns). The matched right timestamp is always emitted
            as ``matched_ts``.
        tiebreak: right column ordering equal-ts matches (e.g. 'turn_idx').
        probe_pushdown: reduce the right side to the left frame's key set
            BEFORE the join/window shuffle (``keyset_reduce``).
            Exactness-preserving for every mode/direction (an as-of match
            shares the probe's key by definition). A driver-local left
            frame with a single key (the usual small entity frame) becomes
            a ``key IN (...)`` filter on the right scan at no Spark job;
            any other left frame broadcasts its distinct key set into a
            left-semi join, which costs two jobs. Set it when the left
            frame touches a small fraction of the right side's keys — see
            backfill.backfill_asof_fused for the measured 9.5× and the
            when-not-to note.
    """
    keys = [on] if isinstance(on, str) else list(on)
    _tolerance_expr(tolerance)  # validate before any plan is built
    local = _driver_local(left) if probe_pushdown else None  # decided once per call
    if probe_pushdown:
        right = keyset_reduce(right, left, keys, local)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in keys and c != right_ts]
    right_cols = list(right_cols)

    if mode == "all_in_window":
        return _interval_join(left, right, keys, left_ts, right_ts, tolerance, right_cols)
    if mode != "latest":
        raise ValueError(f"unknown mode: {mode!r}")

    one_task = _fits_one_task(right) and (_driver_local(left) if local is None else local)
    return _union_window(
        left, right, keys, left_ts, right_ts, direction, tolerance, right_cols, tiebreak,
        one_task,
    )


# ---------------------------------------------------------------------------
# all_in_window: exact reference J2 semantics (interval join)
# ---------------------------------------------------------------------------


def _interval_join(left, right, keys, left_ts, right_ts, tolerance, right_cols):
    """keep iff right_ts BETWEEN left_ts - tolerance AND left_ts (inclusive
    both ends — api.py:543-553 deletes iff ts_e < ts_fv OR ts_e - f > ts_fv).

    Physical plan: equi join on the key (Catalyst picks broadcast vs
    shuffled), range predicate applied as join condition so it's evaluated
    during the join, not after a full fan-out materialization."""
    r = right.select(
        *[F.col(k).alias(f"__r_{k}") for k in keys],
        F.col(right_ts).alias("matched_ts"),
        *[F.col(c) for c in right_cols],
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(k) == F.col(f"__r_{k}"))
    cond = cond & (F.col("matched_ts") <= F.col(left_ts))
    if tolerance is not None:
        cond = cond & (
            F.col("matched_ts") >= F.col(left_ts) - F.expr(_tolerance_expr(tolerance))
        )
    out = left.join(r, cond, "inner")
    return out.drop(*[f"__r_{k}" for k in keys])


# ---------------------------------------------------------------------------
# latest via union + window (one shuffle, fan-out safe)
# ---------------------------------------------------------------------------


def _union_window(
    left, right, keys, left_ts, right_ts, direction, tolerance, right_cols, tiebreak, one_task
):
    """Tag both sides, union, and carry the last right payload over an
    ordered window per key — built as ONE SQL statement (one parse, one
    analyzer pass, a handful of py4j calls however many columns there are).

    At equal ts the right rows (side 0) sort before the left row, so the
    inclusive match is visible to it; among equal-ts right rows the last
    seen — the max tiebreak — wins. Forward runs the same carry over a
    ts-descending traversal. ``nearest`` computes both carries over the
    same exchange (the hash partitioning is shared, only the intra-
    partition sort runs twice) and keeps the closer match, backward on
    equal distance. The left columns travel as ``__l_<name>`` copies, and
    the right side's NULLs for them take their types from the union's
    type widening, so no schema round trip is needed. ``one_task`` (a
    driver-local left over a small right) coalesces the union to one
    partition instead of shuffling it."""
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown direction: {direction!r}")
    lv, rv = (f"__asof_{side}_{uuid.uuid4().hex}" for side in "lr")
    ks = ", ".join(map(_ident, keys))
    lcopies = [_ident(f"__l_{c}") for c in left.columns]
    tb = f"CAST({_ident(tiebreak)} AS BIGINT)" if tiebreak else "CAST(0 AS BIGINT)"
    payload = ", ".join([f"{_ident(right_ts)} AS matched_ts", *map(_ident, right_cols)])
    present = " AND ".join(f"{_ident(c)} IS NOT NULL" for c in (*keys, right_ts))
    union = (
        f"SELECT {ks}, {_ident(right_ts)} AS __ts, 0 AS __side, {tb} AS __tb, "
        f"struct({payload}) AS __payload, "
        + ", ".join(f"NULL AS {c}" for c in lcopies)
        + f" FROM {rv} WHERE {present}"
        f" UNION ALL SELECT {ks}, {_ident(left_ts)}, 1, NULL, NULL, "
        + ", ".join(map(_ident, left.columns))
        + f" FROM {lv}"
    )

    def carry(order: str, name: str) -> str:
        return (
            f"last(__payload, true) OVER (PARTITION BY {ks} ORDER BY __ts {order}, "
            f"__side, __tb ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS {name}"
        )

    carries = {
        "backward": [carry("ASC", "__b")],
        "forward": [carry("DESC", "__f")],
        "nearest": [carry("ASC", "__b"), carry("DESC", "__f")],
    }[direction]
    if one_task:
        # SinglePartition satisfies the window's clustered distribution, so
        # EnsureRequirements adds no exchange: scan, window and projection
        # run in one task of one stage of one job
        union = f"SELECT /*+ COALESCE(1) */ * FROM ({union})"
    probes = f"SELECT * FROM (SELECT *, {', '.join(carries)} FROM ({union})) WHERE __side = 1"

    # the tolerance CASE is evaluated once per row in its own projection;
    # every output column then reads a field of its result
    tol = _tolerance_expr(tolerance)
    back = f"CASE WHEN __b.matched_ts >= __ts - {tol} THEN __b END" if tol else "__b"
    fwd = f"CASE WHEN __f.matched_ts <= __ts + {tol} THEN __f END" if tol else "__f"
    lsel = ", ".join(lcopies)
    if direction == "backward":
        matched = f"SELECT {lsel}, {back} AS __m FROM ({probes})"
    elif direction == "forward":
        matched = f"SELECT {lsel}, {fwd} AS __m FROM ({probes})"
    else:
        # timestamp_ntz cannot cast straight to double in Spark 4; route
        # via ltz (session TZ pinned to UTC in session.py — deterministic)
        def secs(c: str) -> str:
            return f"CAST(CAST({c} AS TIMESTAMP) AS DOUBLE)"

        use_back = (
            f"__f.matched_ts IS NULL OR (__b.matched_ts IS NOT NULL AND "
            f"{secs('__ts')} - {secs('__b.matched_ts')} <= "
            f"{secs('__f.matched_ts')} - {secs('__ts')})"
        )
        bounded = f"SELECT __ts, {lsel}, {back} AS __b, {fwd} AS __f FROM ({probes})"
        matched = f"SELECT {lsel}, CASE WHEN {use_back} THEN __b ELSE __f END AS __m FROM ({bounded})"

    out = ", ".join(
        [f"{_ident(f'__l_{c}')} AS {_ident(c)}" for c in left.columns]
        + ["__m.matched_ts AS matched_ts"]
        + [f"__m.{_ident(c)} AS {_ident(c)}" for c in right_cols]
    )
    return _sql(f"SELECT {out} FROM ({matched})", {lv: left, rv: right})
