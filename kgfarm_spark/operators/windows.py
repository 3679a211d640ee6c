"""Windowed feature engineering over conversation transcripts.

North_rule core (SURVEY.md §2.5/§2.12): lag/lead turn features, rolling
aggregates over turn sequences, gap-based sessionize, role-transition
encoding, and leakage-free cumulative backfill. Generalizes the reference's
window-shaped ops (W1-W4: interpolate/ffill at interface/apis.py:211-216,
default-entity election at kg_augmentor/augment_LiDS.py:89-126, top-k at
operations/api.py:606-619) into proper Spark window specs.

Each op writes its features once: as expressions over a ``WindowSpec``
when a feature reads a bounded number of neighbouring turns (lag/lead,
the role transition, the rolling frame, the session-gap flag), or as rows
of the spec table in ``cumulative`` when it reads the whole prefix (the
backfill features, the session count; the fused backfill shares that
table). The plain path evaluates them over ``PARTITION BY key ORDER BY
turn_idx``: ONE shuffle on the conversation key, shared by every window
expression of a stage (Catalyst collapses same-spec windows into one
Window physical node).

A plain per-key window puts each conversation in one task. For the
pathological case (a single conversation with millions of turns) every op
takes ``max_turns_per_task=B``, which evaluates the SAME expressions under
one exact order-bucket cut, ``__ob = floor(turn_idx / B)``. Full rows are
shuffled once, on (key, bucket), and no window task holds more than B
rows plus edge rows:

- bounded reach: the expressions run per (key, bucket); the first and
  last n rows of each bucket (n: the op's largest lag, lead or frame
  offset) run them again over a per-key window of those edge rows only.
  The edge rows hold every row an edge row's frame can reach, whatever
  the gaps in ``turn_idx``, so a row takes the edge value wherever its
  reach leaves its bucket (a lag of k: the bucket's first k rows).
- cumulative: per-bucket partials, their exclusive prefix over earlier
  buckets (the carry) and the in-bucket prefix, merged
  (``cumulative``). ``sessionize`` is the gap flag of the bounded cut
  followed by this cut's count of the flags.

The cut joins, groups and partitions on ``struct(key)`` and
``struct(bucket)``, which are never NULL and equal for two NULLs: the
NULL-key turns form one conversation and a NULL ``turn_idx`` sorts first,
as in the plain window and the oracle SQL. ``turn_idx`` must be unique
per conversation, since a tie leaves the order arbitrary: a repeated
(key, turn_idx) fails the action that reads the features, from inside
the op's own window (no extra job or shuffle). The fused flagship has its
own time-bucket cut, ``backfill_asof_fused(hot_conv_turns=...)``. The
cross-conversation shuffle uses AQE skew handling (session.py). All
expressions are JVM-side (whole-stage codegen) — no Python in the hot
path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.window import WindowSpec

from kgfarm_spark.operators import cumulative
from kgfarm_spark.operators.asof import _ident, _tolerance_expr
from kgfarm_spark.operators.cumulative import CUMULATIVE

def _check_emitted(df: DataFrame, names: list[str], op: str) -> None:
    """House rule (backfill_asof_fused precedent): raise on input columns
    colliding with emitted feature names — a silent overwrite or a
    duplicate-named column corrupts composed pipelines (review finding:
    backfill_features(rolling_aggregates(df)) yielded two 'text_len'
    columns and AMBIGUOUS_REFERENCE downstream)."""
    clash = sorted(set(df.columns) & set(names))
    if clash:
        raise ValueError(
            f"{op}: input columns {clash} collide with the emitted feature "
            f"names — rename them first"
        )


#: the cut's conversation key ``struct(key)`` and order bucket
#: ``struct(floor(order / B))``; ``__dup`` flags a repeated order value
_KEY, _OB, _DUP = "__key", "__ob", "__dup"

#: a bounded-reach feature of a window spec: (name, expression, reach),
#: where reach -k reads up to k rows back and +k up to k rows ahead
Features = Callable[[WindowSpec], list[tuple[str, Column, int]]]


def _col(name: str) -> Column:
    return F.col(_ident(name))


def turn_window(key: str = "conv_id", order: str = "turn_idx") -> WindowSpec:
    return Window.partitionBy(_col(key)).orderBy(_col(order))


def _rows(df: DataFrame, key: str, order: str, bucket: int | None) -> DataFrame:
    """``df``, tagged with the cut's key and bucket when ``bucket`` is set."""
    if bucket is None:
        return df
    if bucket < 1:
        raise ValueError(
            f"max_turns_per_task must be >= 1, got {bucket}: a non-positive "
            f"bucket size inverts the order buckets, so the prefix carry "
            f"would leak LATER turns into earlier rows (and 0 divides by zero)"
        )
    return df.select(
        "*",
        F.struct(_col(key)).alias(_KEY),
        F.struct(F.floor(_col(order) / F.lit(bucket))).alias(_OB),
    )


def _repeats(w: WindowSpec, order: str) -> Column:
    """True where the row's ``order`` equals the previous row's in ``w``
    (two NULLs equal); NULL on a partition's first row. A lag over the
    op's own window: it adds no Window, Exchange or Sort."""
    o = F.struct(_col(order))
    return (F.lag(o).over(w) == o).alias(_DUP)


def _checked(out: DataFrame, columns: list[str], names: list[str], key: str, order: str) -> DataFrame:
    """``columns`` and the features ``names`` of ``out``; each feature
    fails its action on a row that repeats the previous row's order."""
    fail = F.raise_error(F.lit(
        f"duplicate ({key}, {order}): turn order within a conversation is ambiguous"
    ))
    return out.select(
        *map(_col, columns),
        *[F.when(F.col(_DUP), fail).otherwise(_col(n)).alias(n) for n in names],
    )


def _bounded(rows: DataFrame, features: Features, key: str, order: str, bucket: int | None) -> DataFrame:
    """``rows`` with each feature and ``__dup``: over the per-key window,
    or under the order-bucket cut of ``_rows``-tagged rows."""
    if bucket is None:
        w = turn_window(key, order)
        return rows.select("*", *[c.alias(n) for n, c, _ in features(w)], _repeats(w, order))
    wb = Window.partitionBy(_KEY, _OB).orderBy(_col(order))
    feats = features(wb)
    inb = rows.select(
        "*",
        *[c.alias(n) for n, c, _ in feats],
        _repeats(wb, order),
        F.row_number().over(wb).alias("__r"),
        F.count(F.lit(1))
        .over(wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("__n"),
    )
    r, n_rows = F.col("__r"), F.col("__n")
    n = max((abs(k) for *_, k in feats), default=0)
    edge = (r <= n) | (r > n_rows - n)
    # the edge rows again, over a per-key window of the edge rows only: a
    # feature takes that value where the row's reach leaves its bucket
    again = {
        name: F.when(r <= -k if k < 0 else r > n_rows - k, c)
        for name, c, k in features(Window.partitionBy(_KEY).orderBy(_col(order)))
        if k
    }
    fixed = inb.filter(edge).select(*[
        again[c].otherwise(_col(c)).alias(c) if c in again else _col(c) for c in inb.columns
    ])
    # both branches read the same full-row shuffle; the edge rows go back
    # to (key, bucket) so the union keeps that partitioning for a carry
    # cut after it (spark.sql.unionOutputPartitioning)
    return inb.filter(~edge).unionByName(fixed.repartition(_KEY, _OB))


def _windowed(df: DataFrame, features: Features, key: str, order: str, bucket: int | None) -> DataFrame:
    """``df`` with its bounded-reach ``features``, duplicate-checked."""
    names = [name for name, _, _ in features(turn_window(key, order))]
    out = _bounded(_rows(df, key, order, bucket), features, key, order, bucket)
    return _checked(out, df.columns, names, key, order)


def _cumulative(rows: DataFrame, spec, key: str, order: str, bucket: int | None) -> DataFrame:
    """``rows`` with each feature of the cumulative ``spec`` and
    ``__dup``: one window over each conversation, or the bucket+carry
    cut of ``_rows``-tagged rows."""
    if bucket is None:
        over = cumulative.frame([key], [order])
        w = turn_window(key, order)
        return rows.select("*", *map(F.expr, cumulative.window(spec, over)), _repeats(w, order))
    partials = rows.groupBy(_KEY, _OB).agg(*map(F.expr, cumulative.parts(spec)))
    carry = partials.selectExpr(_KEY, _OB, *cumulative.carry(spec, _KEY))
    # equi-join on (key, bucket): AQE broadcasts the carry frame when it
    # fits; at extreme key cardinality it falls back to a shuffle join on
    # the SAME (key, bucket) axis the window needs anyway. Never force a
    # broadcast: the carry has a row per (conversation, bucket) for EVERY
    # conversation. Every (key, bucket) of ``rows`` has its carry row.
    over = cumulative.frame([_KEY, _OB], [order])
    wb = Window.partitionBy(_KEY, _OB).orderBy(_col(order))
    inner = rows.join(carry, [_KEY, _OB]).select(
        "*", *map(F.expr, cumulative.parts(spec, over)), _repeats(wb, order)
    )
    return inner.selectExpr("*", *cumulative.combine(spec))


def lag_lead_features(
    df: DataFrame,
    cols: dict[str, int] | None = None,
    key: str = "conv_id",
    order: str = "turn_idx",
    max_turns_per_task: int | None = None,
) -> DataFrame:
    """lag/lead features per turn (SURVEY.md §2.12).

    ``cols`` maps column → max offset; emits ``<col>_lag_<n>`` and
    ``<col>_lead_<n>`` for n in 1..offset. Default: role/ts lag+lead 1.
    ``max_turns_per_task``: the order-bucket cut (module docstring).
    """
    cols = cols or {"role": 1, "ts": 1}

    def features(w: WindowSpec) -> list[tuple[str, Column, int]]:
        return [
            (f"{c}_{kind}_{n}", fn(_col(c), n).over(w), sign * n)
            for c, depth in cols.items()
            for n in range(1, depth + 1)
            for kind, fn, sign in (("lag", F.lag, -1), ("lead", F.lead, 1))
        ]

    return _windowed(df, features, key, order, max_turns_per_task)


def rolling_aggregates(
    df: DataFrame,
    n_turns: int = 3,
    key: str = "conv_id",
    order: str = "turn_idx",
    max_turns_per_task: int | None = None,
) -> DataFrame:
    """Rolling (current + previous ``n_turns``) aggregates per turn:
    text-length mean/max, tool-usage count, user-turn count — the derived
    features the north_rule backfills. Pure rowsBetween frames, all in
    ONE select over base columns → Catalyst emits a SINGLE Window node
    (window exprs referencing withColumn-derived columns interleave
    Projects that block the CollapseWindow rule).

    ``max_turns_per_task``: the order-bucket cut (module docstring); any
    bucket size is exact, also one not above ``n_turns``."""

    def features(w: WindowSpec) -> list[tuple[str, Column, int]]:
        text_len = F.length("text")
        frame = w.rowsBetween(-n_turns, Window.currentRow)
        return [
            ("text_len", text_len, 0),
            ("roll_text_len_avg", F.avg(text_len).over(frame), -n_turns),
            ("roll_text_len_max", F.max(text_len).over(frame), -n_turns),
            ("roll_tool_calls", F.sum(F.col("tool").isNotNull().cast("long")).over(frame), -n_turns),
            ("roll_user_turns", F.sum((F.col("role") == "user").cast("long")).over(frame), -n_turns),
        ]

    return _windowed(df, features, key, order, max_turns_per_task)


#: the session count: the number of session-starting turns so far
_SESSIONS = (cumulative.Feature("__sessions", "__new_session", "count"),)


def sessionize(
    df: DataFrame,
    gap: str = "30 minutes",
    key: str = "conv_id",
    ts: str = "ts",
    order: str = "turn_idx",
    max_turns_per_task: int | None = None,
) -> DataFrame:
    """Gap-based session boundary detection: a new session starts when the
    inter-turn gap exceeds ``gap``. Emits ``session_id`` (0-based per conv)
    via the classic flag-then-count window pattern — no per-row Python.

    ``max_turns_per_task``: the order-bucket cut (module docstring) — the
    gap flag under the bounded cut, its count under the carry cut.

    (Streaming twin: ``F.session_window(ts, gap)`` — streaming/stream.py.)
    """
    _check_emitted(df, ["session_id"], "sessionize")
    interval = F.expr(_tolerance_expr(gap, "gap"))

    def flag(w: WindowSpec) -> list[tuple[str, Column, int]]:
        prev = F.lag(_col(ts)).over(w)
        return [("__new_session", prev.isNull() | (_col(ts) > prev + interval), -1)]

    rows = _rows(df, key, order, max_turns_per_task)
    flagged = _bounded(rows, flag, key, order, max_turns_per_task).drop(_DUP)
    out = _cumulative(flagged, _SESSIONS, key, order, max_turns_per_task)
    return _checked(
        out.selectExpr("*", "CAST(__sessions - 1 AS INT) AS session_id"),
        df.columns, ["session_id"], key, order,
    )


def role_transitions(
    df: DataFrame,
    key: str = "conv_id",
    order: str = "turn_idx",
    max_turns_per_task: int | None = None,
) -> DataFrame:
    """Role-transition encoding per turn: ``prev_role->role`` (first turn:
    ``start->role``). Reference analog: sequential pipeline-graph mining
    (operations/template.py:200-250 orders calls by nextCall edges).

    ``max_turns_per_task``: the order-bucket cut (module docstring)."""

    def features(w: WindowSpec) -> list[tuple[str, Column, int]]:
        prev = F.coalesce(F.lag("role").over(w), F.lit("start"))
        return [("role_transition", F.concat(prev, F.lit("->"), F.col("role")), -1)]

    return _windowed(df, features, key, order, max_turns_per_task)


_BACKFILL_EMITTED = ["text_len", *[f.name for f in CUMULATIVE], "tool_call_rate"]


def backfill_features(
    df: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    order: str = "turn_idx",
    max_turns_per_task: int | None = None,
) -> DataFrame:
    """Leakage-free cumulative feature backfill at each (conv_id, ts):
    turn counts, tool-usage frequencies, text-length statistics computed
    over ONLY the turns at-or-before the current one (frame ends at
    currentRow → zero temporal leakage by construction, north_rule).
    The features are defined once, in ``cumulative.CUMULATIVE``.

    The output is a feature table keyed (conv_id, ts) that the as-of join
    resolves probes against — together they reproduce the reference's
    enrich() pipeline (operations/api.py:518-571) Spark-first.

    ``max_turns_per_task``: scale guard for pathologically long
    conversations. The default per-key window puts each conversation in
    ONE task — fine for transcripts (bounded length), fatal for a 10M-turn
    conversation. When set, the features come from the exact bucket+carry
    cut (module docstring): the partials are one cheap shuffle whose
    output is |convs|·|buckets| tiny rows, their prefix a window over ≤
    rows/B rows per key, and a 10M-turn conversation becomes 10M/B
    parallel tasks instead of one straggler.

    ``ts`` names the event-time column carried through (the output table
    is keyed (key, ts) for the as-of join); the COMPUTATION orders by
    ``order`` — ts itself is passed through, never read.
    """
    _check_emitted(df, _BACKFILL_EMITTED, "backfill_features")
    # single Window pass (see rolling_aggregates); the derived
    # tool_call_rate ratio is a scalar projection AFTER the window stage
    rows = _rows(df, key, order, max_turns_per_task).selectExpr("*", *cumulative.turn_row())
    out = _cumulative(rows, CUMULATIVE, key, order, max_turns_per_task)
    return _checked(
        out.selectExpr("*", "__text_len AS text_len", cumulative.TOOL_CALL_RATE),
        df.columns, _BACKFILL_EMITTED, key, order,
    )
