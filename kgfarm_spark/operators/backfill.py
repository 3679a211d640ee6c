"""Fused backfill + point-in-time resolve — the optimized flagship path.

The naive plan (backfill_features → asof_join) shuffles the transcript
table TWICE on conv_id: once for the cumulative windows, once for the
union-window as-of join. But a probe row is just a zero-contribution
event on the same (conv_id, ts) axis — so we can union probes INTO the
transcript stream first and compute the cumulative features in a single
window pass where probe rows contribute nothing and simply read the
running state. ONE shuffle of |turns|+|probes| rows total, and the
``text`` column is projected down to ``length(text)`` before the
exchange (shuffle bytes ∝ fixed-width columns only).

Equivalent to asof_join(probes, backfill_features(t), direction=
'backward', mode='latest') — same oracle SQL, verified by the driver
gate — but with half the shuffle volume. At 10^12 turns this is the
difference between 2 PB and 1 PB of shuffle I/O. Equivalence note: the
fused state is ordered by EVENT TIME; the naive composition orders the
cumulative features by turn_idx. The two agree whenever ts is monotone
in turn_idx within a conversation (the transcript invariant the datagen
and oracle share). On out-of-order event data the ts ordering is the
point-in-time-CORRECT one — "features as of probe ts" must reflect
exactly the turns with ts <= probe ts, and a turn_idx-ordered prefix
would leak later-timestamped turns into earlier probes.

Leakage-free by construction: every window frame ends at the current
row, and probe rows are ordered AFTER transcript rows at equal ts
(inclusive backward semantics, reference api.py:551 strict ``<``).

The features, and the partials, carry and combine of their bucketed
form, are generated from the one spec table in ``cumulative``; this
module only lays out the stream and cuts the buckets.

Hot-conversation guard (``hot_conv_turns``): a per-key window puts each
conversation in ONE task. For transcripts that is normally fine (a
conversation is bounded by its length), but a pathological multi-million
-turn conversation becomes a straggler. When ``hot_conv_turns`` is set,
conversations whose unioned row count meets the threshold are split into
fixed-width event-time buckets over their own turn span and the
cumulative window partitions by (key, bucket) with an exclusive prefix
carry (every cumulative feature is a prefix of an associative aggregate,
so the decomposition is exact — pytest-pinned). Cold keys take bucket 0
and no carry, so hot and cold share ONE window pass; the guard costs two
extra passes (per-key stats over the union, hot-turn partials), both
with tiny broadcastable outputs. Per-task rows for a hot conversation
drop to ~|conv| / n_hot_buckets.

``hot_conv_turns='auto'`` decides the guard from the data: engage iff the
largest unioned key group holds at least ``max(rows / n_cores, 2)`` rows
(``_auto_hot_threshold``). The common answer, guard off, is certified by
ONE shuffle-free scan of the key column whose observed metrics are the
row count, the NULL-key count and a count-min sketch of the keys (Cormode &
Muthukrishnan, J. Algorithms 2005): every sketch cell counts at least each
key hashed into it, so the largest cell bounds the largest group from
above, and a bound under the threshold proves the guard stays off. Only
when the bound reaches the threshold does the exact per-key count
aggregate run, so the decision and threshold equal the exact rule's on
every input.

What the decision costs. Cold, the certificate job runs on a background
thread while the plain plan is built; the guarded plan is built only if
the guard engages. Its verdict is then memoized per session and pair of
input snapshots (each side's canonical plan, file listing and size,
``_memo_entry``). Warm, a repeated call over unchanged inputs that was
proven guard-off starts no thread and no job; a call with any new side
runs the certificate again over both.
"""

from __future__ import annotations

import hashlib
import struct
import threading
import weakref
from collections import OrderedDict
from functools import reduce
from numbers import Integral

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgfarm_spark.operators import cumulative
from kgfarm_spark.operators.asof import _ident, _tolerance_expr, keyset_reduce
from kgfarm_spark.operators.cumulative import CUMULATIVE, MATCHED_TS

#: the fused state's features, in output order
_SPEC = (MATCHED_TS, *CUMULATIVE)
_FEATURES = [f.name for f in _SPEC]
#: the order of the unioned stream: (ts, side, turn)
_ORDER = ["__ts", "__side", "__tb"]

#: fixed hash seed of the auto guard's count-min sketch (a given input
#: always takes the same decision path)
_SKETCH_SEED = 17


def _union_frame(
    transcripts: DataFrame,
    probes: DataFrame,
    key: str,
    ts: str,
    probe_ts: str,
    probe_cols: list[str],
) -> DataFrame:
    """Union probes into the transcript stream on the (key, ts) axis.
    Turns sort before probes at equal ts (__side 0 < 1 → inclusive
    backward semantics) and carry the canonical row of the cumulative
    features (``cumulative.turn_row``: ``text`` is projected to its length
    BEFORE the shuffle). Each side's missing columns are NULLs typed by
    ``unionByName`` from the other side (no type is spelled out in SQL
    text), so a probe's canonical row is all NULL and contributes nothing.

    Built with ``selectExpr`` (whole projection parsed JVM-side in one
    round-trip): the per-column ``F.*`` form cost a few hundred py4j
    round-trips per construction, a measurable slice of the per-query
    wall at interactive scale (guide §1: measure — construction showed
    up in the profile, not the executors). The parsed expressions are
    identical Catalyst nodes. Names are quoted with ``asof._ident``.
    Text lengths are BIGINT, the type this output has always given
    text_len_max."""
    turn_side = transcripts.selectExpr(
        _ident(key),
        f"{_ident(ts)} AS __ts",
        "0 AS __side",  # turns sort before probes at equal ts
        "CAST(turn_idx AS BIGINT) AS __tb",
        *cumulative.turn_row("BIGINT"),
    )
    probe_side = probes.selectExpr(
        _ident(key),
        f"{_ident(probe_ts)} AS __ts",
        "1 AS __side",
        *[f"{_ident(c)} AS {_ident(f'__p_{c}')}" for c in probe_cols],
    )
    return turn_side.unionByName(probe_side, allowMissingColumns=True)


def _fused_state(u: DataFrame, key: str) -> DataFrame:
    """Cumulative feature state over the unioned stream: ONE window
    partitioned by ``key`` ordered (ts, side, turn).

    ONE selectExpr so Catalyst emits a single Window operator for all
    eight expressions (chained withColumn + scalar wrappers like
    coalesce interleave Projects between Window nodes, which blocks the
    CollapseWindow rule → 8 sequential window passes instead of 1), and
    the whole projection crosses py4j once (construction cost — see
    ``_union_frame``)."""
    over = cumulative.frame([key], _ORDER)
    return u.selectExpr("*", *cumulative.window(_SPEC, over))


def _hot_bounds(
    transcripts: DataFrame,
    key: str,
    ts: str,
    hot_conv_turns: int,
    n_buckets: int,
    probes: DataFrame,
) -> DataFrame:
    """ONE aggregate pass over (key, ts) — column-pruned at the scan —
    computing both hot-key detection (UNIONED row count ≥ threshold:
    probe rows sit in the same window task as the turns, so a key
    skewed by a huge probe frame is just as much a straggler — review
    finding) and a per-key FIXED-WIDTH event-time bucket grid (min/max
    over TRANSCRIPT ts; probe rows outside the span clamp to the edge
    buckets, which stays exact). Only hot keys survive, so the result
    is tiny and broadcastable.

    Fixed-width beats quantile boundaries here twice over: the fit is a
    plain min/max (no percentile sketch merge), and the per-row bucket
    lookup is pure codegen arithmetic — a quantile-array search is an
    interpreted higher-order function costing ~µs/row, which at millions
    of hot rows × three passes dominated the whole guard. Bucket balance
    now depends on the key's event-time uniformity instead of exact row
    quantiles; that only affects parallelism, never correctness (any
    monotone pure-function-of-ts cut gives an exact decomposition)."""
    k = F.col(_ident(key))
    tsd = F.col(_ident(ts)).cast("timestamp").cast("double")
    # probe rows count toward the straggler threshold but a NULL tsd
    # keeps them out of the transcript-span min/max
    rows = transcripts.select(k, tsd.alias("__tsd")).unionByName(
        probes.select(k, F.lit(None).cast("double").alias("__tsd"))
    )
    stats = (
        rows.groupBy(k)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min("__tsd").alias("__lo"),
            F.max("__tsd").alias("__hi"),
        )
        .filter(F.col("__n") >= hot_conv_turns)
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_buckets))
    return stats.select(
        k,
        F.col("__lo"),
        F.when(width > 0, width).alias("__w"),  # degenerate span → bucket 0
        F.lit(n_buckets).alias("__nb"),
    )


def _bucket_col(tsd):
    """Clamped fixed-width time slot against the broadcast grid columns
    (__lo, __w, __nb) — pure codegen arithmetic, monotone in ts, equal ts
    always shares a bucket. Rows outside the key's turn span clamp to the
    first/last bucket — still monotone, so still exact. A row with no grid
    (a cold key, or a degenerate span) takes bucket 0."""
    return F.when(F.col("__w").isNull(), F.lit(0)).otherwise(
        F.least(
            F.greatest(F.floor((tsd - F.col("__lo")) / F.col("__w")), F.lit(0)),
            (F.col("__nb") - 1).cast("long"),
        ).cast("int")
    )


def _fused_state_guarded(u: DataFrame, key: str, hot_bounds: DataFrame) -> DataFrame:
    """Exact twin of ``_fused_state`` with a hot-key straggler guard —
    ONE window pass for hot and cold keys alike.

    Hot rows get a fixed-width time-bucket id from their key's broadcast
    grid (``_hot_bounds``); cold keys get bucket 0. The cumulative window
    partitions by (key, bucket) — for cold keys that IS the plain per-key
    window. The per-bucket prefix carry is broadcast-joined AFTER the
    window (the shuffle+sort moves only the fixed-width union columns
    plus one int, not the carry columns) and is NULL for cold rows, so
    the combine reduces to the in-bucket values there.

    The carry is computed from the turns of hot keys only (the inner
    broadcast join): probe rows contribute nothing to any partial. It is
    DENSIFIED to every bucket id 0..n_buckets-1 per hot key (the grid
    from the broadcast bounds, left-joined with the observed partials): a
    probe can land in a turn-free time bucket of a hot conversation (an
    activity gap), and that bucket must still inherit the prefix state of
    all earlier buckets. Guard cost over the plain path: one
    column-pruned (key, ts) stats pass and one turns-only partials pass,
    both with tiny outputs."""
    k = F.col(_ident(key))
    tsd = F.col("__ts").cast("timestamp").cast("double")
    hot_turns = (
        u.filter(F.col("__side") == 0)
        .join(F.broadcast(hot_bounds), key)
        .withColumn("__ob", _bucket_col(tsd))
    )
    partials = hot_turns.groupBy(k, "__ob").agg(*map(F.expr, cumulative.parts(_SPEC)))
    grid = hot_bounds.select(
        k, F.explode(F.sequence(F.lit(0), F.col("__nb") - 1)).alias("__ob")
    )
    carry = grid.join(partials, [key, "__ob"], "left").selectExpr(
        _ident(key), "__ob", *cumulative.carry(_SPEC, key)
    )
    tagged = (
        u.join(F.broadcast(hot_bounds), key, "left")
        .withColumn("__ob", _bucket_col(tsd))
        .drop("__lo", "__w", "__nb")
    )
    # in-bucket partials only — the carry combine happens after
    over = cumulative.frame([key, "__ob"], _ORDER)
    inner = tagged.selectExpr("*", *cumulative.parts(_SPEC, over))
    return inner.join(F.broadcast(carry), [key, "__ob"], "left").selectExpr(
        *map(_ident, u.columns), *cumulative.combine(_SPEC)
    )


def _engage_threshold(n_rows: int, n_cores: int) -> int:
    """Group size at which the auto guard engages: a core's share of the
    unioned rows, at least 2."""
    return max(int(n_rows / n_cores), 2)


def _sketch_proves_cold(keys: DataFrame, key: str, n_cores: int) -> bool:
    """True only if no group of ``keys`` (the NULL group included) can
    reach ``_engage_threshold`` — proven from ONE scan job with no
    exchange: observed metrics (count(*), the NULL-key count and a
    count-min sketch of the key) ride on the key scan, are merged on the
    driver, and no row leaves the executors.

    A sketch cell counts every key hashed into it, so the largest cell of
    any row bounds the largest non-NULL group from above. The width is
    128·n_cores cells (eps = 1/(64·n_cores), confidence 0.5 → one row),
    so uncolliding groups of a core's share sit far below the threshold.
    False — fall through to the exact aggregate — when the bound reaches
    the threshold, when the metrics are missing or inconsistent, or when
    the key type's byte equality is not its grouping equality (floats,
    non-binary collations: one group could span several cells).

    The metrics are read from the query's own ``QueryExecution`` after
    draining it with ``toRdd().count()``. ``pyspark.sql.Observation`` is
    not used: registering one stores a non-serializable
    ``ObservationManager`` on the session (Spark 4.1), after which any
    task closure that captures the session — ``LogisticRegressionModel.
    transform`` for one — fails to serialize."""
    dtype = keys.schema[key].dataType
    binary_eq = isinstance(dtype, (T.IntegralType, T.BinaryType)) or (
        isinstance(dtype, T.StringType) and dtype.collation == "UTF8_BINARY"
    )
    if not binary_eq:
        return False
    name = "hot_guard_certificate"
    col = F.col(_ident(key))
    qe = keys.observe(
        name,
        F.count(F.lit(1)),
        F.count_if(col.isNull()),
        F.count_min_sketch(col, 1.0 / (64 * n_cores), 0.5, _SKETCH_SEED),
    )._jdf.queryExecution()
    rows = qe.toRdd().count()
    observed = qe.observedMetrics().get(name)
    if observed.isEmpty():
        return False
    m = observed.get()
    n, nulls, buf = m.getLong(0), m.getLong(1), bytes(m.get(2))
    # CountMinSketchImpl.writeTo, big-endian: version, totalCount, depth,
    # width, depth hash seeds, then the depth x width table of longs
    version, total, depth, width = struct.unpack_from(">iqii", buf)
    table_at = 20 + 8 * depth
    if (
        rows != n
        or version != 1
        or total != n - nulls
        or depth < 1
        or width < 1
        or len(buf) != table_at + 8 * depth * width
    ):
        return False
    table = struct.unpack_from(f">{depth * width}q", buf, table_at)
    bound = min(max(table[r * width : (r + 1) * width]) for r in range(depth))
    return max(nulls, bound) < _engage_threshold(n, n_cores)


#: the certificate's verdict per (turns, probes) input snapshot pair, per
#: session, so a repeated call over unchanged inputs runs no decision
#: job. Weakly keyed by the session as ``transcripts._PLAN_CACHE`` is, so
#: a dead session's entries go with it; beyond ``_MEMO_ENTRIES`` pairs
#: the least recently used goes first. Each entry pins its frames'
#: analyzed plans on the JVM until it is evicted or its session dies —
#: at most ``2 * _MEMO_ENTRIES`` plans per session; for a
#: ``createDataFrame`` input that plan is a LocalRelation holding its rows.
_SKETCH_MEMO: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_MEMO_ENTRIES = 32
_MEMO_LOCK = threading.Lock()


def _memo_entry(frames: list[DataFrame], key: str, n_cores: int) -> tuple | None:
    """``(plans, memo key)`` under which the verdict for ``frames`` is
    memoized, or None when a frame's plan is not deterministic. Per
    frame, the memo key holds its canonical analyzed plan's
    ``semanticHash`` (a hit is confirmed by ``sameResult``), an md5 of
    its sorted ``inputFiles`` listing and its analyzed ``sizeInBytes``;
    then the key column and ``n_cores``, which sets the sketch width and
    the threshold. A directory read again after a file was added, removed
    or resized plans to the same canonical form, but not to the same
    listing and size.

    The frame's own plan is used rather than that of its key projection:
    it separates at least the same inputs, and a repeated call over the
    same frame object finds its analysis, canonical form and listing
    already cached, so the lookup builds no projection."""
    plans, snapshots = [], []
    for frame in frames:
        plan = frame._jdf.queryExecution().analyzed()
        if not plan.deterministic():
            return None
        listing = hashlib.md5("\n".join(sorted(frame.inputFiles())).encode())
        plans.append(plan)
        snapshots.append((plan.semanticHash(), listing.hexdigest(), plan.stats().sizeInBytes()))
    return plans, (tuple(snapshots), key, n_cores)


def _memo_get(session, entry: tuple | None) -> bool | None:
    if entry is None:
        return None
    plans, key = entry
    with _MEMO_LOCK:
        memo = _SKETCH_MEMO.get(session)
        hit = memo.get(key) if memo is not None else None
        if hit is not None:
            memo.move_to_end(key)
    if hit is None or not all(p.sameResult(q) for p, q in zip(plans, hit[0])):
        return None
    return hit[1]


def _memo_put(session, entry: tuple, cold: bool) -> None:
    plans, key = entry
    with _MEMO_LOCK:
        memo = _SKETCH_MEMO.setdefault(session, OrderedDict())
        memo[key] = (plans, cold)
        memo.move_to_end(key)
        while len(memo) > _MEMO_ENTRIES:
            memo.popitem(last=False)


def _exact_hot_threshold(keys: DataFrame, key: str, n_cores: int) -> int | None:
    """The exact rule: count every key group, engage iff the largest one
    meets ``_engage_threshold``."""
    row = (
        keys.groupBy(F.col(_ident(key)))
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("__mx"), F.sum("__n").alias("__tot"))
        .first()
    )
    if row is None or row["__tot"] is None:
        return None
    threshold = _engage_threshold(row["__tot"], n_cores)
    return threshold if row["__mx"] >= threshold else None


def _pending_decision(transcripts: DataFrame, key: str, probes: DataFrame | None):
    """The auto rule as far as the memo takes it, with no Spark job: None
    when the memoized verdict proves the guard off, else a call that
    finishes the decision. That call runs the certificate unless the memo
    holds its verdict, memoizes the verdict, and runs the exact aggregate
    when the bound reaches the threshold (the exact aggregate is never
    memoized)."""
    session = transcripts.sparkSession
    n_cores = max(session.sparkContext.defaultParallelism, 2)
    # the window task holds the UNION of turns and probes per key
    frames = [transcripts] if probes is None else [transcripts, probes]
    entry = _memo_entry(frames, key, n_cores)
    cold = _memo_get(session, entry)
    if cold:
        return None

    def finish() -> int | None:
        keys = reduce(DataFrame.unionByName, (f.select(F.col(_ident(key))) for f in frames))
        verdict = cold
        if verdict is None:
            verdict = _sketch_proves_cold(keys, key, n_cores)
            if entry is not None:
                _memo_put(session, entry, verdict)
        return None if verdict else _exact_hot_threshold(keys, key, n_cores)

    return finish


def _auto_hot_threshold(
    transcripts: DataFrame, key: str, probes: DataFrame | None = None
) -> int | None:
    """Decide whether the hot-conversation guard should engage, and at
    what threshold.

    Crossover rule (measured, BENCH.md §2c): engage once a single
    conversation holds more than ~1/n_cores of all rows — below that,
    the plain per-key window's natural parallelism already hides the
    straggler. What the rule optimizes is the STRAGGLER BOUND (max task
    time — the cluster-scale metric: BENCH_SKEW.json records the
    window-stage max task dropping 20.6x → 2.0x at pathological skew),
    NOT single-box wall time: on a lightly-loaded local[N] box the
    guard's extra bucket/carry shuffles can exceed what the straggler
    cost on moderate skew, which is exactly why the threshold stays off
    (returns None) until one key truly dominates a core's share.
    Returns the engage threshold ``total_rows / n_cores`` when the
    largest key group (turns + probes, NULL keys one group) meets it,
    else None (guard off).

    Cost, cold: one shuffle-free scan of the unioned key column certifies
    the common None (``_sketch_proves_cold``); only when the certificate
    fails does the exact per-key count aggregate (``_exact_hot_threshold``)
    run, so the answer is the exact rule's on every input. Warm: the
    certificate's verdict is memoized per pair of input snapshots
    (``_memo_entry``), so a repeated call over unchanged inputs runs no
    job when it proved the guard off, and only the exact aggregate when
    it did not. A stale hit could only pick the slower of two plans with
    equal outputs."""
    pending = _pending_decision(transcripts, key, probes)
    return None if pending is None else pending()


class _BackgroundCall(InheritableThread):
    """``fn(*args)`` on a pyspark ``InheritableThread``, which copies the
    caller's local properties (job group, job tags) so its Spark jobs are
    counted and cancelled with the caller's. ``result()`` joins it and
    returns the value, or re-raises the call's exception in the caller."""

    def __init__(self, session: SparkSession, fn, *args):
        self._value = self._error = None
        super().__init__(lambda: self._call(fn, args), session=session, daemon=True)
        self.start()

    def _call(self, fn, args) -> None:
        try:
            self._value = fn(*args)
        except BaseException as e:  # noqa: BLE001 — re-raised by result()
            self._error = e

    def result(self):
        self.join()
        if self._error is not None:
            raise self._error
        return self._value


def _is_count(v) -> bool:
    return isinstance(v, Integral) and not isinstance(v, bool) and v >= 1


def _resolved(state: DataFrame, key: str, probe_cols: list[str], tol_expr) -> DataFrame:
    """Probe rows of the fused state in the output layout. Tolerance /
    no-match nulls the feature block exactly like a missed as-of join
    (matched_ts outside [probe_ts - tol, probe_ts])."""
    valid = "(matched_ts IS NOT NULL)"
    if tol_expr is not None:
        valid = f"(matched_ts IS NOT NULL AND matched_ts >= __ts - {tol_expr})"
    out = state.filter(F.col("__side") == 1).selectExpr(
        _ident(key),
        *[f"{_ident(f'__p_{c}')} AS {_ident(c)}" for c in probe_cols],
        *[f"CASE WHEN {valid} THEN {c} END AS {c}" for c in _FEATURES],
    )
    return out.selectExpr("*", cumulative.TOOL_CALL_RATE)


def backfill_asof_fused(
    transcripts: DataFrame,
    probes: DataFrame,
    key: str = "conv_id",
    ts: str = "ts",
    probe_ts: str = "query_ts",
    tolerance: str | None = None,
    hot_conv_turns: int | str | None = None,
    n_hot_buckets: int = 32,
    probe_pushdown: bool = False,
) -> DataFrame:
    """Resolve each probe (key, probe_ts) to the cumulative transcript
    features as of that instant. Returns probe columns + matched_ts +
    the backfill feature set (same names as windows.backfill_features).

    ``hot_conv_turns``: optional straggler guard — conversations whose
    UNIONED row count (turns + probes — both sit in the same window
    task) meets this threshold take the exact
    bucket+carry path split over ``n_hot_buckets`` event-time buckets
    (see module docstring); everything else stays on the plain
    single-window plan. Pass ``"auto"`` to apply the measured crossover
    rule (engage iff some conversation holds > ~1/n_cores of the rows —
    see ``_auto_hot_threshold``) instead of hand-tuning: one
    shuffle-free count-min scan of the key column certifies "guard off"
    in the common case, the exact per-key count aggregate runs only when
    that bound reaches the threshold, and the decision job overlaps the
    construction of the plain plan (the guarded plan is built only when
    the guard engages). The scan's verdict is memoized per pair of input
    snapshots, so a repeated guard-off call over unchanged inputs runs no
    decision job at all. Arguments are validated before any Spark job:
    ``hot_conv_turns`` must be None, ``"auto"`` or an int >= 1, and
    ``n_hot_buckets`` an int >= 1.

    ``probe_pushdown``: reduce the transcript side to the probe
    frame's conversation set BEFORE the union-window shuffle
    (``asof.keyset_reduce``, the same reduction ``asof_join`` uses).
    Every feature here is conversation-local (all windows partition by
    ``key``), so rows of unprobed conversations can never influence any
    probe's output — the reduction is exactness-preserving (driver
    oracle-gated). Turn it on when the probe frame touches a small
    fraction of the corpus (the common backfill-a-sample case): the
    corpus side is reduced map-side at the scan — at 10^12 turns with
    0.1 percent of conversations probed the window shuffle drops from
    ~1 PB to ~1 TB. A driver-local probe frame becomes a ``key IN
    (...)`` scan filter with no Spark job; a distributed one broadcasts
    its distinct key set into a left-semi join, and on Iceberg/DSv2
    sources the runtime filter can prune whole files. Leave it off when
    probes cover most conversations (the reduction then only adds work)
    or when a distributed probe key set is too large to broadcast
    (>~100M keys)."""
    if not (hot_conv_turns is None or hot_conv_turns == "auto" or _is_count(hot_conv_turns)):
        raise ValueError(
            f"hot_conv_turns must be None, 'auto', or an int >= 1; got "
            f"{hot_conv_turns!r}"
        )
    if not _is_count(n_hot_buckets):
        raise ValueError(f"n_hot_buckets must be an int >= 1; got {n_hot_buckets!r}")
    probe_cols = [c for c in probes.columns if c != key]
    clash = sorted(set(probe_cols) & (set(_FEATURES) | {"tool_call_rate"}))
    if clash:
        raise ValueError(
            f"probe columns {clash} collide with the backfill feature "
            f"output names — rename them (a silent overwrite here would "
            f"corrupt re-backfilled frames)"
        )
    tol_expr = _tolerance_expr(tolerance)
    if probe_pushdown:
        transcripts = keyset_reduce(transcripts, probes, [key])

    if hot_conv_turns == "auto":
        # a decision the memo does not settle runs while the plain plan
        # is built
        pending = _pending_decision(transcripts, key, probes)
        decision = None
        if pending is not None:
            decision = _BackgroundCall(transcripts.sparkSession, pending)
        try:
            u = _union_frame(transcripts, probes, key, ts, probe_ts, probe_cols)
            plain = _resolved(_fused_state(u, key), key, probe_cols, tol_expr)
        finally:
            if decision is not None:
                decision.join()
        hot_conv_turns = None if decision is None else decision.result()
        if hot_conv_turns is None:
            return plain
    else:
        u = _union_frame(transcripts, probes, key, ts, probe_ts, probe_cols)
        if hot_conv_turns is None:
            return _resolved(_fused_state(u, key), key, probe_cols, tol_expr)

    bounds = _hot_bounds(transcripts, key, ts, hot_conv_turns, n_hot_buckets, probes)
    return _resolved(_fused_state_guarded(u, key, bounds), key, probe_cols, tol_expr)
