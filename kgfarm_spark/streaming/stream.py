"""Structured-Streaming twins of the batch operators (SURVEY §2.11 —
the reference has NO streaming; these are the engine's additions mapping
freshness ↔ watermark, sessionize ↔ session_window, rolling ↔ window).

Each function takes a *streaming* DataFrame with the input_hint schema
and returns a streaming DataFrame; callers attach writeStream (tests use
``trigger(availableNow=True)`` + memory sink and compare against the
batch twin).

Scale notes: state stores are keyed by (conv_id[, window]) — the same
partitioning as batch; watermarks bound state size (late turns beyond
the watermark are dropped deterministically).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_session_aggregates(
    transcripts: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessionization on a stream: F.session_window merges
    events closer than ``gap`` per conv_id (the streaming twin of
    operators.windows.sessionize). Emits one row per closed session."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("session"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.col("tool").isNotNull().cast("long")).alias("tool_calls"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .select(
            "conv_id",
            F.col("session.start").alias("window_start"),
            F.col("session.end").alias("window_end"),
            "n_turns",
            "tool_calls",
            "session_start",
            "session_end",
        )
    )


def stream_rolling_counts(
    transcripts: DataFrame,
    size: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window per-conversation turn/tool counts (streaming twin of
    rolling_aggregates; time-based windows instead of row frames)."""
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size, slide).alias("w"), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("text_len_sum"),
        )
        .select(
            "conv_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_turns",
            "text_len_sum",
        )
    )


def _interval_ms(interval: str) -> int:
    """Parse 'N unit' (seconds/minutes/hours/days) to milliseconds."""
    n, unit = interval.strip().split()
    mult = {
        "second": 1_000, "seconds": 1_000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit.lower()]
    return int(float(n) * mult)


def stream_running_features(
    transcripts: DataFrame,
    watermark: str = "1 hour",
    state_ttl: str | None = None,
) -> DataFrame:
    """Custom STATEFUL operator via ``applyInPandasWithState`` — the
    streaming twin of operators.windows.backfill_features: per conv_id,
    carry (turns_so_far, tool_calls_so_far, text_len_sum) across
    micro-batches in the state store and emit one enriched row per turn.

    Kernel is vectorized (sort + cumsum over the Arrow batch, state adds
    the carried offsets — no per-row Python arithmetic). Turns must
    arrive in order per conversation across batches (the file source
    test feeds ordered chunks); out-of-order turns within one batch are
    sorted by (ts, turn_idx) before accumulation.

    State lifetime: running counters are cumulative over the WHOLE
    conversation, so by default state is permanent BY DESIGN (the
    watermark only bounds late data, not state) — on long-running streams
    with unbounded conversation cardinality set ``state_ttl`` (e.g.
    ``'7 days'``): conversations idle past watermark+ttl are evicted via
    an event-time timeout, trading bounded state for counters that restart
    from zero if such a conversation ever resumes.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "conv_id string, turn_idx int, ts timestamp, turns_so_far long, "
        "tool_calls_so_far long, text_len_sum long"
    )
    state_schema = "turns long, tools long, tlen long"
    ttl_ms = _interval_ms(state_ttl) if state_ttl else None

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return

        turns, tools, tlen = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(["ts", "turn_idx"])
            out = pd.DataFrame(
                {
                    "conv_id": pdf["conv_id"].values,
                    "turn_idx": pdf["turn_idx"].values,
                    "ts": pdf["ts"].values,
                    "turns_so_far": turns
                    + pd.RangeIndex(1, len(pdf) + 1).to_numpy(),
                    "tool_calls_so_far": tools
                    + pdf["tool"].notna().cumsum().to_numpy(),
                    "text_len_sum": tlen
                    + pdf["text"].str.len().fillna(0).cumsum().astype("int64").to_numpy(),
                }
            )
            turns = int(out["turns_so_far"].iloc[-1])
            tools = int(out["tool_calls_so_far"].iloc[-1])
            tlen = int(out["text_len_sum"].iloc[-1])
            yield out
        state.update((turns, tools, tlen))
        if ttl_ms is not None:
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + ttl_ms)

    timeout = (
        GroupStateTimeout.EventTimeTimeout
        if ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        transcripts.withWatermark("ts", watermark)
        .groupBy("conv_id")
        .applyInPandasWithState(fn, out_schema, state_schema, "append", timeout)
    )


def stream_enrich_against_features(
    stream_probes: DataFrame,
    static_features: DataFrame,
    tolerance: str = "1 DAY",
) -> DataFrame:
    """Streaming probes point-in-time-enriched against a STATIC feature
    table (stream-static join): the online-serving shape of the flagship.
    Equi join on conv_id + freshness filter; the per-probe latest row is
    selected downstream per micro-batch (stream-static joins permit
    arbitrary static sides)."""
    f = static_features.select(
        F.col("conv_id").alias("__f_conv_id"),
        F.col("ts").alias("matched_ts"),
        *[c for c in static_features.columns if c not in ("conv_id", "ts")],
    )
    cond = (
        (F.col("conv_id") == F.col("__f_conv_id"))
        & (F.col("matched_ts") <= F.col("query_ts"))
        & (F.col("matched_ts") >= F.col("query_ts") - F.expr(f"INTERVAL {tolerance}"))
    )
    return stream_probes.join(f, cond, "left").drop("__f_conv_id")


def stream_stream_asof_interval(
    stream_probes: DataFrame,
    stream_transcripts: DataFrame,
    tolerance: str = "4 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """STREAM-STREAM twin of the flagship's all_in_window as-of join
    (operators/asof.py mode='all_in_window'): probes and transcripts both
    arrive as streams; each probe matches every transcript turn of its
    conversation inside the freshness window. The event-time bound
    (query_ts - tolerance ≤ ts ≤ query_ts) plus watermarks on BOTH sides
    is exactly what Structured Streaming needs to evict join state — state
    per key is bounded by tolerance + watermark, not by stream length.

    ``latest``-mode (one row per probe) is not exactly expressible in a
    pure stream-stream join (a later batch can always deliver a fresher
    match within tolerance); run this interval join and reduce to latest
    downstream once the window is watermark-closed, or use the
    stream-static path (stream_enrich_against_features) when the feature
    side is a table."""
    p = stream_probes.withWatermark("query_ts", watermark)
    t = stream_transcripts.withWatermark("ts", watermark).select(
        F.col("conv_id").alias("__t_conv_id"),
        F.col("ts").alias("matched_ts"),
        F.col("turn_idx").alias("matched_turn_idx"),
        F.col("role").alias("matched_role"),
    )
    cond = (
        (F.col("conv_id") == F.col("__t_conv_id"))
        & (F.col("matched_ts") <= F.col("query_ts"))
        & (F.col("matched_ts") >= F.col("query_ts") - F.expr(f"INTERVAL {tolerance}"))
    )
    return p.join(t, cond, "inner").drop("__t_conv_id")


def stream_asof_latest(
    stream_probes: DataFrame,
    stream_transcripts: DataFrame,
    tolerance: str = "4 hours",
    watermark: str = "1 hour",
) -> DataFrame:
    """STREAMING as-of semantics (VERDICT r05 #6): one row per probe —
    the LATEST transcript turn inside the freshness window — matching
    ``asof_join(direction='backward', mode='latest',
    tiebreak='turn_idx')`` exactly on the emitted rows.

    The r05 interval twin (``stream_stream_asof_interval``) is
    output-bound (≈3.6× fan-out, BENCH.md §6) because every in-window
    turn is emitted; the latest-reduction "belongs downstream" — this IS
    that downstream, implemented as the chained stateful pair Structured
    Streaming supports natively:

      1. event-time-bounded stream-stream join (state evicted by
         watermark, bounded by tolerance + watermark per key), then
      2. a per-probe max aggregation grouped by the watermarked
         ``query_ts`` — append mode emits each probe ONCE, when the
         watermark passes its query time (the window is closed, so no
         later micro-batch can deliver a fresher match — exactly the
         caveat the interval twin's docstring deferred).

    Tie-break mirrors the batch rule: max matched_ts, then max turn_idx.
    State: join state O(in-window turns per key) + agg state O(open
    probes); both watermark-evicted. Probes with NO in-window match are
    not emitted (inner join — the online-serving contract; the batch
    twin is left-outer and carries nulls).

    Emission latency: Spark delays the downstream agg's watermark by the
    join's event-time interval (so the join can still deliver in-window
    rows), so a probe emits ``watermark + tolerance`` after its
    query_ts — the price of EXACT latest semantics on a stream
    (pytest-pinned in test_stream_asof_latest_matches_batch).
    """
    j = stream_stream_asof_interval(
        stream_probes, stream_transcripts, tolerance, watermark
    )
    best = F.max(
        F.struct(
            F.col("matched_ts"),
            F.col("matched_turn_idx"),
            F.col("matched_role"),
        )
    ).alias("__best")
    return (
        j.groupBy("conv_id", "probe_id", "query_ts")
        .agg(best)
        .select(
            "conv_id",
            "probe_id",
            "query_ts",
            F.col("__best.matched_ts").alias("matched_ts"),
            F.col("__best.matched_turn_idx").alias("matched_turn_idx"),
            F.col("__best.matched_role").alias("matched_role"),
        )
    )

