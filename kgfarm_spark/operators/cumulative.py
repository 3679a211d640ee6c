"""One definition of the cumulative transcript features.

Each feature is a prefix aggregate, in a conversation's order, of a
per-turn contribution. A contribution is SQL over the canonical row
(``turn_row``): the columns a transcript turn (input_hint schema) is
projected to. A row that is not a turn (a probe of the fused backfill)
holds NULL in every canonical column and so contributes nothing to any
feature. ``matched_ts`` also reads the stream's event time ``__ts``.

Every kind is associative, so a conversation cut into buckets gives the
same answer as one window over it: per-bucket partial aggregates, their
EXCLUSIVE prefix over earlier buckets (the carry), and the in-bucket
window of the same partials merged with the carry. Null semantics hold
through the cut: sums, maxima and averages stay NULL until the first
non-NULL contribution; counts are never NULL.

From the one table this module generates, as SQL text, the plain window
(``window``), the partials (``parts``), the exclusive carry (``carry``)
and the combine (``combine``). The bucket column is ``__ob``; callers
differ only in how they cut it (``struct(floor(turn_idx / B))`` in
``windows``, for ``backfill_features`` and the ``sessionize`` count, a
fixed-width event-time grid in ``backfill._fused_state_guarded``).
"""

from __future__ import annotations

from typing import NamedTuple

from kgfarm_spark.operators.asof import _ident


class Feature(NamedTuple):
    name: str
    contribution: str  # SQL over the canonical row
    kind: str  # a key of _KINDS


#: kind -> (its window aggregate, its partial aggregates). Partials merge
#: by sum, except max by max; an average is its merged sum / merged
#: non-NULL count.
_KINDS = {
    "count": ("count_if", ("count_if",)),
    "sum": ("sum", ("sum",)),
    "max": ("max", ("max",)),
    "avg": ("avg", ("sum", "count")),
}

#: the event time of the latest turn at or before the row, over a stream
#: whose event time is ``__ts``: the stream runs in ts order, so it is the
#: prefix max
MATCHED_TS = Feature("matched_ts", "CASE WHEN __turn THEN __ts END", "max")

#: the cumulative features of a turn, in output order
CUMULATIVE = (
    Feature("turns_so_far", "__turn", "count"),
    Feature("tool_calls_so_far", "__has_tool", "count"),
    Feature("text_len_sum", "__text_len", "sum"),
    Feature("text_len_avg", "__text_len", "avg"),
    Feature("text_len_max", "__text_len", "max"),
    Feature("user_turns_so_far", "__is_user", "count"),
    Feature("assistant_turns_so_far", "__is_assistant", "count"),
)

#: tool calls per turn, derived from two cumulative features
TOOL_CALL_RATE = "tool_calls_so_far / turns_so_far AS tool_call_rate"


def turn_row(len_type: str = "INT") -> list[str]:
    """Select items projecting a transcript turn (input_hint schema) onto
    the canonical row. ``len_type`` types the text length, and so
    text_len_max."""
    return [
        "true AS __turn",
        f"CAST(length(text) AS {len_type}) AS __text_len",
        "(tool IS NOT NULL) AS __has_tool",
        "(role = 'user') AS __is_user",
        "(role = 'assistant') AS __is_assistant",
    ]


def frame(partition: list[str], order: list[str]) -> str:
    """The cumulative window frame: the rows of ``partition`` up to the
    current one, in ``order`` (both lists of column names)."""
    return (
        f"PARTITION BY {', '.join(map(_ident, partition))} "
        f"ORDER BY {', '.join(map(_ident, order))} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    )


def window(features, over: str) -> list[str]:
    """Each feature as one window expression over the frame ``over``."""
    return [
        f"{_KINDS[f.kind][0]}({f.contribution}) OVER ({over}) AS {f.name}" for f in features
    ]


def _parts(features) -> list[tuple[str, str]]:
    """The distinct (aggregate, contribution) partials of ``features``."""
    return list(dict.fromkeys(
        (fn, f.contribution) for f in features for fn in _KINDS[f.kind][1]
    ))


def parts(features, over: str | None = None) -> list[str]:
    """The partial aggregates as ``__part<i>``: group aggregates, or window
    aggregates over the in-bucket frame ``over``."""
    suffix = f" OVER ({over})" if over else ""
    return [f"{fn}({c}){suffix} AS __part{i}" for i, (fn, c) in enumerate(_parts(features))]


def carry(features, key: str) -> list[str]:
    """The exclusive prefix of each partial over the key's earlier
    buckets, as ``__carry<i>``: NULL in a key's first bucket."""
    prev = (
        f"PARTITION BY {_ident(key)} ORDER BY __ob "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    )
    return [
        f"{'max' if fn == 'max' else 'sum'}(__part{i}) OVER ({prev}) AS __carry{i}"
        for i, (fn, _) in enumerate(_parts(features))
    ]


def combine(features) -> list[str]:
    """Each feature from its in-bucket partials ``__part<i>`` and its carry
    ``__carry<i>``, which may be NULL (no earlier bucket, or no carry row)."""
    index = {p: i for i, p in enumerate(_parts(features))}

    def merged(fn: str, contribution: str) -> str:
        i = index[fn, contribution]
        p, c = f"__part{i}", f"__carry{i}"
        return f"greatest({p}, {c})" if fn == "max" else f"coalesce({p} + {c}, {p}, {c})"

    def feature(f: Feature) -> str:
        m = [merged(fn, f.contribution) for fn in _KINDS[f.kind][1]]
        return f"{m[0]} / {m[1]}" if f.kind == "avg" else m[0]

    return [f"{feature(f)} AS {f.name}" for f in features]
