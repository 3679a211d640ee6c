"""Engine-free expected answers for point-in-time lookups.

For each conversation the cumulative features of ``backfill_features``
are prefix sums over its turns in turn order; a backward as-of lookup at
``query_ts`` reads the prefix at the last turn with ``ts <= query_ts``,
or nothing when that turn is older than the tolerance.
"""

from __future__ import annotations

import numpy as np

FEATURES = [
    "turn_idx",
    "turns_so_far",
    "tool_calls_so_far",
    "text_len_sum",
    "text_len_avg",
    "text_len_max",
    "user_turns_so_far",
    "assistant_turns_so_far",
    "tool_call_rate",
]


class PrefixTable:
    """Per-turn cumulative features, rows sorted by (conversation, ts)."""

    def __init__(self, cols: dict):
        order = np.lexsort((cols["ts"], cols["conv"]))
        conv = cols["conv"][order]
        self.conv = conv
        self.ts = cols["ts"][order]
        self.turn_idx = cols["turn_idx"][order].astype(np.int64)
        first = np.r_[True, conv[1:] != conv[:-1]]
        self.start = np.maximum.accumulate(np.where(first, np.arange(len(conv)), 0))

        def prefix(x: np.ndarray) -> np.ndarray:
            c = np.cumsum(x)
            return c - np.where(self.start > 0, c[self.start - 1], 0)

        text_len = np.fromiter((len(t) for t in cols["text"][order]), np.int64, len(conv))
        role = cols["role"][order]
        self.turns = self.turn_idx - self.turn_idx[self.start] + 1
        self.tools = prefix(cols["tool"][order] != None)  # noqa: E711 (object array)
        self.tl_sum = prefix(text_len)
        self.tl_max = np.empty_like(text_len)
        for s, e in zip(np.flatnonzero(first), np.r_[np.flatnonzero(first)[1:], len(conv)]):
            self.tl_max[s:e] = np.maximum.accumulate(text_len[s:e])
        self.users = prefix(role == "user")
        self.assts = prefix(role == "assistant")
        self.keys = (self.conv << 32) | self.ts  # ts < 2**32 s

    def lookup(self, conv: np.ndarray, query_ts: np.ndarray, tolerance_s: int) -> list[tuple]:
        """(matched_ts, *FEATURES) per query as of ``query_ts``; all None on
        no match. One binary search over the (conversation, ts) order."""
        i = np.searchsorted(self.keys, (conv << 32) | query_ts, "right") - 1
        j = np.maximum(i, 0)
        hit = (i >= 0) & (self.conv[j] == conv) & (self.ts[j] >= query_ts - tolerance_s)
        out = []
        for ok, k in zip(hit.tolist(), j.tolist()):
            if not ok:
                out.append((None,) * (len(FEATURES) + 1))
                continue
            turns = int(self.turns[k])
            out.append(
                (
                    int(self.ts[k]),
                    int(self.turn_idx[k]),
                    turns,
                    int(self.tools[k]),
                    int(self.tl_sum[k]),
                    float(self.tl_sum[k]) / turns,
                    int(self.tl_max[k]),
                    int(self.users[k]),
                    int(self.assts[k]),
                    float(self.tools[k]) / turns,
                )
            )
        return out
