"""Seeded input generator for the benchmark.

Ports the column recipes of ``kgfarm_spark/sources/datagen.py`` (Zipf-ish
``u**skew`` conversation draw, 5..300 s gaps with a 2..4 h gap on about
one turn in 17, Markov-ish role draw, tools on a third of tool/assistant
turns, 1..9-word text) to numpy, so the workload is built without the
engine: a change to the program cannot change what it is measured on.

Inputs are written once per (seed, size, skew) under the cache directory
as a directory of parquet files with a sha256 sidecar over their bytes;
``ensure_parquet`` regenerates them when the sidecar does not match.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_TS = 1_704_067_200  # 2024-01-01T00:00:00Z
ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
TOOLS = np.array(["search", "code", "browse", "files"], dtype=object)
WORDS = "the quick spark shuffles data over keys and windows".split()
TEXTS = np.array([" ".join(WORDS[:k]) for k in range(1, 10)], dtype=object)
N_FILES = 8  # fixed file count: the same input on every core count


def conv_name(conv: np.ndarray) -> np.ndarray:
    return np.char.add("conv_", np.char.zfill(conv.astype("U8"), 8)).astype(object)


def gen_columns(seed: int, n_turns: int, n_convs: int, skew: float) -> dict:
    """Transcript columns in generation (row id) order, plus the per-row
    conversation number. Within a conversation turn_idx follows row id
    and ts strictly increases, as in the engine's generator."""
    rng = np.random.default_rng([seed, n_turns, n_convs, int(round(skew * 1000))])
    conv = np.floor(rng.random(n_turns) ** skew * n_convs).astype(np.int64)
    long_gap = rng.random(n_turns) < 1 / 17
    gap = np.where(
        long_gap, rng.integers(7200, 14400, n_turns), rng.integers(5, 300, n_turns)
    )
    r = rng.integers(0, 10, n_turns)
    role_i = np.select([r < 4, r < 8, r < 9], [0, 1, 2], 3)
    has_tool = (role_i % 2 == 1) & (rng.integers(0, 3, n_turns) == 0)  # assistant/tool
    tool_i = rng.integers(0, 4, n_turns)
    words = rng.integers(1, 10, n_turns)

    order = np.argsort(conv, kind="stable")  # by conversation, then row id
    conv_s = conv[order]
    first = np.r_[True, conv_s[1:] != conv_s[:-1]]
    start = np.maximum.accumulate(np.where(first, np.arange(n_turns), 0))
    cum = np.cumsum(gap[order])
    cum_in_conv = cum - np.where(start > 0, cum[start - 1], 0)
    turn_idx = np.empty(n_turns, np.int32)
    turn_idx[order] = np.arange(n_turns) - start
    ts = np.empty(n_turns, np.int64)
    ts[order] = BASE_TS + conv_s % 86400 + cum_in_conv
    return {
        "conv": conv,
        "turn_idx": turn_idx,
        "role": ROLES[role_i],
        "text": TEXTS[words - 1],
        "tool": np.where(has_tool, TOOLS[tool_i], None),
        "ts": ts,
    }


def to_table(cols: dict) -> pa.Table:
    return pa.table(
        {
            "conv_id": pa.array(conv_name(cols["conv"]), pa.string()),
            "turn_idx": pa.array(cols["turn_idx"], pa.int32()),
            "role": pa.array(cols["role"], pa.string()),
            "text": pa.array(cols["text"], pa.string()),
            "tool": pa.array(cols["tool"], pa.string()),
            "ts": pa.array(cols["ts"] * 1_000_000, pa.timestamp("us", tz="UTC")),
        }
    )


def _digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            with open(os.path.join(path, name), "rb") as f:
                h.update(name.encode())
                h.update(f.read())
    return h.hexdigest()


def ensure_parquet(cache_dir: str, key: str, make_table) -> str:
    """Parquet directory ``cache_dir/key``, written from ``make_table()``
    when missing or when its bytes no longer match the recorded sha256."""
    path = os.path.join(cache_dir, key)
    sidecar = path + ".sha256"
    if os.path.exists(sidecar) and os.path.isdir(path):
        with open(sidecar) as f:
            if f.read().strip() == _digest(path):
                return path
    table = make_table()
    os.makedirs(path, exist_ok=True)
    for name in os.listdir(path):
        os.remove(os.path.join(path, name))
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))
    with open(sidecar, "w") as f:
        f.write(_digest(path))
    return path


def read_columns(path: str) -> dict:
    """Columns of a cached input, in the same form ``gen_columns`` returns."""
    t = pq.read_table(path)
    conv_id = t.column("conv_id").to_numpy(zero_copy_only=False)
    return {
        "conv": np.char.lstrip(conv_id.astype("U13"), "conv_").astype(np.int64),
        "turn_idx": t.column("turn_idx").to_numpy(),
        "role": t.column("role").to_numpy(zero_copy_only=False),
        "text": t.column("text").to_numpy(zero_copy_only=False),
        "tool": t.column("tool").to_numpy(zero_copy_only=False),
        "ts": t.column("ts").cast(pa.int64()).to_numpy() // 1_000_000,
    }


def probe_table(cols: dict, every_nth: int = 7, shift_s: int = 37 * 60) -> pa.Table:
    """Probes over a transcript: every turn with turn_idx % n == 3, asked
    ``shift_s`` seconds after that turn, as ``gen_probes`` builds them."""
    sel = cols["turn_idx"] % every_nth == 3
    name = conv_name(cols["conv"][sel])
    pid = np.char.add(np.char.add(name.astype(str), "#"), cols["turn_idx"][sel].astype(str))
    return entity_table(name, cols["ts"][sel] + shift_s, pid.astype(object))


def entity_table(conv_id: np.ndarray, query_ts: np.ndarray, probe_id: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "conv_id": pa.array(conv_id, pa.string()),
            "query_ts": pa.array(query_ts * 1_000_000, pa.timestamp("us", tz="UTC")),
            "probe_id": pa.array(probe_id, pa.string()),
        }
    )


class LookupFrames:
    """Entity frames for point lookups. Frame ``i`` picks ``n_convs``
    conversations uniformly and ``n_rows`` query times spread over their
    lifetimes, a tenth of them before the first turn or after the last,
    and one in twenty pushed two days later (mostly past the tolerance),
    so every frame has matched and unmatched rows. Frames depend only on
    (seed, i)."""

    def __init__(self, cols: dict, seed: int, n_convs: int, n_rows: int):
        self.seed, self.n_convs, self.n_rows = seed, n_convs, n_rows
        self.convs = np.unique(cols["conv"])
        self.lo = np.full(self.convs.max() + 1, np.iinfo(np.int64).max)
        self.hi = np.zeros(self.convs.max() + 1, np.int64)
        np.minimum.at(self.lo, cols["conv"], cols["ts"])
        np.maximum.at(self.hi, cols["conv"], cols["ts"])

    def frame(self, i: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(conversation numbers, query ts in seconds, probe ids)."""
        rng = np.random.default_rng([self.seed, 7, i])
        picked = rng.choice(self.convs, self.n_convs, replace=False)
        c = picked[rng.integers(0, self.n_convs, self.n_rows)]
        span = self.hi[c] - self.lo[c]
        late = 2 * 86400 * (rng.random(self.n_rows) < 0.05)
        q = self.lo[c] + ((rng.random(self.n_rows) * 1.2 - 0.1) * span).astype(np.int64) + late
        pid = np.char.add(f"f{i}#", np.arange(self.n_rows).astype(str)).astype(object)
        return c, q, pid
