"""Pure-numpy reference for the benchmark's output checks.

Inputs are read straight from the parquet the engine scans (pyarrow, no
Spark), so every expected value here is derived independently of the
engine's LLD, window, sessionize and functional layers. Functional vectors
come from `functionals.kernels.compute_all`, the per-window numpy kernel the
engine's batched Spark paths are pinned against.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from opensmile_spark.functionals.kernels import compute_all

# the repository's own Spark-vs-numpy functional tolerance
# (tests/test_functionals_spark.py)
RTOL = 1e-6
ATOL = 1e-8


def _micros(col) -> np.ndarray:
    """Timestamp column -> int64 microseconds since the epoch (parquet may
    hold them at micro- or nanosecond resolution)."""
    return col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64()).to_numpy()


class Turns:
    """One parquet turn table as numpy arrays sorted by (conv_id, turn_idx),
    with the per-turn LLD values the workloads read (char_len, token_cnt,
    reply_latency) computed from the raw text and timestamps."""

    def __init__(self, paths):
        tables = [pq.read_table(p, columns=["conv_id", "turn_idx", "text", "ts"])
                  for p in paths]
        conv = np.concatenate([t.column("conv_id").to_numpy(zero_copy_only=False)
                               for t in tables]).astype(str)
        turn = np.concatenate([t.column("turn_idx").to_numpy() for t in tables])
        ts = np.concatenate([_micros(t.column("ts")) for t in tables])
        text = [t.column("text") for t in tables]
        char_len = np.concatenate([
            pc.utf8_length(c).to_numpy().astype(np.float64) for c in text])
        token_cnt = np.concatenate([
            pc.list_value_length(pc.utf8_split_whitespace(pc.utf8_trim_whitespace(c)))
            .to_numpy().astype(np.float64) for c in text])
        order = np.lexsort((turn, conv))
        self.conv = conv[order]
        self.turn_idx = turn[order]
        self.ts_us = ts[order]
        self.char_len = char_len[order]
        self.token_cnt = token_cnt[order]
        change = np.ones(len(order), dtype=bool)
        change[1:] = self.conv[1:] != self.conv[:-1]
        self.starts = np.flatnonzero(change)
        self.ends = np.append(self.starts[1:], len(order))
        self.conv_ids = self.conv[self.starts]
        self._index = {c: i for i, c in enumerate(self.conv_ids)}
        gap = np.zeros(len(order))
        gap[1:] = (self.ts_us[1:] - self.ts_us[:-1]) * 1e-6
        gap[self.starts] = 0.0
        self.reply_latency = gap

    @property
    def n_turns(self) -> int:
        return len(self.conv)

    def slice(self, conv_id: str) -> slice:
        i = self._index[conv_id]
        return slice(self.starts[i], self.ends[i])

    def session_ids(self, gap_seconds: float) -> np.ndarray:
        """Session index per turn: a new session starts at each conversation's
        first turn and after every gap longer than `gap_seconds`."""
        new = self.reply_latency > gap_seconds
        new[self.starts] = True
        cum = np.cumsum(new)
        return cum - cum[self.starts].repeat(self.ends - self.starts)


def sma3(x: np.ndarray) -> np.ndarray:
    """Centered 3-point moving average, first/last frame repeated at the edges."""
    prev = np.concatenate([x[:1], x[:-1]])
    nxt = np.concatenate([x[1:], x[-1:]])
    return (x + prev + nxt) / 3.0


def delta2(x: np.ndarray) -> np.ndarray:
    """Regression delta over +-2 frames, edges clamped."""
    n = len(x)
    idx = np.arange(n)
    num = np.zeros(n)
    for i in (1, 2):
        num += i * (x[np.minimum(idx + i, n - 1)] - x[np.maximum(idx - i, 0)])
    return num / 10.0


def compare_row(row: dict, expected: dict, where: str, exact=False) -> list[str]:
    """Failures for every expected key whose value in `row` differs."""
    bad = [f"{where}: column {k} missing" for k in expected if k not in row]
    keys = [k for k in expected if k in row]
    have = np.array([row[k] for k in keys], dtype=np.float64)  # None -> nan
    want = np.array([expected[k] for k in keys], dtype=np.float64)
    if exact:
        ok = have.view(np.int64) == want.view(np.int64)
    else:
        ok = np.isclose(have, want, rtol=RTOL, atol=ATOL, equal_nan=True)
    bad += [f"{where}: {k} = {row[k]!r}, expected {expected[k]!r}"
            for k, good in zip(keys, ok) if not good]
    return bad


def functionals(prefix: str, x: np.ndarray, families) -> dict:
    return {f"{prefix}_{k}": v for k, v in compute_all(x, families).items()}
