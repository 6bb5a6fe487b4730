"""The one Python-boundary runner for per-group numpy kernels.

The functional bank, point-in-time backfill and Viterbi smoothing each run a
numpy kernel over every group's sorted rows. Spark streams a partition to
Python as Arrow batches that ignore group boundaries; `map_sorted_groups`
re-cuts that stream into blocks of COMPLETE groups — holding the trailing,
possibly split, group back and prepending it to the next batch — and hands
each block to the caller with its group boundaries. One mapInArrow pass
amortizes the Python round trip over every group in a batch (per-group
applyInPandas pays ~5-20 ms of pandas dispatch per group), and the columns
reach numpy as Arrow views, with no pandas materialization. The blockwise
execution mirrors the reference's blocksizeWriter/Reader batching discipline
(dataMemoryLevel.hpp:239-241).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame


def group_starts(batch: pa.RecordBatch, key_cols) -> np.ndarray:
    """Row indices where a new group begins in key-sorted `batch`.

    NULL-safe, like Spark's grouping: two rows share a key column iff both
    are NULL, or both are valid and equal (NaN equals NaN). Validity and
    values are compared separately, so a NULL key never turns into a
    sentinel value that could collide with, or differ from, itself."""
    n = batch.num_rows
    change = np.zeros(n, dtype=bool)
    change[0] = True
    for c in key_cols:
        col = batch.column(c)
        a, b = col.slice(1), col.slice(0, n - 1)
        differ = pc.fill_null(pc.not_equal(a, b), False)
        if pa.types.is_floating(col.type):
            both_nan = pc.and_(pc.is_nan(a), pc.is_nan(b))
            differ = pc.and_not(differ, pc.fill_null(both_nan, False))
        if col.null_count:
            differ = pc.or_(differ,
                            pc.not_equal(pc.is_valid(a), pc.is_valid(b)))
        change[1:] |= differ.to_numpy(zero_copy_only=False)
    return np.flatnonzero(change)


def complete_groups(batches, key_cols):
    """Re-cut a key-sorted stream of Arrow batches into (block, starts)
    pairs: each block holds complete groups only, and `starts` are the row
    indices where its groups begin. The trailing group of a batch may
    continue in the next one, so it is held back and prepended to it."""
    carry = None
    for rb in batches:
        if rb.num_rows == 0:
            continue
        if carry is not None:
            rb = pa.RecordBatch.from_arrays(
                [pa.concat_arrays([x, y])
                 for x, y in zip(carry.columns, rb.columns)],
                schema=rb.schema)
        starts = group_starts(rb, key_cols)
        tail = int(starts[-1])
        carry = rb.slice(tail)
        if tail:
            yield rb.slice(0, tail), starts[:-1]
    if carry is not None:
        yield carry, np.zeros(1, dtype=np.int64)


def map_sorted_groups(df: DataFrame, key_cols, schema: str, fn) -> DataFrame:
    """Run `fn` over the complete groups of `df` as ONE mapInArrow.

    `df` must be group-contiguous: every row of a `key_cols` value sits in
    one partition, adjacent to the others (a repartition by a prefix of the
    key plus a sort within partitions, or a layout written that way).

    `fn(batch, starts, ends)` gets a RecordBatch of `df`'s columns holding
    only complete groups, plus int64 arrays of each group's [start, end) row
    range. It returns a RecordBatch matching `schema`, or None when it has
    no rows. Emitting group keys as `batch.column(k).take(starts)` keeps
    their Arrow types and NULLs unchanged."""

    def run(batches):
        for block, starts in complete_groups(batches, key_cols):
            out = fn(block, starts, np.append(starts[1:], block.num_rows))
            if out is not None:
                yield out

    return df.mapInArrow(run, schema=schema)
