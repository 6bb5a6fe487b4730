"""Point-in-time as-of merge + backfill — the causal ring-buffer read, as a join.

The reference's buffer protocol IS its temporal-leakage guarantee: a reader
can never observe frames beyond the write cursor (`curW`), and relative reads
are "latest frame with vIdx <= now" (/root/reference/src/include/core/
dataMemoryLevel.hpp:296-311, dataReader.hpp:87-88 getFrameRel). Cross-rate
reads (e.g. pitchJitter reading wave + F0 levels at different periods,
GeMAPSv01b_core.lld.conf.inc:174-179) resolve time via secToVidx
(dataMemory.hpp:132-133) — exactly an as-of lookup.

Spark-first implementation — union + last-non-null over an ordered window:
one shuffle+sort on (key, time), linear work, no O(anchor x rows) blowup,
AQE-skew friendly. For each anchor row, every right column is filled with the
latest right value at ts <= anchor_ts (ties: the right row wins, i.e. a turn
AT the anchor timestamp is visible — mirroring "frame written at t is
readable at t").

`backfill_functionals` materializes whole functional vectors at every
(conv_id, anchor_ts) grid point: for A anchors over N turns it does one sort
plus searchsorted window bounds, then hands all A windows to the same
functionals/batched.compute_windows that functionals_kernel uses (prefix
scans on expanding windows) — not A separate window jobs. Physically it is
ONE union-tag shuffle + the shared sorted-group Arrow runner
(sorted_groups.map_sorted_groups), not a per-conversation cogroup:
cogrouped applyInPandas pays ~0.5-1 ms of pandas dispatch PER GROUP, which
at high conversation cardinality dominates the numpy kernel by an order of
magnitude.

`incremental_backfill` recomputes only the conversations whose watermark
moved and carries every other conversation's rows forward; it builds a lazy
plan and runs no Spark job until its outputs are acted on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from opensmile_spark.functionals.bank import feature_names
from opensmile_spark.functionals.batched import compute_windows
from opensmile_spark.sorted_groups import map_sorted_groups


def asof_join(
    anchors: DataFrame,
    right: DataFrame,
    on: str = "conv_id",
    anchor_ts: str = "anchor_ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    strict: bool = False,
    right_order_col: str | None = None,
) -> DataFrame:
    """For each anchor row: latest `right` row with right_ts <= anchor_ts
    (right_ts < anchor_ts when strict=True). Null columns when no prior row
    exists (the DMEM_PAD_ZERO analogue is a caller-side fillna; padding
    policies per dataMemoryLevel.hpp:26-28).

    `right_order_col` breaks ties between right rows sharing a timestamp:
    the row with the HIGHEST value wins (deterministic across repartitioning
    / cluster runs). Defaults to `turn_idx` when the right side has one;
    without any order column equal-ts winners are partition-order dependent.
    """
    value_cols = value_cols or [
        c for c in right.columns if c not in (on, right_ts)
    ]
    if right_order_col is None and "turn_idx" in right.columns:
        right_order_col = "turn_idx"
    a = anchors.select(
        F.col(on),
        F.col(anchor_ts).alias("__t"),
        F.lit(1).alias("__is_anchor"),
        F.lit(None).cast("long").alias("__ord"),
        *[F.col(c) for c in anchors.columns if c not in (on, anchor_ts)],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in value_cols],
    )
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_anchor"),
        (F.col(right_order_col).cast("long") if right_order_col is not None
         else F.lit(0).cast("long")).alias("__ord"),
        *[F.lit(None).cast(anchors.schema[c].dataType).alias(c)
          for c in anchors.columns if c not in (on, anchor_ts)],
        *[F.col(c) for c in value_cols],
    )
    # non-strict: right rows sort before anchors at equal __t => ties visible;
    # strict: anchors sort first => equal-time right rows NOT visible.
    # __ord orders equal-ts right rows so F.last picks a DEFINED winner
    # (anchors carry null __ord; their relative order is irrelevant since
    # anchor rows are transparent to last(ignorenulls) reads).
    tie_order = F.col("__is_anchor").desc() if strict else F.col("__is_anchor").asc()
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__t").asc(), tie_order, F.col("__ord").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    merged = a.unionByName(r)
    for c in value_cols:
        merged = merged.withColumn(c, F.last(c, ignorenulls=True).over(w))
    out = merged.filter(F.col("__is_anchor") == 1).drop("__is_anchor", "__ord")
    return out.withColumnRenamed("__t", anchor_ts)


def backfill_functionals(
    lld: DataFrame,
    anchors: DataFrame,
    value_cols: list[str],
    families: list[str] | None = None,
    options: dict | None = None,
    window_seconds: float | None = None,
    on: str = "conv_id",
    anchor_ts: str = "anchor_ts",
    ts_col: str = "ts",
    order_col: str = "turn_idx",
) -> DataFrame:
    """Functional vectors at every (conv_id, anchor_ts): each anchor sees
    only turns with ts <= anchor_ts (zero temporal leakage, enforced in one
    place), optionally bounded to a trailing window of `window_seconds`.

    Physical strategy: union-tag the turn and anchor tables (side 0 / 1),
    ONE repartition by conv + in-partition sort, then a single mapInArrow
    pass over complete conversations (sorted_groups.map_sorted_groups, the
    functionals_kernel runner), so the Python dispatch is amortized over
    every conversation in an Arrow batch instead of paid per conversation.
    Both time columns are cast to TIMESTAMP, so they cross the boundary as
    Arrow `timestamp[us, tz=<session zone>]`; the key and anchor_ts are
    emitted from the anchor rows themselves, so their types round-trip and
    a NULL `on` key is one conversation. Per conversation, an anchor's
    window is its turns with anchor_ts - window_seconds <= ts <= anchor_ts,
    found by searchsorted, and batched.compute_windows computes every
    family over ALL anchors' windows at once per value column — no
    per-anchor Python dispatch except for families it routes to the
    per-window kernels; see its docstring for the cost model and the
    memory cap. On the unbounded (expanding) grid every default family is
    linear in the conversation. Empty windows emit NaN features (anchor row
    is kept so the grid is complete — the PAD_ZERO/PAD_NONE choice is the
    caller's fillna/dropna).
    """
    import numpy as np

    families = families or ["means", "moments", "extremes", "percentiles",
                            "regression"]
    options = options or {}
    feat_names = feature_names(value_cols, families, options)

    expanding = window_seconds is None

    def _process(batch, starts, ends):
        """All conversations in batch are complete; rows sorted by
        (__k, __side, __t, __ord): per conv, side-0 turn rows sorted by
        (ts, order) — the cogroup kernel's mergesort order — then side-1
        anchor rows sorted by anchor_ts."""
        import pyarrow as pa

        side_np = batch.column("__side").to_numpy()
        t_np = batch.column("__t").to_numpy(zero_copy_only=False)
        vals = {c: batch.column(c).to_numpy(zero_copy_only=False)
                for c in value_cols}
        anchor_rows, size_chunks = [], []
        feat_chunks: dict[str, list] = {f: [] for f in feat_names}
        for s, e in zip(starts, ends):
            a0 = s + int(np.searchsorted(side_np[s:e], 1, side="left"))
            if a0 == e:
                continue   # conv has turns but no anchors: no output rows
            # an anchor sees the turns with
            # anchor_ts - window_seconds <= ts <= anchor_ts
            ts, at = t_np[s:a0], t_np[a0:e]
            hi = np.searchsorted(ts, at, side="right")
            lo = np.zeros_like(hi) if expanding else np.searchsorted(
                ts, at - np.timedelta64(int(window_seconds * 1e6), "us"),
                side="left")
            for c in value_cols:
                feats = compute_windows(vals[c][s:a0], lo, hi, families,
                                        options, expanding)
                for k, v in feats.items():
                    feat_chunks[f"{c}_{k}"].append(v)
            anchor_rows.append(np.arange(a0, e))
            size_chunks.append(hi - lo)
        if not anchor_rows:
            return None
        rows = np.concatenate(anchor_rows)
        # key and anchor_ts are taken from the anchor rows themselves, so
        # their Arrow types and NULLs pass through unchanged
        arrays = [batch.column("__k").take(rows),
                  batch.column("__t").take(rows),
                  pa.array(np.concatenate(size_chunks), type=pa.int64())]
        # from_pandas=True: a NaN feature (e.g. an empty window) is emitted
        # as NULL, as it always has been
        arrays += [pa.array(np.concatenate(feat_chunks[f]), type=pa.float64(),
                            from_pandas=True) for f in feat_names]
        return pa.RecordBatch.from_arrays(
            arrays, names=[on, anchor_ts, "n_visible", *feat_names])

    left = lld.select(
        F.col(on).alias("__k"),
        F.lit(0).alias("__side"),
        F.col(ts_col).cast("timestamp").alias("__t"),
        F.col(order_col).cast("long").alias("__ord"),
        *[F.col(c).cast("double").alias(c) for c in value_cols],
    )
    right = anchors.select(
        F.col(on).alias("__k"),
        F.lit(1).alias("__side"),
        F.col(anchor_ts).cast("timestamp").alias("__t"),
        F.lit(0).cast("long").alias("__ord"),
        *[F.lit(None).cast("double").alias(c) for c in value_cols],
    )
    merged = (
        left.unionByName(right)
        .repartition(F.col("__k"))
        .sortWithinPartitions("__k", "__side", "__t", "__ord")
    )
    schema = (
        f"`{on}` {merged.schema['__k'].dataType.simpleString()}, "
        f"`{anchor_ts}` timestamp, n_visible long, "
        + ", ".join(f"`{n}` double" for n in feat_names)
    )
    return map_sorted_groups(merged, ["__k"], schema, _process)


def incremental_backfill(
    prev_features: DataFrame,
    prev_max_ts: DataFrame,
    lld: DataFrame,
    anchors: DataFrame,
    value_cols: list[str],
    families: list[str] | None = None,
    options: dict | None = None,
    window_seconds: float | None = None,
    on: str = "conv_id",
    anchor_ts: str = "anchor_ts",
    ts_col: str = "ts",
    order_col: str = "turn_idx",
) -> tuple[DataFrame, DataFrame]:
    """Feature-store incremental refresh: recompute point-in-time vectors
    ONLY for conversations that received new turns since the last run,
    carry every other conversation's rows forward untouched.

    `prev_features` / `prev_max_ts` are the previous run's output and its
    per-conv watermark table (conv_id, max_ts, n_rows) — both written by
    the last call. A conv is STALE iff its current (max(ts), count(*))
    pair differs from the recorded watermark (new convs count as stale):
    the count catches late-arriving turns with ts <= the recorded max and
    corrected/deleted rows, which a max-only watermark would silently
    classify fresh. (A same-count in-place VALUE edit at an existing ts is
    still invisible — watermarks are O(1) per conv by design; full
    content-addressed staleness needs a row-hash aggregate, at which point
    run the full recompute.) A legacy (conv_id, max_ts)-only watermark
    table is accepted and degrades to max-equality staleness.
    Cost per refresh is proportional
    to the CHANGED conversations, not the corpus: the stale-conv set is a
    tiny aggregate join (broadcast-able), the recompute runs the normal
    `backfill_functionals` over only those convs' rows and anchors, and
    the carry-forward is an anti-join on the same small set. With daily
    appends touching f% of conversations the refresh does f% of the full
    backfill's work — the difference between re-deriving a 10^12-turn
    feature table nightly and touching only what moved.

    Anchors must be re-supplied for stale convs (typically one per new
    turn plus any standing grid). Returns (features, max_ts) — write both;
    they are next run's `prev_*`. Correctness contract: equals the full
    recompute bit-for-bit (pinned in tests/test_asof.py), because features
    at (conv, anchor) depend only on that conv's rows — conversations are
    independent, so an untouched conv's rows cannot change.
    """
    cur_max = lld.groupBy(on).agg(F.max(ts_col).alias("__cur_max_ts"),
                                  F.count(F.lit(1)).alias("__cur_n"))
    prev = prev_max_ts.withColumnRenamed("max_ts", "__prev_max")
    changed = (F.col("__prev_max").isNull()
               | (F.col("__cur_max_ts") != F.col("__prev_max")))
    if "n_rows" in prev_max_ts.columns:
        prev = prev.withColumnRenamed("n_rows", "__prev_n")
        changed = changed | (F.col("__cur_n") != F.col("__prev_n"))
    stale = cur_max.join(prev, on, "left").filter(changed).select(on)
    # rename the key on the stale side: it shares lineage with `lld`
    # (cur_max derives from it), and Spark's ambiguous-self-join check
    # rejects a same-name join column on a common parent
    stale_k = stale.select(F.col(on).alias("__stale_key"))

    def only_stale(df, how):
        # DataFrame-bound column refs: the stale side shares lineage with
        # `lld` (it derives from the same scan), and string or alias-based
        # join columns trip Spark's ambiguous-self-join check on the shared
        # attributes, instance-bound ones do not
        return df.join(F.broadcast(stale_k),
                       df[on] == stale_k["__stale_key"], how)

    fresh_feats = backfill_functionals(
        only_stale(lld, "left_semi"), only_stale(anchors, "left_semi"),
        value_cols, families, options, window_seconds,
        on, anchor_ts, ts_col, order_col,
    )
    carried = only_stale(prev_features, "left_anti")
    features = carried.unionByName(fresh_feats)
    max_ts = cur_max.withColumnRenamed("__cur_max_ts", "max_ts") \
        .withColumnRenamed("__cur_n", "n_rows")
    return features, max_ts
