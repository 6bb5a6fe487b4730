"""The shared sorted-group Arrow runner: NULL-safe group boundaries.

Every per-conversation kernel (functionals_kernel, backfill_functionals,
viterbi_smooth_df) cuts its sorted input into groups through
sorted_groups.map_sorted_groups. A NULL key must form exactly one group —
the groupBy semantics — never one group per row and never a crash."""

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F


def test_group_boundaries_and_carry_are_null_safe():
    from opensmile_spark.sorted_groups import complete_groups, group_starts

    batch = pa.RecordBatch.from_arrays(
        [pa.array([None, None, None, "a", "a", "b", "b", None]),
         pa.array([None, None, 1, None, None, 2, 2, 2], type=pa.int32()),
         pa.array([np.nan, np.nan, 0.0, 1.0, 1.0, -0.0, 0.0, 0.0])],
        names=["k", "s", "f"])
    assert group_starts(batch, ["k"]).tolist() == [0, 3, 5, 7]
    assert group_starts(batch, ["k", "s"]).tolist() == [0, 2, 3, 5, 7]
    # NaN equals NaN and -0.0 equals 0.0, as in Spark's grouping
    assert group_starts(batch, ["f"]).tolist() == [0, 2, 3, 5]

    # groups split across (and an empty) Arrow batch come out whole
    pieces = [batch.slice(o, n) for o, n in ((0, 2), (2, 0), (2, 3),
                                             (5, 1), (6, 2))]
    groups = [block.column("k").slice(s, e - s).to_pylist()
              for block, starts in complete_groups(pieces, ["k"])
              for s, e in zip(starts, [*starts[1:], block.num_rows])]
    assert groups == [[None] * 3, ["a", "a"], ["b", "b"], [None]]


def _null_key_turns(spark):
    """Three conversations of 5 turns: conv_id NULL, conv_id 'a' with a
    NULL session_id, conv_id 'b' with session 1."""
    rows = []
    for conv, sess in ((None, 1), ("a", None), ("b", 1)):
        for i in range(5):
            rows.append((conv, sess, i, float((3 * i + len(str(conv))) % 7),
                         1_704_067_200.0 + 10.0 * i))
    df = spark.createDataFrame(
        rows, "conv_id string, session_id int, turn_idx int, x double, "
              "epoch double")
    return df.withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")


def test_null_group_keys_form_one_group(spark):
    from opensmile_spark.functionals import functionals_kernel, functionals_sql

    df = _null_key_turns(spark)
    keys = ["conv_id", "session_id"]
    want = {(r["conv_id"], r["session_id"]): r["count"]
            for r in df.groupBy(*keys).count().collect()}
    assert len(want) == 3
    sql = {(r["conv_id"], r["session_id"]): r
           for r in functionals_sql(df, ["x"], keys).collect()}
    for pre in (False, True):
        src = df.repartition(1).sortWithinPartitions(*keys, "turn_idx") \
            if pre else df
        got = functionals_kernel(src, ["x"], keys, families=["means"],
                                 pre_partitioned=pre).collect()
        assert len(got) == 3
        assert {(r["conv_id"], r["session_id"]): r["n_turns"]
                for r in got} == want
        # the kernel bank and the SQL bank agree on NULL groups
        for r in got:
            s = sql[(r["conv_id"], r["session_id"])]
            assert s["n_turns"] == r["n_turns"]
            assert np.isclose(s["x_amean"], r["x_amean"], rtol=1e-12)


def test_null_conv_backfill_and_viterbi_match_non_null_key(spark):
    """The NULL-keyed conversation yields exactly what the same rows yield
    under a non-NULL key."""
    from opensmile_spark.operators import (
        backfill_functionals, viterbi_smooth_df,
    )

    df = _null_key_turns(spark)
    null_conv = df.filter(F.col("conv_id").isNull())
    named_conv = null_conv.withColumn("conv_id", F.lit("z"))
    for window_seconds in (None, 25.0):
        outs = []
        for turns in (null_conv, named_conv):
            # beside a second, non-NULL conversation
            both = turns.unionByName(df.filter(F.col("conv_id") == "b"))
            anchors = both.select("conv_id", F.col("ts").alias("anchor_ts"))
            out = backfill_functionals(
                both, anchors, ["x"], families=["means", "extremes"],
                window_seconds=window_seconds)
            rows = out.filter(F.col("conv_id").isNull()
                              | (F.col("conv_id") == "z")) \
                .orderBy("anchor_ts").collect()
            outs.append([r.asDict() | {"conv_id": None} for r in rows])
        assert len(outs[0]) == 5 and outs[0] == outs[1]
        assert [r["n_visible"] for r in outs[0]] == \
            ([1, 2, 3, 4, 5] if window_seconds is None else [1, 2, 3, 3, 3])

    outs = []
    for turns in (null_conv, named_conv):
        both = turns.unionByName(df.filter(F.col("conv_id") == "b"))
        out = viterbi_smooth_df(both, "x", n_levels=4, carry_cols="all")
        rows = out.filter(F.col("conv_id").isNull()
                          | (F.col("conv_id") == "z")) \
            .orderBy("turn_idx").collect()
        outs.append([r.asDict() | {"conv_id": None} for r in rows])
    assert len(outs[0]) == 5 and outs[0] == outs[1]
