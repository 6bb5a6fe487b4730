"""pre_partitioned kernel path == shuffled path on group-contiguous input."""

import numpy as np
from pyspark.sql import functions as F


def test_pre_partitioned_matches_shuffled(spark, tmp_path):
    from opensmile_spark.datagen import generate_transcripts
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import sessionize, sma

    t = generate_transcripts(spark, n_convs=200, turns_per_conv=12,
                             session_gap_prob=0.2)
    sess = sessionize(sma(compute_lld(t), ["char_len"], 3),
                      gap_seconds=600.0)
    d = str(tmp_path / "sorted_corpus")
    (sess.repartition(8, "conv_id")
     .sortWithinPartitions("conv_id", "session_id", "turn_idx")
     .write.mode("overwrite").parquet(d))
    laid_out = spark.read.parquet(d)

    fams = ["means", "moments", "percentiles", "regression"]
    a = functionals_kernel(laid_out, ["char_len_sma3"],
                           ("conv_id", "session_id"), families=fams,
                           pre_partitioned=True).toPandas() \
        .set_index(["conv_id", "session_id"]).sort_index()
    b = functionals_kernel(laid_out, ["char_len_sma3"],
                           ("conv_id", "session_id"), families=fams) \
        .toPandas().set_index(["conv_id", "session_id"]).sort_index()
    assert a.index.equals(b.index)          # no duplicated/split groups
    assert len(a) == len(a.index.unique())  # exactly one row per group
    for c in a.columns:
        assert np.allclose(a[c].astype(float), b[c].astype(float),
                           equal_nan=True), c


def test_batch_straddle_matches_default_batches(spark, tmp_path):
    """Every caller of the sorted-group runner gives the same bits with
    64-row Arrow batches — which split groups across batch boundaries, so
    the trailing-group carry runs — as with the default batch size."""
    from opensmile_spark.datagen import generate_transcripts
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import (
        backfill_functionals, sessionize, sma, viterbi_smooth_df,
    )

    t = generate_transcripts(spark, n_convs=150, turns_per_conv=40,
                             session_gap_prob=0.15)
    sess = sessionize(sma(compute_lld(t), ["char_len", "token_cnt"], 3),
                      gap_seconds=600.0)
    d = str(tmp_path / "straddle_corpus")
    (sess.repartition(4, "conv_id")
     .sortWithinPartitions("conv_id", "session_id", "turn_idx")
     .write.mode("overwrite").parquet(d))
    laid_out = spark.read.parquet(d)
    vcols = ["char_len_sma3", "token_cnt_sma3"]
    fams = ["means", "moments", "extremes", "percentiles", "regression",
            "peaks2", "dct", "acf", "amdf", "lpc"]
    anchors = laid_out.select("conv_id", F.col("ts").alias("anchor_ts"))

    def outputs():
        out = {}
        for pre in (True, False):
            out[f"kernel_pre={pre}"] = functionals_kernel(
                laid_out, vcols, ("conv_id", "session_id"), families=fams,
                pre_partitioned=pre).toPandas() \
                .set_index(["conv_id", "session_id"]).sort_index()
        for ws in (None, 600.0):
            out[f"backfill_window={ws}"] = backfill_functionals(
                laid_out, anchors, vcols, window_seconds=ws).toPandas() \
                .set_index(["conv_id", "anchor_ts"]).sort_index()
        out["viterbi"] = viterbi_smooth_df(
            laid_out, "char_len_sma3", carry_cols="all").toPandas() \
            .set_index(["conv_id", "turn_idx"]).sort_index()
        return out

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    want = outputs()
    spark.conf.set(key, "64")
    try:
        got = outputs()
    finally:
        spark.conf.set(key, default)
    for name, b in want.items():
        a = got[name]
        assert a.index.equals(b.index), name
        assert list(a.columns) == list(b.columns), name
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if av.dtype.kind == "f":
                assert np.array_equal(av, bv, equal_nan=True), (name, c)
            else:
                assert (av == bv).all(), (name, c)


def test_derive_matches_vector_op(spark):
    """In-kernel derived lanes (derive=[...]) == explicit vector_op
    withColumn pipeline feeding the same kernel."""
    from opensmile_spark.datagen import generate_transcripts
    from opensmile_spark.functionals import functionals_kernel
    from opensmile_spark.lld import compute_lld
    from opensmile_spark.operators import sma
    from opensmile_spark.operators.vector_ops import vector_op

    t = generate_transcripts(spark, n_convs=60, turns_per_conv=25)
    lld = sma(compute_lld(t), ["char_len", "token_cnt"], 3)
    vcols = ["char_len_sma3", "token_cnt_sma3"]
    ops = ["sq", "log", "sqrt", "fconv_mel"]
    fams = ["means", "moments", "percentiles", "regression"]

    fused = functionals_kernel(lld, vcols, ("conv_id",), families=fams,
                               derive=ops).toPandas() \
        .set_index("conv_id").sort_index()

    explicit = lld
    exp_cols = list(vcols)
    spark_op = {"sq": ("pow", 2.0)}    # vector_op spells squaring as pow(2)
    for c in vcols:
        for op in ops:
            sop, sc = spark_op.get(op, (op, 1.0))
            explicit = vector_op(explicit, c, sop, scalar=sc,
                                 out_col=f"{c}__{op}")
            exp_cols.append(f"{c}__{op}")
    ref = functionals_kernel(explicit, exp_cols, ("conv_id",),
                             families=fams).toPandas() \
        .set_index("conv_id").sort_index()

    assert fused.index.equals(ref.index)
    assert sorted(fused.columns) == sorted(ref.columns)
    for c in fused.columns:
        assert np.allclose(fused[c].astype(float), ref[c].astype(float),
                           rtol=1e-12, atol=1e-12, equal_nan=True), c
