"""The benchmark's workloads: seeded inputs, one complete job each, and the
checks every timed job's output must pass.

Each job calls the engine's public API end to end, from the input parquet to
a complete feature result. Layer functions are looked up on their modules at
call time, so a traced job (tracing.Tracer.installed) reaches the same calls
through span wrappers.
"""

from __future__ import annotations

import importlib
import uuid

import numpy as np

import reference as ref

lld = importlib.import_module("opensmile_spark.lld")
windows = importlib.import_module("opensmile_spark.operators.windows")
sessionize = importlib.import_module("opensmile_spark.operators.sessionize")
bank = importlib.import_module("opensmile_spark.functionals.bank")
asof = importlib.import_module("opensmile_spark.operators.asof")
datagen = importlib.import_module("opensmile_spark.datagen")

# the five default point-in-time families (backfill_functionals' default)
BACKFILL_FAMILIES = ["means", "moments", "extremes", "percentiles", "regression"]
BACKFILL_COLS = ["char_len", "token_cnt"]
# the flagship per-session vector: five families over smoothed/delta LLDs
SESSION_FAMILIES = ["means", "moments", "percentiles", "regression", "peaks2"]
SESSION_LANES = ["char_len_sma3", "token_cnt_sma3", "char_len_sma3_de"]
CONV_COLS = ["char_len", "token_cnt", "reply_latency"]
CONV_FAMILIES = ["means", "moments", "extremes", "percentiles", "regression"]
GAP_S = 300.0

class Engine:
    """How a job reaches Spark: directly, or through a Tracer's spans."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer

    def scan(self, path):
        if self.tracer is None:
            return self.spark.read.parquet(path)
        return self.tracer.call("scan", self.spark.read.parquet, path)

    def sink(self, df, sample=None, path=None):
        """Write `df` (to parquet at `path`, else to the noop sink) and return
        (row count, rows matching `sample`), both observed by the write
        itself, so the checks see exactly what the timed job produced."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation(f"perfbench_check_{uuid.uuid4().hex}")
        metrics = [F.count(F.lit(1)).alias("rows")]
        if sample is not None:
            fields = [F.col(f"`{c}`") for c in df.columns]
            if "anchor_ts" in df.columns:
                fields.append(F.unix_micros("anchor_ts").alias("anchor_us"))
            metrics.append(F.collect_list(F.when(sample, F.struct(*fields)))
                           .alias("sample"))
        observed = df.observe(obs, *metrics)

        def write():
            w = observed.write.mode("overwrite")
            if path is None:
                w.format("noop").save()
            else:
                w.parquet(path)
            return obs.get["rows"]

        rows = write() if self.tracer is None else self.tracer.sink(write)
        got = obs.get
        return rows, [r.asDict() for r in got.get("sample", [])]


class Workload:
    """Seeded inputs written at set-up; `job` runs one complete job; `check`
    returns the failures found in its output. `prepare` (after set-up)
    derives the expected output, including `n_vectors`, the feature vectors
    in one complete result."""

    name = ""
    sizes: dict = {}
    n_sample = 6   # conversations whose output rows are checked against numpy

    def __init__(self, size: str, seed: int, data_dir, nproc: int):
        self.size = self.sizes[size]
        self.seed = seed
        self.dir = data_dir
        self.nproc = nproc
        self.rng = np.random.default_rng(seed)
        # the generator names conversations c0 .. c<convs-1>
        self.sample = self.pick([f"c{i}" for i in range(1, self.size["convs"])],
                                self.n_sample)

    def path(self, name: str) -> str:
        return str(self.dir / name)

    def transcripts(self, spark, turns_per_conv, **kw):
        return datagen.generate_transcripts(
            spark, n_convs=self.size["convs"], turns_per_conv=turns_per_conv,
            seed=self.seed, partitions=self.nproc, **kw)

    def pick(self, ids, k):
        ids = np.asarray(sorted(ids))
        return [str(c) for c in self.rng.choice(ids, min(k, len(ids)),
                                                 replace=False)]

    def warm_up(self, eng):
        """The first untimed job of set-up."""
        return self.job(eng)

    def trace_extras(self, tracer) -> dict:
        return {}

    @staticmethod
    def corrupt(out):
        """Perturb one feature in the benchmark's collected copy."""
        row = out["sample"][0]
        key = next(k for k, v in row.items()
                   if isinstance(v, float) and k.endswith("_amean"))
        row[key] = (0.0 if np.isnan(row[key]) else row[key]) * 1.001 + 1.0

    def count_failures(self, what, have, want):
        return [] if have == want else [f"{self.name}: {what} = {have}, expected {want}"]


class SessionVectors(Workload):
    """The nightly per-session vector job: scan -> LLD -> sma/delta ->
    sessionize -> functionals_kernel per session, joined with conversation-
    level functionals_sql, one vector per (conv, session)."""

    name = "session_vectors"
    sizes = {"full": {"convs": 600, "turns": 60},
             "tiny": {"convs": 200, "turns": 60}}

    def generate(self, spark):
        self.transcripts(spark, self.size["turns"], session_gap_prob=0.05) \
            .write.mode("overwrite").parquet(self.path("turns"))

    def prepare(self, spark):
        self.turns = t = ref.Turns([self.path("turns")])
        self.sess = t.session_ids(GAP_S)
        self.n_vectors = int(np.sum(self.sess[t.ends - 1] + 1))
        # expected vector of every sampled session, computed once: (values
        # that must be present, conversation-level values compared where
        # functionals_sql emits them)
        self.expected = {}
        for c in self.sample:
            sl = t.slice(c)
            sess = self.sess[sl]
            cl = ref.sma3(t.char_len[sl])
            lanes = {"char_len_sma3": cl, "token_cnt_sma3": ref.sma3(t.token_cnt[sl]),
                     "char_len_sma3_de": ref.delta2(cl)}
            conv = {}
            for col, v in {"char_len": t.char_len[sl], "token_cnt": t.token_cnt[sl],
                           "reply_latency": t.reply_latency[sl]}.items():
                conv.update(ref.functionals(col, v, CONV_FAMILIES))
            for s in range(int(sess[-1]) + 1):
                m = sess == s
                exp = {"n_turns": int(m.sum()), "conv_n_turns": len(sess)}
                for lane, v in lanes.items():
                    exp.update(ref.functionals(lane, v[m], SESSION_FAMILIES))
                self.expected[(c, s)] = (exp, conv)

    def job(self, eng):
        from pyspark.sql import functions as F

        t = eng.scan(self.path("turns"))
        x = lld.compute_lld(t)
        x = windows.sma(x, ["char_len", "token_cnt"], 3)
        x = windows.delta_regression(x, ["char_len_sma3"], 2)
        x = sessionize.sessionize(x, gap_seconds=GAP_S)
        vec = bank.functionals_kernel(
            x, SESSION_LANES, ("conv_id", "session_id"),
            families=SESSION_FAMILIES, repartition_cols=("conv_id",))
        conv = bank.functionals_sql(x, CONV_COLS) \
            .withColumnRenamed("n_turns", "conv_n_turns")
        out = vec.join(conv, "conv_id")
        rows, sample = eng.sink(out, F.col("conv_id").isin(self.sample))
        return {"rows": rows, "sample": sample}

    def check(self, out):
        bad = self.count_failures("vectors", out["rows"], self.n_vectors)
        got = {(r["conv_id"], r["session_id"]): r for r in out["sample"]}
        for key, row in got.items():
            if key in self.expected:
                exp, conv = self.expected[key]
                bad += ref.compare_row(
                    row, {**exp, **{k: v for k, v in conv.items() if k in row}},
                    f"{self.name} {key[0]}/{key[1]}")
        if set(got) != set(self.expected):
            bad.append(f"{self.name}: sampled sessions "
                       f"{sorted(set(got) ^ set(self.expected))[:5]} "
                       "missing or unexpected")
        return bad


class FeatureRefresh(Workload):
    """Point-in-time feature-store refresh: a seeded batch of new turns lands
    on ~5% of the conversations and on the mega-conversation; the job
    recomputes those with incremental_backfill, carries the rest forward
    from the base feature table, rewrites the latest LLD values at every
    anchor with asof_join, and writes features, watermark and latest values
    to parquet. Every job starts from the same base state."""

    name = "feature_refresh"
    sizes = {"full": {"convs": 300, "turns": 60, "new": 4, "mega": 32},
             "tiny": {"convs": 200, "turns": 60, "new": 4, "mega": 8}}
    STALE_SHARE = 0.05
    # the mega-conversation is always stale; its anchors are checked at
    # unix_micros(anchor_ts) % MEGA_STRIDE == 0
    MEGA, MEGA_STRIDE = "c0", 97

    def generate(self, spark):
        from pyspark.sql import functions as F

        per_conv = self.size["turns"] + self.size["new"]
        g = self.transcripts(spark, per_conv, mega_conv_factor=self.size["mega"])
        conv = F.col("conv_id")
        first_new = F.when(conv == self.MEGA, self.size["mega"] * per_conv) \
            .otherwise(per_conv) - self.size["new"]
        # exactly STALE_SHARE of the conversations (plus the mega one), so
        # every seed refreshes the same amount of work
        convs = self.size["convs"]
        chosen = np.random.default_rng([self.seed, 1]).choice(
            np.arange(1, convs), round(self.STALE_SHARE * convs), replace=False)
        stale = conv.isin([self.MEGA] + [f"c{i}" for i in chosen])
        new = stale & (F.col("turn_idx") >= first_new)
        g.filter(~new).write.mode("overwrite").parquet(self.path("base"))
        g.filter(new).write.mode("overwrite").parquet(self.path("batch"))

    def warm_up(self, eng):
        """Bootstrap the store: the first refresh, from an empty state over
        the base turns, writes the base feature table and watermark."""
        from pyspark.sql import functions as F

        t = eng.scan(self.path("base"))
        feats = asof.backfill_functionals(     # built only for its schema
            lld.compute_lld(t), t.select("conv_id", F.col("ts").alias("anchor_ts")),
            BACKFILL_COLS, families=BACKFILL_FAMILIES)
        spark = eng.spark
        return self.refresh(
            eng, t, spark.createDataFrame([], feats.schema),
            spark.createDataFrame([], "conv_id string, max_ts timestamp, "
                                      "n_rows long"), "base")

    def job(self, eng):
        t = eng.scan(self.path("base")).unionByName(eng.scan(self.path("batch")))
        return self.refresh(eng, t, eng.scan(self.path("base_features")),
                            eng.scan(self.path("base_watermark")), "out")

    def refresh(self, eng, t, prev_feats, prev_mark, dest):
        from pyspark.sql import functions as F

        x = lld.compute_lld(t)
        anchors = t.select("conv_id", F.col("ts").alias("anchor_ts"))
        feats, mark = asof.incremental_backfill(
            prev_feats, prev_mark, x, anchors, BACKFILL_COLS,
            families=BACKFILL_FAMILIES)
        latest = asof.asof_join(
            anchors, x.select("conv_id", "ts", "turn_idx", *BACKFILL_COLS),
            value_cols=BACKFILL_COLS)
        sample = F.col("conv_id").isin(self.sample) | (
            (F.col("conv_id") == self.MEGA)
            & (F.unix_micros("anchor_ts") % self.MEGA_STRIDE == 0))
        rows, got = eng.sink(feats, sample, path=self.path(f"{dest}_features"))
        marks, _ = eng.sink(mark, path=self.path(f"{dest}_watermark"))
        latest_rows, got_latest = eng.sink(latest, sample,
                                           path=self.path(f"{dest}_latest"))
        return {"rows": rows, "sample": got, "marks": marks,
                "latest_rows": latest_rows, "latest": got_latest}

    def prepare(self, spark):
        from pyspark.sql import functions as F

        self.turns = t = ref.Turns([self.path("base"), self.path("batch")])
        self.n_vectors = t.n_turns
        stale = set(ref.Turns([self.path("batch")]).conv_ids) - {self.MEGA}
        untouched = set(t.conv_ids) - stale - {self.MEGA}
        self.sample = self.pick(stale, 3) + self.pick(untouched, 3)
        mega_ts = t.ts_us[t.slice(self.MEGA)]
        self.want = {(c, int(a)) for c in self.sample
                     for a in t.ts_us[t.slice(c)]}
        self.want |= {(self.MEGA, int(a))
                      for a in mega_ts[mega_ts % self.MEGA_STRIDE == 0]}
        # the full recompute the refresh must equal bit-for-bit; a conv's
        # features depend only on its own rows (backfill_functionals'
        # contract), so the sampled convs are recomputed over their whole
        # history and nothing else
        full = spark.read.parquet(self.path("base")).unionByName(
            spark.read.parquet(self.path("batch"))) \
            .filter(F.col("conv_id").isin(self.sample + [self.MEGA]))
        feats = asof.backfill_functionals(
            lld.compute_lld(full),
            full.select("conv_id", F.col("ts").alias("anchor_ts")),
            BACKFILL_COLS, families=BACKFILL_FAMILIES)
        self.full = {
            (r["conv_id"], r["anchor_us"]): r.asDict() for r in
            feats.withColumn("anchor_us", F.unix_micros("anchor_ts")).collect()}
        # numpy expectation of every sampled anchor row, computed once: the
        # functional vector and the latest values over exactly the turns
        # with ts <= anchor_ts
        self.expected_feats, self.expected_latest = {}, {}
        for c, a_us in self.want:
            sl = t.slice(c)
            k = int(np.searchsorted(t.ts_us[sl], a_us, side="right"))
            vec, latest = {"n_visible": k}, {}
            for col in BACKFILL_COLS:
                x = getattr(t, col)[sl][:k]
                vec.update(ref.functionals(col, x, BACKFILL_FAMILIES))
                latest[col] = x[-1] if k else np.nan
            self.expected_feats[(c, a_us)] = vec
            self.expected_latest[(c, a_us)] = latest

    def check(self, out):
        n_turns = self.turns.n_turns
        bad = (self.count_failures("feature rows", out["rows"], n_turns)
               + self.count_failures("latest-value rows", out["latest_rows"],
                                     n_turns)
               + self.count_failures("watermark rows", out["marks"],
                                     len(self.turns.conv_ids))
               + self.check_anchor_rows(out["sample"], self.expected_feats)
               + self.check_anchor_rows(out["latest"], self.expected_latest))
        for r in out["sample"]:
            key = (r["conv_id"], r["anchor_us"])
            want = self.full.get(key)
            if want is not None:
                exp = {k: v for k, v in want.items()
                       if k not in ("conv_id", "anchor_ts")}
                bad += ref.compare_row(r, exp, f"{self.name} {key} vs full",
                                       exact=True)
        return bad

    def check_anchor_rows(self, rows, expected):
        """Every sampled anchor row against its numpy expectation."""
        bad = []
        got = {(r["conv_id"], r["anchor_us"]): r for r in rows}
        if set(got) != self.want:
            bad.append(f"{self.name}: sampled anchors "
                       f"{sorted(set(got) ^ self.want)[:5]} missing or unexpected")
        for (c, a_us), row in got.items():
            if (c, a_us) in expected:
                bad += ref.compare_row(row, expected[(c, a_us)],
                                       f"{self.name} {c}@{a_us}")
        return bad

    def trace_extras(self, tracer):
        fresh = tracer.results.get("backfill")
        stale = 0 if fresh is None else fresh.select("conv_id").distinct().count()
        return {"refresh.stale_convs": float(stale)}


WORKLOADS = {w.name: w for w in (SessionVectors, FeatureRefresh)}
