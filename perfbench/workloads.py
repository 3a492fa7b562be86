"""The benchmark's three workloads over one seeded transcript corpus.

Each workload has a ``setup`` (run several times; the median is the
``setup_s`` metric), an ``op`` (one closed-loop operation, timed) and a
``check`` (correctness of that operation's outputs against exact
answers computed in set-up, untimed).

Sketch factories are ``functools.partial`` objects over library
classes: Spark pickles them by reference, so no benchmark code has to
reach the executors."""

from __future__ import annotations

import functools
import math
import os
import time

import numpy as np

from btl_bloomfilter_spark.functions import hashing as H
from btl_bloomfilter_spark.functions.probe import with_probe_columns
from btl_bloomfilter_spark.operators.base import Sketch
from btl_bloomfilter_spark.operators.bloom import BloomFilter
from btl_bloomfilter_spark.operators.counting import CountMinSketch
from btl_bloomfilter_spark.operators.hll import HyperLogLog
from btl_bloomfilter_spark.operators.kll import KLL
from btl_bloomfilter_spark.operators.tdigest import TDigest
from btl_bloomfilter_spark.plans.agg import build_sketch, sketch_by_key
from btl_bloomfilter_spark.sources.transcripts import negative_corpus, transcripts_df
from btl_bloomfilter_spark.streaming.accumulate import load_running, merge_batch_into
from pyspark.sql import functions as F

from .summary import check_digest, median

# -- corpus ------------------------------------------------------------
#: turns per corpus, exact for every seed (the generated conversations
#: are trimmed to it), so op cost does not drift with the seed's draw
N_TURNS = 12_000
#: conversations generated before trimming: ~8.3 turns each, so 1,700
#: conversations give ~14k turns, 7 standard deviations above N_TURNS
N_CONVS = 1_700
#: fixture canary: a fixed-seed corpus whose digest is pinned, checked
#: once per run whatever --seed is
CANARY = (42, 200)
PINNED = {CANARY: (1542, 971230878212783101)}

# -- sketch geometry: the suite of jobs/build_sketches.py --------------
#: 512-word vocab bounds distinct 12-gram windows, so a 2^26-bit (8 MiB)
#: Bloom stays ~3% full at any corpus size used here
BLOOM_M, BLOOM_H, BLOOM_K = 1 << 26, 3, 12
HLL_P = 14
CMS_EPS, CMS_DELTA = 0.001, 0.01
KLL_K = 200
TD_DELTA = 200.0

# -- correctness bounds -------------------------------------------------
HLL_BAND = 1.04 / math.sqrt(1 << HLL_P)
#: empirical KLL normalized-rank bound (operators/kll.py)
KLL_BOUND = 2.2 / KLL_K
#: t-digest has no published constant; at delta=200 the median sits in
#: centroids of well under 1% of the data
TD_BOUND = 0.01

N_NEG = 4000
FN_SAMPLE_MOD = 12  # ~1/12 of the corpus: false-negative and layer sample
#: micro-batches per pass over the corpus (~1,200 turns each): more
#: than the 8 filters a probe worker caches, so every novelty probe of a
#: running filter misses that cache, also after a pass wraps around
N_BATCHES = 10
LINEAGE = "perfbench-ingest"


def make_bloom() -> BloomFilter:
    return BloomFilter(BLOOM_M, BLOOM_H, BLOOM_K)


def fpr_bound(bf: BloomFilter, windows: int) -> float:
    """Upper bound on the mean seen-fraction of never-inserted strings.

    The per-window false-positive rate of a filter with fill X/m is
    (X/m)^h; the bound allows 3x that plus 10 stray hits over the
    ``windows`` probed.  (``theoretical_fpr()`` counts inserted windows
    with multiplicity and reads far higher on a repetitive corpus.)"""
    return 3.0 * bf.fpr() + 10.0 / windows


def rank_error(sorted_vals: np.ndarray, x: float, q: float) -> float:
    """Distance from q to the exact rank interval of x (ties give x a
    range of ranks, not one)."""
    n = sorted_vals.size
    lo = np.searchsorted(sorted_vals, x, side="left") / n
    hi = np.searchsorted(sorted_vals, x, side="right") / n
    return max(0.0, lo - q, q - hi)


def in_sample():
    """The fixed corpus sample: ~1/FN_SAMPLE_MOD of the turns."""
    return F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(FN_SAMPLE_MOD)) == 0


def windows_of(texts, k: int = BLOOM_K) -> int:
    return sum(max(0, len(t.encode()) - k + 1) for t in texts)


class Workload:
    """Shared set-up: the seeded corpus, trimmed to N_TURNS and cached."""

    name = ""

    def __init__(self, spark, tracer, seed: int, nproc: int, state_dir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.nproc = nproc
        self.state_dir = state_dir
        self.corpus = None
        self._cached: list = []
        self.probed: list[tuple[dict, Sketch]] = []  # (probe span, sketch) of the last op

    # -- set-up ------------------------------------------------------
    def _cache(self, df):
        df = df.cache()
        self._cached.append(df)
        return df

    def release(self) -> None:
        """Unpersist everything set-up cached."""
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def _load_corpus(self) -> None:
        with self.tracer.span("sources.transcripts_df", "sources") as rec:
            raw = transcripts_df(self.spark, N_CONVS, seed=self.seed)
            df = self._cache(
                # hash order keeps the fixture's mix (hot conv_id prefixes
                # sort last by name) and trims one conversation at most
                raw.orderBy(F.xxhash64("conv_id"), "conv_id", "turn_idx")
                .limit(N_TURNS)
                .repartition(self.nproc)
            )
            row = df.agg(
                F.count("*").alias("n"),
                F.expr("bit_xor(xxhash64(conv_id, turn_idx, text))").alias("digest"),
                F.sum(
                    F.octet_length("conv_id")
                    + F.octet_length("role")
                    + F.octet_length("text")
                    + F.coalesce(F.octet_length("tool"), F.lit(0))
                    + F.lit(12)  # turn_idx int + ts timestamp
                ).alias("bytes"),
            ).collect()[0]
        if row["n"] != N_TURNS:
            raise RuntimeError(f"corpus has {row['n']} turns, expected {N_TURNS}")
        self.corpus = df
        self.digest = (int(row["n"]), int(row["digest"]))
        self.input_bytes = int(row["bytes"])
        if rec is not None:
            rec["input_bytes"] = self.input_bytes
        sample = df.filter(in_sample())
        self.sample = sample.select("text", "conv_id", "tool").toArrow()

    def setup(self) -> None:
        self.release()
        self._load_corpus()

    # -- helpers -----------------------------------------------------
    def _probe(self, df, sketch, input_name: str, sketch_id: int, agg_cols):
        with self.tracer.span(
            "functions.probe.with_probe_columns", "functions.probe", input=input_name, sketch_id=sketch_id
        ) as rec:
            row = with_probe_columns(df, sketch, "text", frac_col="f", keep=[]).agg(*agg_cols).collect()[0]
        if rec is not None:
            self.probed.append((rec, sketch))
        return row

    def layer_bloom(self) -> BloomFilter:
        """The filter the workload's layer calibration measures."""
        raise NotImplementedError

    def trace_extras(self, result, root: dict) -> None:
        """Trace-mode annotations of a finished op (untimed)."""
        for rec, sk in self.probed:
            rec["broadcast_bytes"] = len(sk.serialize())


class Build(Workload):
    """Rebuild the sketch suite of jobs/build_sketches.py per op."""

    name = "build"

    def setup(self) -> None:
        super().setup()
        df = self.corpus
        self.kll_seed = 0x5EED0000 + self.seed
        cols = df.select("role", "conv_id", "tool", F.length("text").alias("len")).toPandas()
        self.exact_roles = cols.groupby("role")["conv_id"].nunique().to_dict()
        self.exact_tools = cols["tool"].value_counts().to_dict()
        self.sorted_lens = np.sort(cols["len"].to_numpy(dtype=np.float64))
        self.negatives = negative_corpus(N_NEG, seed=2 * self.seed + 1)
        self.neg_windows = windows_of(self.negatives)
        self.last_bloom = None

    def op(self):
        df = self.corpus
        span = self.tracer.span
        with span("plans.agg.build_sketch", "plans.agg", sketch="bloom"):
            bf = build_sketch(df, "text", make_bloom)
        with span("plans.agg.build_sketch", "plans.agg", sketch="cms"):
            cms = build_sketch(
                df.filter(F.col("tool").isNotNull()),
                "tool",
                functools.partial(CountMinSketch.from_error, CMS_EPS, CMS_DELTA),
            )
        with span("plans.agg.sketch_by_key", "plans.agg", sketch="hll"):
            hll = {
                r["role"]: r["est"]
                for r in sketch_by_key(
                    df,
                    ["role"],
                    "conv_id",
                    functools.partial(HyperLogLog, HLL_P),
                    HyperLogLog.estimate,
                    "est",
                    salt_partitions=self.nproc,
                ).collect()
            }
        lens = df.select(F.length("text").cast("double").alias("len"))
        with span("plans.agg.build_sketch", "plans.agg", sketch="kll"):
            kll = build_sketch(lens, "len", functools.partial(KLL, KLL_K, seed=self.kll_seed))
        with span("plans.agg.build_sketch", "plans.agg", sketch="tdigest"):
            td = build_sketch(lens, "len", functools.partial(TDigest, TD_DELTA))
        self.last_bloom = bf
        return N_TURNS, {"bloom": bf, "cms": cms, "hll": hll, "kll": kll, "tdigest": td}

    def check(self, res) -> tuple[list[str], dict]:
        bad: list[str] = []
        bf = res["bloom"]
        seen = bf.seen_fraction_arrow(self.sample.column("text"))
        if seen.size == 0 or seen.min() < 1.0:
            bad.append(f"bloom false negative: min seen-fraction {seen.min() if seen.size else None}")
        fpr = float(np.mean(bf.seen_fraction(self.negatives)))
        bound = fpr_bound(bf, self.neg_windows)
        if not fpr <= bound:
            bad.append(f"bloom fpr {fpr:.3g} > bound {bound:.3g}")
        hll_err = 0.0
        for role, exact in self.exact_roles.items():
            est = res["hll"].get(role)
            err = abs(est - exact) / exact if est is not None else float("inf")
            hll_err = max(hll_err, err)
            if not err <= HLL_BAND:
                bad.append(f"hll[{role}] = {est} vs exact {exact}")
        tools = list(self.exact_tools)
        est = res["cms"].estimate_batch(tools)
        exact = np.array([self.exact_tools[t] for t in tools], dtype=np.float64)
        slack = CMS_EPS * exact.sum()
        if not ((est >= exact).all() and (est <= exact + slack).all()):
            bad.append("cms estimate outside [true, true + eps*N]")
        kll_err = rank_error(self.sorted_lens, res["kll"].quantile(0.5), 0.5)
        if not kll_err <= KLL_BOUND:
            bad.append(f"kll median rank error {kll_err:.4f} > {KLL_BOUND:.4f}")
        td_err = rank_error(self.sorted_lens, res["tdigest"].quantile(0.5), 0.5)
        if not td_err <= TD_BOUND:
            bad.append(f"tdigest median rank error {td_err:.4f} > {TD_BOUND}")
        acc = {
            "bloom_fpr": fpr,
            "bloom_fpr_bound": bound,
            "hll_rel_err": hll_err,
            "cms_overcount": float((est - exact).max() / slack),
            "kll_rank_err": kll_err,
            "tdigest_rank_err": td_err,
        }
        return bad, acc

    def layer_bloom(self) -> BloomFilter:
        return self.last_bloom

    def trace_extras(self, res, root: dict) -> None:
        super().trace_extras(res, root)
        root["agg_final_bytes"] = sum(len(res[k].serialize()) for k in ("bloom", "cms", "kll", "tdigest"))


class Probe(Workload):
    """Probe the whole corpus and a disjoint negative set per op."""

    name = "probe"

    def setup(self) -> None:
        super().setup()
        with self.tracer.span("plans.agg.build_sketch", "plans.agg", sketch="bloom"):
            self.bloom = build_sketch(self.corpus, "text", make_bloom)
        negatives = negative_corpus(N_NEG, seed=2 * self.seed + 1)
        self.neg_windows = windows_of(negatives)
        self.neg_df = self._cache(self.spark.createDataFrame([(s,) for s in negatives], "text string"))
        self.neg_df.count()

    def op(self):
        pos = self._probe(
            self.corpus, self.bloom, "positives", 0, [F.min("f").alias("min_f"), F.count("*").alias("n")]
        )
        neg = self._probe(
            self.neg_df, self.bloom, "negatives", 0, [F.avg("f").alias("mean_f"), F.count("*").alias("n")]
        )
        return N_TURNS + N_NEG, {"pos": pos, "neg": neg}

    def check(self, res) -> tuple[list[str], dict]:
        bad = []
        pos, neg = res["pos"], res["neg"]
        if pos["n"] != N_TURNS or pos["min_f"] != 1.0:
            bad.append(f"positives: n={pos['n']} min seen-fraction={pos['min_f']}")
        bound = fpr_bound(self.bloom, self.neg_windows)
        if neg["n"] != N_NEG or not neg["mean_f"] <= bound:
            bad.append(f"negatives: n={neg['n']} fpr={neg['mean_f']} bound={bound:.3g}")
        return bad, {"bloom_fpr": float(neg["mean_f"]), "bloom_fpr_bound": bound}

    def layer_bloom(self) -> BloomFilter:
        return self.bloom


class Ingest(Workload):
    """Micro-batches split by conv_id hash: novelty probe, then merge
    into a running Bloom and HLL state file per op."""

    name = "ingest"

    def setup(self) -> None:
        super().setup()
        self.n_batches = N_BATCHES
        batch_of = F.pmod(F.xxhash64("conv_id"), F.lit(self.n_batches))
        tagged = self.corpus.withColumn("batch", batch_of)
        stats = {
            r["batch"]: (r["n"], r["convs"])
            for r in tagged.groupBy("batch")
            .agg(F.count("*").alias("n"), F.countDistinct("conv_id").alias("convs"))
            .collect()
        }
        self.batch_turns = [stats[b][0] for b in range(self.n_batches)]
        # batches split by conv_id, so distinct conversations add up
        self.cum_convs = np.cumsum([stats[b][1] for b in range(self.n_batches)]).tolist()
        # a micro-batch is a predicate over the landed (cached) corpus
        self.batches = [self.corpus.filter(batch_of == b) for b in range(self.n_batches)]
        sample = tagged.filter(in_sample())
        sample = sample.select("text", "batch").toPandas()
        self.batch_samples = [sample.loc[sample["batch"] == b, "text"].tolist() for b in range(self.n_batches)]
        self.negatives = negative_corpus(N_NEG // 2, seed=2 * self.seed + 1)
        self.neg_windows = windows_of(self.negatives)
        self.restart()

    def restart(self) -> None:
        """Empty state files; the stream starts again at batch 0."""
        self.next_batch = 0
        self.running = make_bloom()
        self.sketch_serial = 0
        self.paths = [os.path.join(self.state_dir, f"running.{s}") for s in ("bloom", "hll")]
        for p in self.paths:
            if os.path.exists(p):
                os.remove(p)

    def op(self):
        b = self.next_batch
        if b == 0 and os.path.exists(self.paths[0]):
            self.restart()  # a finished pass starts again from empty state
        batch = self.batches[b]
        nov = self._probe(
            batch,
            self.running,
            f"batch{b}",
            self.sketch_serial,
            [F.count("*").alias("n"), F.sum((F.col("f") < 1.0).cast("long")).alias("novel")],
        )
        span = self.tracer.span
        with span("streaming.accumulate.merge_batch_into", "streaming.accumulate", sketch="bloom"):
            bloom = merge_batch_into(self.paths[0], batch, "text", make_bloom, batch_id=b, lineage=LINEAGE)
        with span("streaming.accumulate.merge_batch_into", "streaming.accumulate", sketch="hll"):
            hll = merge_batch_into(
                self.paths[1], batch, "conv_id", functools.partial(HyperLogLog, HLL_P), batch_id=b, lineage=LINEAGE
            )
        written = sum(os.path.getsize(p) for p in self.paths)
        self.running = bloom
        self.sketch_serial += 1
        self.next_batch = (b + 1) % self.n_batches
        turns = self.batch_turns[b]
        return turns, {"batch": b, "nov": nov, "bloom": bloom, "hll": hll, "written": written, "turns": turns}

    def check(self, res) -> tuple[list[str], dict]:
        bad = []
        b, nov, bf = res["batch"], res["nov"], res["bloom"]
        if nov["n"] != self.batch_turns[b] or not 0 <= nov["novel"] <= nov["n"]:
            bad.append(f"novelty probe of batch {b}: n={nov['n']} novel={nov['novel']}")
        sample = self.batch_samples[b]
        if sample and bf.seen_fraction(sample).min() < 1.0:
            bad.append(f"running bloom misses turns of batch {b}")
        fpr = float(np.mean(bf.seen_fraction(self.negatives)))
        bound = fpr_bound(bf, self.neg_windows)
        if not fpr <= bound:
            bad.append(f"running bloom fpr {fpr:.3g} > bound {bound:.3g}")
        exact = self.cum_convs[b]
        err = abs(res["hll"].estimate() - exact) / exact
        if not err <= HLL_BAND:
            bad.append(f"running hll {res['hll'].estimate():.1f} vs exact {exact}")
        return bad, {
            "bloom_fpr": fpr,
            "bloom_fpr_bound": bound,
            "hll_rel_err": err,
            "write_bytes_per_turn": res["written"] / res["turns"],
        }

    def layer_bloom(self) -> BloomFilter:
        return self.running

    def trace_extras(self, res, root: dict) -> None:
        super().trace_extras(res, root)
        root["state_write_bytes"] = res["written"]
        t0 = time.perf_counter()
        for p in self.paths:
            load_running(p)
        root["state_read_s"] = time.perf_counter() - t0


WORKLOADS = {w.name: w for w in (Build, Probe, Ingest)}


def check_canary(spark) -> tuple[int, int]:
    """Digest of the fixed-seed canary corpus; raises on drift."""
    seed, n_convs = CANARY
    row = transcripts_df(spark, n_convs, seed=seed).agg(
        F.count("*").alias("n"), F.expr("bit_xor(xxhash64(conv_id, turn_idx, text))").alias("digest")
    ).collect()[0]
    got = (int(row["n"]), int(row["digest"]))
    check_digest(seed, n_convs, got, PINNED)
    return got


def _timed(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def layer_calibration(wl: Workload) -> dict[str, float]:
    """Single-core, driver-side timings of each operator kernel on the
    workload's fixed corpus sample and its own Bloom filter."""
    text = wl.sample.column("text")
    buf, offsets, _ = H.arrow_utf8_buffers(text)
    windows = int(H.hash_ngrams_from_buffers(buf, offsets, BLOOM_K, 1)[1].size)
    out = {"hashing.windows": windows}
    out["hashing.windows_per_s"] = windows / _timed(lambda: H.hash_ngrams_from_buffers(buf, offsets, BLOOM_K, 1), 5)
    fresh = [make_bloom() for _ in range(3)]
    out["bloom.update_windows_per_s"] = windows / _timed(lambda: fresh.pop().update_arrow(text), 3)
    bf = wl.layer_bloom()
    out["bloom.probe_windows_per_s"] = windows / _timed(lambda: bf.seen_fraction_arrow(text), 5)
    out["bloom.fill"] = bf.pop() / bf.m_bits
    blob = bf.serialize()
    out["sketch.blob_bytes"] = len(blob)
    out["sketch.serialize_s"] = _timed(bf.serialize, 3)
    out["sketch.deserialize_s"] = _timed(lambda: Sketch.deserialize(blob), 3)
    tools = wl.sample.column("tool").drop_null()
    lens = np.array([len(t) for t in text.to_pylist()], dtype=np.float64)
    conv = wl.sample.column("conv_id")
    out["hll.update_s"] = _timed(lambda: HyperLogLog(HLL_P).update_arrow(conv), 5)
    out["cms.update_s"] = _timed(lambda: CountMinSketch.from_error(CMS_EPS, CMS_DELTA).update_arrow(tools), 5)
    out["kll.update_s"] = _timed(lambda: KLL(KLL_K, seed=1).update(lens), 5)
    out["tdigest.update_s"] = _timed(lambda: TDigest(TD_DELTA).update(lens), 5)
    return out
