"""The workloads: what one iteration calls, and how each output is checked.

Each workload receives only the parquet paths and sidecar that ``gen.py``
wrote.  ``setup`` builds prerequisite state (timed as part of set-up),
``iteration`` issues its operations one after another through ``ctx.op``
(closed loop, one client), and ``micro`` times in-process kernel, serde and
merge calls on batches cut from the same inputs (traced run only).
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

BATCH_ROWS = 5000          # spark.sql.execution.arrow.maxRecordsPerBatch in session.py
BLOOM_P = 0.01
TOKEN_BLOOM_N = 50_000     # ≈ the distinct tokens of the token table
KEY_BLOOM_N = 4_000_000    # a 2^26-bit (8.4 MB) filter over a smaller key set
HLL_B = 14
CMS_EPS, CMS_DELTA = 1e-4, 1e-3
KLL_K = 200
TDIGEST_C = 200.0
# Each estimate is held to a high-confidence published bound: CMS eps*N (holds
# with probability 1-delta per query), KLL's 99 % rank error, the t-digest k1
# centroid span, and for HLL three standard errors of 1.04/sqrt(m).  The ratio
# observed/bound is reported as err_bound_ratio; an output check fails only
# past BOUND_TOLERANCE times the bound, well outside what a correct sketch
# produces, so sampling error alone never fails an operation.
HLL_SIGMAS = 3
BOUND_TOLERANCE = 1.5
N_FPR_PROBES = 200_000


class CheckFailed(Exception):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def rank_error(hist: np.ndarray, values: np.ndarray, qs) -> np.ndarray:
    """Normalized rank error of estimated q-quantiles ``values`` against the
    exact distribution ``hist`` (counts per integer value).  With ties, any
    rank in [F(v-), F(v)] is exact, so the error is the distance to that
    interval."""
    cdf = np.cumsum(hist) / hist.sum()
    v = np.clip(np.floor(values).astype(np.int64), 0, len(hist) - 1)
    frac = values - np.floor(values)
    le = cdf[v]
    lt = np.where(v > 0, cdf[np.maximum(v - 1, 0)], 0.0)
    # an interpolated (non-integer) estimate sits between v and v+1: every
    # rank from F(v) to F(v+1-) = F(v) is consistent with it
    lt = np.where(frac > 0, le, lt)
    q = np.asarray(qs)
    return np.maximum(0.0, np.maximum(lt - q, q - le))


def _timeit(fn, min_s: float = 0.03, max_reps: int = 50) -> float:
    """Median seconds per call over repeats totalling at least ``min_s``."""
    samples = []
    t_end = time.perf_counter() + min_s
    while len(samples) < 3 or (time.perf_counter() < t_end and len(samples) < max_reps):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    samples.sort()
    return samples[len(samples) // 2]


def _batches(path: str, col: str) -> list:
    """The column in the Arrow batches the scans hand to the kernels: one
    parquet row group, cut to at most BATCH_ROWS rows."""
    t = pq.read_table(path, columns=[col])
    return [b.column(0) for b in t.to_batches(max_chunksize=BATCH_ROWS)]


def _flat_i32(arr) -> np.ndarray:
    return arr.flatten().to_numpy(zero_copy_only=False).astype(np.int32, copy=False)


class Workload:
    name = ""
    corrupt_key = ""
    # untimed iterations between set-up and the timed ones: a fresh JVM's
    # iteration time falls over its first iterations (JIT warm-up); the
    # third iteration of doc_key_state and doc_dedup measured within a few
    # per cent of the ones after it
    warmups = 2

    def __init__(self, inputs: str, expected: dict, seed: int):
        self.inputs = inputs
        self.exp = expected
        self.seed = seed

    def path(self, name: str) -> str:
        return os.path.join(self.inputs, name)

    def prepare(self) -> None:
        """Driver-side expected answers that need more than the sidecar
        (not part of set-up time)."""

    def setup(self, spark) -> None:
        """Read the inputs, run the first count and build prerequisite state."""
        raise NotImplementedError

    def iteration(self, ctx) -> None:
        raise NotImplementedError

    def micro(self, ctx, outputs: dict) -> dict:
        return {}


# -- token table ---------------------------------------------------------------

class TokenBuild(Workload):
    """Every kernel route over the token table: native pyarrow scan (bloom,
    hll, cms), JVM Arrow exchange (kll, t-digest), and both grouped routes."""
    name = "token_build"
    corrupt_key = "n_tokens"
    # one warm-up: most of an iteration is Python-worker time, which has no
    # JIT, and a second warm-up would cost the run budget a whole iteration
    warmups = 1

    def items(self) -> int:
        return self.exp["n_tokens"]

    def prepare(self) -> None:
        h = np.load(self.path("hist.npz"))
        self.hist, self.ntok_hist = h["tokens"], h["n_tok"]
        self.present = np.flatnonzero(self.hist).astype(np.int32)
        self.absent = gen.absent_fpr_probes(self.seed, N_FPR_PROBES)

    def setup(self, spark) -> None:
        self.tokens = spark.read.parquet(self.path("tokens.parquet"))
        self.tokens.count()

    def check_bloom(self, ctx, out) -> None:
        from bloom_filter_spark.sketches import BloomSketch
        blob, n = out
        expect(n == self.exp["n_tokens"], f"bloom n_items {n} != {self.exp['n_tokens']}")
        sk, state = BloomSketch.deserialize(blob)
        fn = int((~sk.contains_i32(state, self.present)).sum())
        expect(fn == 0, f"bloom: {fn} false negatives")
        fpr = float(sk.contains_i32(state, self.absent).mean())
        ctx.record_fpr(fpr)
        expect(fpr <= BLOOM_P, f"bloom FPR {fpr} > p={BLOOM_P}")

    def micro(self, ctx, outputs: dict) -> dict:
        from bloom_filter_spark.core import hashing
        from bloom_filter_spark.sketches import BloomSketch
        cols = _batches(self.path("tokens.parquet"), "tokens")
        flats = [_flat_i32(c) for c in cols]
        batch = flats[0]
        distinct = total = 0
        for f in flats:
            packed = hashing.compact_i32_counts(f)
            distinct += len(packed[0]) if packed is not None else len(f)
            total += len(f)
        ids = hashing.arrow_strbuf(
            pq.read_table(self.path("tokens.parquet"), columns=["doc_id"])
            .column(0).combine_chunks().slice(0, BATCH_ROWS))
        out = {
            "core.distinct_ratio": distinct / total,
            "core.hash_i32_ns_per_item":
                _timeit(lambda: hashing.hash64_i32(batch)) / len(batch) * 1e9,
            "core.hash_str_ns_per_item":
                _timeit(lambda: hashing.hash64_str(ids)) / len(ids) * 1e9,
        }
        sk = self.sketches()
        bloom = sk["bloom"]
        st = bloom.empty()
        out["sketches.bloom.update_ns_per_item"] = _timeit(
            lambda: bloom.update_i32(st, batch)) / len(batch) * 1e9
        if outputs.get("bloom") is not None:
            _, full = BloomSketch.deserialize(outputs["bloom"][0])
            out["sketches.bloom.contains_ns_per_item"] = _timeit(
                lambda: bloom.contains_i32(full, batch)) / len(batch) * 1e9
        ntok = _batches(self.path("tokens.parquet"), "n_tok")[0].to_numpy().astype(np.float64)
        for kind in ("hll", "cms", "kll", "tdigest"):
            st = sk[kind].empty()
            vals = ntok if kind == "tdigest" else batch
            upd = sk[kind].update if kind == "tdigest" else sk[kind].update_i32
            if kind in ("kll", "tdigest"):
                # order-sensitive states: time a fresh fold each call
                def call(s=sk[kind], u=upd, v=vals):
                    u(s.empty(), v)
            else:
                def call(u=upd, st=st, v=vals):
                    u(st, v)
            out[f"sketches.{kind}.update_ns_per_item"] = _timeit(call) / len(vals) * 1e9
        for kind in ("bloom", "hll", "cms", "kll", "tdigest"):
            if kind in outputs and outputs[kind] is not None:
                out.update(serde_metrics(kind, sk[kind], outputs[kind][0]))
        if "bloom" in outputs and outputs["bloom"] is not None:
            out["operators.merge.fold_ms"] = fold_ms(
                bloom, flats, ctx.partials.get("bloom", 16),
                lambda s, st, b: s.update_i32(st, b))
        return out

    def sketches(self):
        from bloom_filter_spark.sketches import (
            BloomParams, BloomSketch, CMSParams, CMSSketch, HLLParams,
            HLLSketch, KLLParams, KLLSketch, TDigestParams, TDigestSketch)
        return {
            "bloom": BloomSketch(BloomParams(n=TOKEN_BLOOM_N, p=BLOOM_P)),
            "hll": HLLSketch(HLLParams(b=HLL_B)),
            "cms": CMSSketch(CMSParams(eps=CMS_EPS, delta=CMS_DELTA)),
            "kll": KLLSketch(KLLParams(k=KLL_K)),
            "tdigest": TDigestSketch(TDigestParams(TDIGEST_C)),
        }

    def iteration(self, ctx) -> None:
        from bloom_filter_spark.operators import build_grouped, build_sketch
        sk = self.sketches()
        tok = self.tokens
        for kind in ("bloom", "hll", "cms", "kll"):
            ctx.op(kind, "build",
                   lambda s=sk[kind]: build_sketch(tok, s, "tokens", "i32_array"),
                   getattr(self, f"check_{kind}"))
        ctx.op("tdigest", "build",
               lambda: build_sketch(tok, sk["tdigest"], "n_tok", "f64"),
               self.check_tdigest)
        grouped_hll = sk["hll"]
        mapside = ctx.op("grouped_mapside", "grouped", lambda: build_grouped(
            tok, grouped_hll, "source", "tokens", "i32_array",
            strategy="mapside").collect(), self.check_grouped)
        ctx.op("grouped_salted", "grouped", lambda: build_grouped(
            tok, grouped_hll, "source", "tokens", "i32_array", n_salts=4,
            salt_on="doc_id", strategy="salted").collect(),
            lambda c, rows: self.check_salted(c, rows, mapside))

    def check_hll(self, ctx, out) -> None:
        from bloom_filter_spark.sketches import HLLSketch
        blob, n = out
        expect(n == self.exp["n_tokens"], f"hll n_items {n}")
        sk, state = HLLSketch.deserialize(blob)
        self._hll_ratio(ctx, sk, state, self.exp["distinct_global"], "global")

    def _hll_ratio(self, ctx, sk, state, exact: int, label: str) -> None:
        rel = abs(sk.estimate(state) - exact) / exact
        ctx.bound(f"hll {label}", rel, HLL_SIGMAS * sk.params.std_error)

    def check_cms(self, ctx, out) -> None:
        from bloom_filter_spark.sketches import CMSSketch
        blob, n = out
        expect(n == self.exp["n_tokens"], f"cms n_items {n}")
        sk, state = CMSSketch.deserialize(blob)
        q = np.array(self.exp["cms_queries"], np.int64)
        est = sk.point_i32(state, q[:, 0].astype(np.int32))
        err = est - q[:, 1]
        expect(bool((err >= 0).all()), "cms underestimated a count")
        ctx.bound("cms", float(err.max()), sk.params.eps * n)

    def check_kll(self, ctx, out) -> None:
        from bloom_filter_spark.sketches import KLLSketch
        blob, n = out
        expect(n == self.exp["n_tokens"], f"kll n_items {n}")
        sk, state = KLLSketch.deserialize(blob)
        est = sk.quantiles(state, gen.QUANTILE_QS)
        err = rank_error(self.hist, est, gen.QUANTILE_QS)
        ctx.bound("kll rank", float(err.max()), sk.params.rank_error)

    def check_tdigest(self, ctx, out) -> None:
        from bloom_filter_spark.sketches import TDigestSketch
        blob, n = out
        expect(n == self.exp["n_docs"], f"tdigest n_items {n}")
        sk, state = TDigestSketch.deserialize(blob)
        est = sk.quantiles(state, gen.QUANTILE_QS)
        err = rank_error(self.ntok_hist, est, gen.QUANTILE_QS)
        # a k1-scale centroid spans at most pi/(2*delta) of rank at the
        # median; an interpolated estimate lies within two half-centroids
        ctx.bound("tdigest rank", float(err.max()), math.pi / sk.params.compression)

    def check_grouped(self, ctx, rows) -> None:
        from bloom_filter_spark.sketches import HLLSketch
        by = {r.group: r for r in rows}
        expect(set(by) == set(gen.SOURCES), f"grouped: groups {sorted(by)}")
        expect(sum(r.n_items for r in rows) == self.exp["n_tokens"],
               "grouped: n_items do not sum to the token count")
        for src, exact in self.exp["distinct_by_source"].items():
            sk, state = HLLSketch.deserialize(bytes(by[src].state))
            self._hll_ratio(ctx, sk, state, exact, src)

    def check_salted(self, ctx, rows, mapside) -> None:
        self.check_grouped(ctx, rows)
        if mapside is not None:
            a = {r.group: bytes(r.state) for r in mapside}
            b = {r.group: bytes(r.state) for r in rows}
            expect(a == b, "salted and map-side grouped HLL states differ")


# -- string keys -----------------------------------------------------------------

class DocKeyState(Workload):
    """Small input, wide state: a checkpointed 8.4 MB string-key Bloom, its
    resume, a counting-Bloom changelog fold and a string full-stream probe."""
    name = "doc_key_state"
    corrupt_key = "n_keys"

    def items(self) -> int:
        return self.exp["n_keys"]

    def prepare(self) -> None:
        from bloom_filter_spark.core import hashing

        def strbuf(name):
            return hashing.arrow_strbuf(
                pq.read_table(self.path(name)).column(0).combine_chunks())
        self.keys = strbuf("keys.parquet")
        self.live = strbuf("live_keys.parquet")
        self.deleted = strbuf("deleted_keys.parquet")
        self.absent = hashing.arrow_strbuf(pa.array(
            [f"absent_{self.seed}_{i}" for i in range(N_FPR_PROBES)]))

    def setup(self, spark) -> None:
        self.keys_df = spark.read.parquet(self.path("keys.parquet"))
        self.changelog = spark.read.parquet(self.path("changelog.parquet"))
        self.keys_df.count()

    def sketches(self):
        from bloom_filter_spark.sketches import (
            BloomParams, BloomSketch, CountingBloomSketch)
        return (BloomSketch(BloomParams(n=KEY_BLOOM_N, p=BLOOM_P)),
                CountingBloomSketch(BloomParams(n=self.exp["n_keys"], p=BLOOM_P)))

    def iteration(self, ctx) -> None:
        from pyspark.sql import functions as F

        from bloom_filter_spark.operators import (
            SketchCheckpoint, build_delta_sketch, build_sketch, membership_scan)
        bloom, cbloom = self.sketches()
        ckpt = SketchCheckpoint(ctx.fresh_dir("checkpoint"))
        spark = self.keys_df.sparkSession
        built = ctx.op("checkpointed_build", "build", lambda: build_sketch(
            self.keys_df, bloom, "doc_id", "str", checkpoint=ckpt,
            sketch_id="keys"), self.check_bloom)
        ctx.op("resume", "checkpoint",
               lambda: ckpt.resume(spark, "keys", bloom),
               lambda c, out: self.check_resume(out, built))
        ctx.op("delta_fold", "build", lambda: build_delta_sketch(
            self.changelog, cbloom, "doc_id", "sign", "str"), self.check_delta)
        if built is None:
            return
        blob = built[0]
        ctx.op("scan_str", "probe", lambda: membership_scan(
            self.keys_df, "doc_id", spark, blob, "bloom", value_kind="str")
            .agg(F.sum("n_probed").alias("n"), F.sum("n_member").alias("hits"))
            .collect()[0], self.check_scan, broadcast_bytes=len(blob))

    def check_bloom(self, ctx, out) -> None:
        from bloom_filter_spark.sketches import BloomSketch
        blob, n = out
        expect(n == self.exp["n_keys"], f"bloom n_items {n} != {self.exp['n_keys']}")
        sk, state = BloomSketch.deserialize(blob)
        fn = int((~sk.contains_str(state, self.keys)).sum())
        expect(fn == 0, f"string bloom: {fn} false negatives")
        fpr = float(sk.contains_str(state, self.absent).mean())
        ctx.record_fpr(fpr)
        expect(fpr <= BLOOM_P, f"string bloom FPR {fpr}")

    def check_resume(self, out, built) -> None:
        expect(built is not None, "nothing to resume: the build failed")
        expect(out[1] == built[1], f"resume n_items {out[1]} != {built[1]}")
        expect(out[0] == built[0], "resumed blob differs from the built blob")

    def check_delta(self, ctx, out) -> None:
        from bloom_filter_spark.sketches import CountingBloomSketch
        blob, n = out
        expect(n == self.exp["n_changelog_rows"], f"delta n_items {n}")
        sk, state = CountingBloomSketch.deserialize(blob)
        fn = int((~sk.contains_str(state, self.live)).sum())
        expect(fn == 0, f"counting bloom: {fn} live keys missing")
        fpr = float(sk.contains_str(state, self.deleted).mean())
        expect(fpr <= BLOOM_P, f"counting bloom: deleted keys read present at {fpr}")

    def check_scan(self, ctx, row) -> None:
        n = self.exp["n_keys"]
        expect(row.n == n, f"string scan probed {row.n} != {n}")
        expect(row.hits == n, f"string scan: {n - row.hits} false negatives")

    def micro(self, ctx, outputs: dict) -> dict:
        from bloom_filter_spark.core import hashing
        bloom, cbloom = self.sketches()
        cols = _batches(self.path("keys.parquet"), "doc_id")
        batches = [hashing.arrow_strbuf(c) for c in cols]
        b0 = batches[0]
        per = 1e9 / len(b0)
        st, cst = bloom.empty(), cbloom.empty()
        out = {
            "core.hash_str_ns_per_item": _timeit(lambda: hashing.hash64_str(b0)) * per,
            "sketches.bloom_str.update_ns_per_item":
                _timeit(lambda: bloom.update_str(st, b0)) * per,
            "sketches.cbloom_str.update_ns_per_item":
                _timeit(lambda: cbloom.update_str(cst, b0)) * per,
        }
        built = outputs.get("checkpointed_build")
        if built is not None:
            _, full = type(bloom).deserialize(built[0])
            out["sketches.bloom_str.contains_ns_per_item"] = _timeit(
                lambda: bloom.contains_str(full, b0)) * per
            out.update(serde_metrics("bloom", bloom, built[0]))
            out["operators.merge.fold_ms"] = fold_ms(
                bloom, batches, ctx.partials.get("checkpointed_build", 4),
                lambda s, st, b: s.update_str(st, b))
        if outputs.get("delta_fold") is not None:
            out.update(serde_metrics("cbloom", cbloom, outputs["delta_fold"][0]))
        return out


# -- documents ---------------------------------------------------------------------

class DocDedup(Workload):
    """Many-stage pipeline functions: fixed stage latency and shuffle dominate
    and the sketch kernels barely run."""
    name = "doc_dedup"
    corrupt_key = "n_train"

    def items(self) -> int:
        return self.exp["n_train"]

    def prepare(self) -> None:
        from bloom_filter_spark.functions.dedup import simhash_signatures_np
        t = pq.read_table(self.path("train.parquet"))
        ids = t.column("doc_id").to_numpy()
        self.texts = t.column("text").to_pylist()
        # brute-force all-pairs hamming over the signature kernel: the exact
        # answer for the banded multi-probe join
        sig = simhash_signatures_np(self.texts).view(np.uint8).reshape(-1, 8)
        pop = np.array([bin(i).count("1") for i in range(256)], np.uint8)
        pairs = set()
        for i in range(len(ids) - 1):
            d = pop[sig[i + 1:] ^ sig[i]].sum(axis=1)
            for j in np.flatnonzero(d <= 7).tolist():
                a, b = int(ids[i]), int(ids[i + 1 + j])
                pairs.add((min(a, b), max(a, b)))
        self.simhash_pairs = pairs

    def setup(self, spark) -> None:
        self.train = spark.read.parquet(self.path("train.parquet"))
        self.eval = spark.read.parquet(self.path("eval.parquet"))
        self.train.count()

    def iteration(self, ctx) -> None:
        from bloom_filter_spark.functions import dedup
        ctx.op("minhash_lsh_pairs", "dedup", lambda: dedup.minhash_lsh_pairs(
            self.train, threshold=0.5).collect(), self.check_minhash)
        ctx.op("simhash_pairs", "dedup", lambda: dedup.simhash_pairs(
            self.train, max_hamming=7).collect(), self.check_simhash)
        ctx.op("contamination_check", "dedup", lambda: dedup.contamination_check(
            self.train, self.eval).collect(), self.check_contamination)

    def check_minhash(self, ctx, rows) -> None:
        got = {(r.doc_a, r.doc_b): r.jaccard for r in rows}
        want = {(a, b): j for a, b, j in self.exp["minhash_pairs"]}
        expect(set(got) == set(want),
               f"minhash pairs: {len(set(want) - set(got))} missing, "
               f"{len(set(got) - set(want))} unexpected")
        bad = [p for p in want if abs(got[p] - want[p]) > 1e-6]
        expect(not bad, f"minhash: {len(bad)} pairs with a wrong jaccard")

    def check_simhash(self, ctx, rows) -> None:
        got = {(r.doc_a, r.doc_b) for r in rows}
        expect(got == self.simhash_pairs,
               f"simhash pairs: {len(self.simhash_pairs - got)} missing, "
               f"{len(got - self.simhash_pairs)} unexpected")
        exact = {tuple(p) for p in self.exp["exact_dup_pairs"]}
        expect(exact <= got, "simhash missed an exact duplicate")

    def check_contamination(self, ctx, rows) -> None:
        expect(len(rows) == self.exp["n_train"], f"contamination rows {len(rows)}")
        expect(sum(r.n_grams for r in rows) == self.exp["n_grams_total"],
               "contamination: n_grams total differs")
        expect(sum(r.n_contaminated for r in rows) == self.exp["n_contaminated_total"],
               "contamination: n_contaminated total differs")
        flagged = sorted(r.doc_id for r in rows if r.contaminated)
        expect(flagged == self.exp["contaminated_ids"],
               "contamination: flagged doc set differs")

    def micro(self, ctx, outputs: dict) -> dict:
        from bloom_filter_spark.core import hashing
        words = np.array(" ".join(self.texts[:200]).split(" "), dtype=object)
        return {"core.hash_str_ns_per_item":
                _timeit(lambda: hashing.hash64_str(words)) / len(words) * 1e9}


# -- shared microcalls ---------------------------------------------------------------

def serde_metrics(kind: str, sketch, blob: bytes) -> dict:
    cls = type(sketch)
    _, state = cls.deserialize(blob)
    return {
        f"sketches.{kind}.serialize_ms": _timeit(lambda: sketch.serialize(state)) * 1e3,
        f"sketches.{kind}.deserialize_ms": _timeit(lambda: cls.deserialize(blob)) * 1e3,
        f"sketches.{kind}.state_bytes": len(blob),
    }


def fold_ms(sketch, batches: list, n_partials: int, update) -> float:
    """``merge_blobs`` over ``n_partials`` partial blobs of the real size,
    each folded from its own slice of the workload's batches."""
    from bloom_filter_spark.operators import merge_blobs
    n_partials = max(2, n_partials)
    blobs = []
    for i in range(n_partials):
        st = sketch.empty()
        for b in batches[i::n_partials]:
            update(sketch, st, b)
        blobs.append(sketch.serialize(st))
    return _timeit(lambda: merge_blobs(sketch, blobs, 0)) * 1e3


WORKLOADS = {w.name: w for w in (TokenBuild, DocKeyState, DocDedup)}


def load(workload: str, inputs: str, seed: int, corrupt: bool) -> Workload:
    with open(os.path.join(inputs, "expected.json")) as f:
        expected = json.load(f)
    w = WORKLOADS[workload](inputs, expected, seed)
    if corrupt:
        # a deliberately wrong expected answer: every check reading it must fail
        expected[w.corrupt_key] += 1
    return w
