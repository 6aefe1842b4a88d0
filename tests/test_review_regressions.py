"""Regression tests for the round-1 adversarial review findings."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloom_filter_spark.compat import BloomFilter, CuckooFilter
from bloom_filter_spark.core import hashing


def test_compat_accepts_raw_non_utf8_bytes():
    f = BloomFilter(100, 0.01)
    f.insert(b"\xff\x81\x00tail")  # opaque []byte like the reference
    assert f.exist(b"\xff\x81\x00tail")
    assert not f.exist(b"\xff\x81\x00tall")


def test_compat_int64_keys_do_not_alias():
    f = BloomFilter(1000, 0.001)
    f.insert(2**32 + 5)
    assert f.exist(2**32 + 5)
    assert not f.exist(5)  # low-word aliasing would make this true
    f.insert_many(np.array([2**40, 7], np.int64))
    assert f.exist(2**40) and f.exist(7)
    cf = CuckooFilter(100, 0.8)
    assert cf.insert(2**33 + 1)
    assert cf.lookup(2**33 + 1)


def test_interior_nul_bytes_hash_distinctly():
    h1 = hashing.hash64_bytes(np.array([b"a\x00b"], dtype=bytes), 1)[0]
    h2 = hashing.hash64_bytes(np.array([b"a\x00c"], dtype=bytes), 1)[0]
    h3 = hashing.hash64_bytes(np.array([b"ab"], dtype=bytes), 1)[0]
    assert h1 != h2 and h1 != h3 and h2 != h3


def test_null_keys_probe_false_and_zero(spark, sf_small):
    from bloom_filter_spark.operators import (
        build_sketch, cms_point_udf, membership_udf)
    from bloom_filter_spark.sketches import BloomParams, BloomSketch, CMSParams, CMSSketch
    toks = spark.read.parquet(f"{sf_small}/tokens.parquet")
    # token 0 IS present (edge_zero_tok fixture row) — NULL must still be False
    bl, _ = build_sketch(toks, BloomSketch(BloomParams(n=65_536, p=0.01)),
                         "tokens", "i32_array")
    cm, _ = build_sketch(toks, CMSSketch(CMSParams(eps=0.001, delta=0.01)),
                         "tokens", "i32_array")
    probes = spark.createDataFrame([(0,), (None,)], "token int")
    probe = membership_udf(spark, bl, "bloom", "i32")
    point = cms_point_udf(spark, cm, "i32")
    rows = {r.token: (r.member, r.est) for r in probes.select(
        "token", probe("token").alias("member"), point("token").alias("est")
    ).collect()}
    assert rows[0][0] is True and rows[0][1] > 0
    assert rows[None][0] is False and rows[None][1] == 0


def test_checkpoint_rerun_supersedes_not_duplicates(spark, sf_small, tmp_path):
    from bloom_filter_spark.operators import SketchCheckpoint, build_sketch
    from bloom_filter_spark.sketches import CMSParams, CMSSketch
    toks = spark.read.parquet(f"{sf_small}/tokens.parquet").limit(500)
    ck = SketchCheckpoint(str(tmp_path / "ck"))
    sk = CMSSketch(CMSParams(eps=0.01, delta=0.01))
    blob1, n1 = build_sketch(toks, sk, "tokens", "i32_array",
                             checkpoint=ck, sketch_id="retry")
    # simulate an operator retry with the same sketch_id
    blob2, n2 = build_sketch(toks, sk, "tokens", "i32_array",
                             checkpoint=ck, sketch_id="retry")
    assert blob2 == blob1 and n2 == n1  # counts NOT doubled
    blob3, n3 = ck.resume(spark, "retry", sk)
    assert blob3 == blob1 and n3 == n1


@pytest.mark.parametrize("strategy", ["mapside", "salted"])
def test_grouped_skips_null_values(spark, strategy):
    from bloom_filter_spark.operators import build_grouped
    from bloom_filter_spark.sketches import BloomParams, BloomSketch
    df = spark.createDataFrame(
        [("g1", 5), ("g1", None), ("g1", 7)], "source string, v int")
    sk = BloomSketch(BloomParams(n=64, p=0.01))
    rows = build_grouped(df, sk, "source", "v", "i32",
                         strategy=strategy).collect()
    assert rows[0].n_items == 2  # null never counted or inserted
    _, state = BloomSketch.deserialize(bytes(rows[0].state))
    assert sk.contains_i32(state, np.array([5, 7], np.int32)).all()
    only = sk.empty()
    sk.update_i32(only, np.array([5, 7], np.int32))
    assert (state == only).all()


def test_lsh_signatures_respect_string_ids(spark):
    from bloom_filter_spark.functions.similarity import hyperplane_signatures
    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("b", [0.5, -1.0])],
        "vec_id string, embedding array<float>")
    out = hyperplane_signatures(df, n_bits=4)
    assert dict(out.dtypes)["id"] == "string"
    assert {r.id for r in out.collect()} == {"a", "b"}


def test_repartition_by_quantiles_range_partitioned(spark, sf_small):
    from bloom_filter_spark.functions.joins import repartition_by_quantiles
    toks = spark.read.parquet(f"{sf_small}/tokens.parquet")
    flat = toks.select(F.explode("tokens").alias("t"))
    out = repartition_by_quantiles(flat, "t", 8)
    sizes = [s for s in out.rdd.glom().map(len).collect() if s > 0]
    assert max(sizes) <= 3 * (sum(sizes) / len(sizes))


def test_blocked_bloom_rejects_unknown_hash_family():
    import pytest

    from bloom_filter_spark.sketches import BlockedBloomParams, BlockedBloomSketch
    with pytest.raises(ValueError, match="hash_family"):
        BlockedBloomParams(n=1000, p=0.01, hash_family="xxh128")
    sk = BlockedBloomSketch(BlockedBloomParams(n=1000, p=0.01,
                                               hash_family="xxh3"))
    blob = sk.serialize(sk.empty())
    with pytest.raises(ValueError, match="hash_family"):
        BlockedBloomSketch.deserialize(blob, hash_family="xxh3_128")


def test_near_dup_clusters_releases_checkpoint_blocks(spark):
    """r3 review: df.rdd.unpersist() was a no-op for localCheckpointed
    frames — per-round label tables accumulated in executor storage.  After
    the run, at most the returned table's own blocks may remain."""
    from bloom_filter_spark.functions.dedup import near_dup_clusters
    sc = spark.sparkContext
    before = len(sc._jsc.sc().getRDDStorageInfo())
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long")
    out = near_dup_clusters(pairs)
    out.count()
    after = len(sc._jsc.sc().getRDDStorageInfo())
    # rounds ran (>=6 for a 41-chain with doubling) yet storage grew by at
    # most the single returned localCheckpoint
    assert after - before <= 1, (before, after)


# ---- round-3 continuation review findings --------------------------------
def test_weighted_sample_nan_weights_rejected_and_filtered(spark):
    from bloom_filter_spark.functions import sampling
    with pytest.raises(ValueError, match="strictly positive"):
        sampling.weighted_logkeys_np(np.arange(2),
                                     np.array([1.0, np.nan]), 42)
    # plan-side: NaN-weight rows are dropped, not sorted to the top
    df = spark.createDataFrame(
        [(1, 5.0), (2, float("nan")), (3, 1.0)], "id long, w double")
    got = {r.id for r in sampling.weighted_sample_topk(df, "id", "w", k=3).collect()}
    assert got == {1, 3}


def test_weighted_sample_per_group_int_group_column(spark):
    from bloom_filter_spark.functions import sampling
    df = spark.createDataFrame(
        [(i, i % 3, float(i % 5 + 1)) for i in range(60)],
        "id long, g long, w double")
    got = sampling.weighted_sample_per_group(df, "id", "w", "g", k=4).collect()
    assert len(got) == 12  # 3 groups × 4 (group col stringified)
    assert {r.g for r in got} == {"0", "1", "2"}


def test_bloom_cardinality_subword_filter():
    from bloom_filter_spark.sketches import BloomParams, BloomSketch
    sk = BloomSketch(BloomParams(n=4, p=0.1))  # m = 32 < 64
    state = sk.empty()
    sk.update_i32(state, np.array([1, 2, 3], np.int32))
    est = sk.estimate_cardinality(state)
    assert est > 0  # the whole-word slice used to return 0.0 here
    assert abs(est - 3) <= 2


def test_asof_join_string_tie_col_orders_natively(spark):
    from bloom_filter_spark.functions.joins import asof_join
    ldf = spark.createDataFrame([(1, 100, 0)], "k long, lt long, lid long")
    rdf = spark.createDataFrame(
        [(1, 50, "ev-2", 1.0), (1, 50, "ev-9", 2.0)],
        "k long, rt long, rid string, v double")
    rows = asof_join(ldf, rdf, key="k", left_ts="lt", right_ts="rt",
                     right_cols=["rid", "v"], tie_col="rid").collect()
    assert rows[0].rid == "ev-9"  # largest native string tie wins


def test_asof_join_rejects_colliding_left_columns(spark):
    from bloom_filter_spark.functions.joins import asof_join
    ldf = spark.createDataFrame([(1, 100, 5.0)], "k long, lt long, v double")
    rdf = spark.createDataFrame([(1, 50, 1.0)], "k long, rt long, v double")
    with pytest.raises(ValueError, match="alias colliding"):
        asof_join(ldf, rdf, key="k", left_ts="lt", right_ts="rt",
                  right_cols=["v"])


def test_range_join_exact_bucketing_beyond_2_53(spark):
    """Epoch-nano-scale int64s: float division rounds above 2^53; the
    all-integer floordiv must keep bucket-edge points joinable."""
    from bloom_filter_spark.functions.joins import range_join
    base = (1 << 60) + 1  # not representable in float64
    pts = spark.createDataFrame([(1, 0, base)], "k long, pid long, pt long")
    ivs = spark.createDataFrame([(1, 9, base, base + 10)],
                                "k long, iid long, lo long, hi long")
    got = range_join(pts, ivs, key="k", point_ts="pt", start_ts="lo",
                     end_ts="hi", bucket=1000).collect()
    assert [(r.pid, r.iid) for r in got] == [(0, 9)]


def test_single_bucket_quantile_partitioning(spark):
    from bloom_filter_spark.functions.joins import repartition_by_quantiles
    df = spark.range(100).selectExpr("id", "id * 1.5 as v")
    out = repartition_by_quantiles(df, "v", 1)  # zero interior boundaries
    assert out.count() == 100


def test_token_fixtures_land_when_doc_twins_exist(tmp_path):
    """ensure_fixtures used a whole-directory rename, which raised ENOTEMPTY
    whenever ensure_doc_fixtures had created the scale dir first (found by
    the sf1 endurance harness, where the drift lines request the token
    fixture after the documents twins).  The fallback must land every file
    via per-file replace."""
    from bloom_filter_spark.sources.fixtures import (ensure_doc_fixtures,
                                                     ensure_fixtures)
    root = str(tmp_path)
    ensure_doc_fixtures("sf0.001", root=root)          # docs twins first
    out = ensure_fixtures("sf0.001", root=root)        # then tokens
    import os
    for f in ("tokens.parquet", "probes_present.parquet",
              "probes_absent.parquet", "doc_probes_present.parquet",
              "doc_probes_absent.parquet", "_SUCCESS",
              "documents.parquet", "embeddings.parquet", "_SUCCESS_DOCS"):
        assert os.path.exists(os.path.join(out, f)), f
    # idempotent re-entry takes the marker fast path
    assert ensure_fixtures("sf0.001", root=root) == out
