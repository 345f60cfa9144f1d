"""Bloom filter: no false negatives ever, FPP within bound, merge
equivalence, and the Spark probe agrees with the left_anti exact oracle."""

import numpy as np
from pyspark.sql import functions as F

from audio_quality_checker_spark.operators.referential import (
    BloomFilter,
    build_bloom,
    referential_violations,
    unknown_hosts_exact,
    with_membership,
)
from audio_quality_checker_spark.operators.stats import derive_row_features
from audio_quality_checker_spark.config import CheckSuite
from audio_quality_checker_spark.sources.pages import gen_pages_pdf, ref_hosts_pdf


def test_no_false_negatives_and_fpp():
    keys = [f"host{i:05d}.example.net" for i in range(10_000)]
    bf = BloomFilter.sized_for(len(keys), fpp=0.01)
    bf.add_many(keys)
    assert bf.contains_many(keys).all(), "false negative!"
    probes = [f"absent{i:06d}.other.net" for i in range(20_000)]
    fp_rate = bf.contains_many(probes).mean()
    assert fp_rate < 0.03, f"observed FPP {fp_rate}"


def test_merge_equals_single_build():
    a_keys = [f"a{i}" for i in range(5000)]
    b_keys = [f"b{i}" for i in range(5000)]
    single = BloomFilter.sized_for(10_000)
    single.add_many(a_keys + b_keys)
    pa = BloomFilter(single.m_bits, single.n_hashes)
    pa.add_many(a_keys)
    pb = BloomFilter(single.m_bits, single.n_hashes)
    pb.add_many(b_keys)
    merged = pa.merge(pb)
    assert bytes(merged.bits) == bytes(single.bits)


def test_spark_probe_matches_exact_oracle(spark):
    pages = spark.createDataFrame(gen_pages_pdf(300, categories=["UnknownHost"]))
    hosts = spark.createDataFrame(ref_hosts_pdf())
    features = derive_row_features(pages)
    bloom = build_bloom(hosts, "host")
    probed = with_membership(features, bloom, "host")
    bloom_misses = probed.where(
        F.col("host").isNotNull() & ~F.col("host_known")
    ).count()
    exact = unknown_hosts_exact(features, hosts).collect()
    exact_misses = sum(r["n_unknown"] for r in exact)
    # Bloom has false positives (membership=yes for an absent key) but no
    # false negatives, so bloom-reported misses <= exact misses, and with
    # fpp=1% on 200 keys they should be equal here
    assert bloom_misses == exact_misses
    v = referential_violations(features, hosts, CheckSuite(), bloom=bloom).collect()
    assert len(v) == 1 and v[0]["violation_type"] == "ReferentialViolation"


def test_bloom_build_refuses_unbroadcastable_filter(spark):
    """A dimension whose Bloom would exceed the broadcastable bound must
    refuse loudly with guidance, not OOM the driver (round-5 verdict:
    documented-bound-plus-refusal, the bounds_simhash precedent)."""
    import pytest as _pytest

    from audio_quality_checker_spark.operators import referential as R

    dim = spark.createDataFrame(
        [(f"host{i}",) for i in range(64)], "host string"
    )
    old = R.DRIVER_BLOOM_MAX_BYTES
    try:
        R.DRIVER_BLOOM_MAX_BYTES = 8  # absurdly small: force the refusal
        with _pytest.raises(ValueError, match="left_anti"):
            R.build_bloom(dim, "host")
    finally:
        R.DRIVER_BLOOM_MAX_BYTES = old


def test_bloom_distributed_build_tree_merges(spark):
    """The >cap path (forced via the key threshold) must produce a
    filter equivalent to the driver build: same members, no false
    negatives."""
    from audio_quality_checker_spark.operators import referential as R

    hosts = [f"h{i}.example.com" for i in range(500)]
    dim = spark.createDataFrame([(h,) for h in hosts], "host string")
    old = R.DRIVER_BUILD_MAX_KEYS
    try:
        R.DRIVER_BUILD_MAX_KEYS = 10  # force the distributed path
        bf = R.build_bloom(dim, "host")
    finally:
        R.DRIVER_BUILD_MAX_KEYS = old
    assert all(bf.contains_many(hosts))


def test_bloom_bits_with_null_keys(spark):
    """Null keys count toward the filter's sizing n (the dimension's row
    count) but are never added; the driver build and the forced
    distributed build give the same bits."""
    from audio_quality_checker_spark.operators import referential as R

    hosts = [f"h{i}.example.com" for i in range(300)] + [None] * 40
    dim = spark.createDataFrame([(h,) for h in hosts], "host string")
    want = BloomFilter.sized_for(len(hosts))
    want.add_many(hosts[:300])
    got = R.build_bloom(dim, "host")
    assert (got.m_bits, got.n_hashes) == (want.m_bits, want.n_hashes)
    assert np.array_equal(got.bits, want.bits)
    old = R.DRIVER_BUILD_MAX_KEYS
    try:
        R.DRIVER_BUILD_MAX_KEYS = 10  # force the distributed path
        dist = R.build_bloom(dim, "host")
    finally:
        R.DRIVER_BUILD_MAX_KEYS = old
    assert np.array_equal(dist.bits, want.bits)
