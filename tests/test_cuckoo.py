"""Cuckoo-filter URL-seen: the 'cuckoo' half of the north rule's
"bloom/cuckoo" filter pair (frontier/cuckoo.py + seen.py kind='cuckoo').

Covers: serialization roundtrip, the no-false-negative guarantee
(including the stash-overflow path), FPR bound, deletion, byte-
determinism across insertion order and input partitioning, numpy ==
native-Catalyst probe parity, all three probe strategies agreeing,
split_new exactness, plan hygiene (zero Python in the native probe),
and crawl-order invariance across filter families."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cdx_writer_spark.frontier import seen as seenmod
from cdx_writer_spark.frontier.cuckoo import (MAX_STASH, CuckooFilter,
                                              _fingerprints)

rng = np.random.default_rng(0xC0C0)


def _hashes(n, seed=1):
    r = np.random.default_rng(seed)
    return (r.integers(-2**63, 2**63, size=n, dtype=np.int64),
            r.integers(-2**63, 2**63, size=n, dtype=np.int64))


def test_roundtrip_bytes_and_longs():
    cf = CuckooFilter.sized_for(1000)
    h1, h2 = _hashes(800)
    cf.add_many(h1, h2)
    back = CuckooFilter.from_bytes(cf.to_bytes())
    assert back.to_bytes() == cf.to_bytes()
    assert back.m == cf.m and back.n_items == cf.n_items
    again = CuckooFilter.from_longs(cf.to_longs(), cf.m, cf.n_items)
    assert again.to_bytes() == cf.to_bytes()


def test_wrong_magic_raises():
    with pytest.raises(ValueError, match="incompatible filter"):
        CuckooFilter.from_bytes(b"BLF2" + b"\x00" * 64)


def test_no_false_negatives():
    cf = CuckooFilter.sized_for(5000)
    h1, h2 = _hashes(5000, seed=7)
    cf.add_many(h1, h2)
    assert cf.contains_many(h1, h2).all()


def test_fpr_bound():
    cf = CuckooFilter.sized_for(20000)
    h1, h2 = _hashes(20000, seed=3)
    cf.add_many(h1, h2)
    p1, p2 = _hashes(200000, seed=99)  # disjoint with prob ~1
    fpr = cf.contains_many(p1, p2).mean()
    # theory: ~ 2*SLOTS/2^16 * load ≈ 1e-4; allow generous slack
    assert fpr < 1e-3, fpr


def test_stash_no_false_negatives_when_overloaded():
    # tiny table, 4x oversubscribed: evictions fail, stash catches them
    cf = CuckooFilter(4)  # 16 buckets, 64 slots
    h1, h2 = _hashes(256, seed=11)
    cf.add_many(h1, h2)
    assert len(cf.stash) > 0
    assert cf.contains_many(h1, h2).all()


def test_stash_overflow_raises_resize_error():
    cf = CuckooFilter(1)
    h1, h2 = _hashes(2 * MAX_STASH + 64, seed=13)
    with pytest.raises(ValueError, match="over capacity"):
        cf.add_many(h1, h2)


def test_delete_restores_absence_and_keeps_others():
    cf = CuckooFilter.sized_for(4000)
    h1, h2 = _hashes(4000, seed=5)
    cf.add_many(h1, h2)
    removed = cf.delete_many(h1[:2000], h2[:2000])
    assert removed == 2000
    # survivors: still zero false negatives
    assert cf.contains_many(h1[2000:], h2[2000:]).all()
    # deleted: almost all gone (residual hits are genuine fp-collisions
    # with surviving entries — bounded by the FPR)
    assert cf.contains_many(h1[:2000], h2[:2000]).mean() < 1e-2


def test_delete_from_stash():
    cf = CuckooFilter(4)
    h1, h2 = _hashes(256, seed=17)
    cf.add_many(h1, h2)
    stash_before = len(cf.stash)
    assert stash_before > 0
    assert cf.delete_many(h1, h2) == 256
    assert len(cf.stash) == 0
    assert stash_before > 0


def test_insert_order_independence():
    h1, h2 = _hashes(3000, seed=23)
    a = CuckooFilter.sized_for(3000)
    a.add_many(h1, h2)
    order = rng.permutation(3000)
    b = CuckooFilter.sized_for(3000)
    b.add_many(h1[order], h2[order])
    assert a.to_bytes() == b.to_bytes()


def test_fingerprints_never_zero():
    h2 = np.array([0, 1 << 24, -1, 2**63 - 1, -2**63], dtype=np.int64)
    fp = _fingerprints(h2)
    assert (fp != 0).all() and (fp > 0).all() and (fp <= 0xFFFF).all()


# ---- Spark integration -------------------------------------------------

def _cand(spark, n=400):
    return spark.range(n).select(
        F.concat(F.lit("com,host"), (F.col("id") % 7).cast("string"),
                 F.lit(")/p/"), F.col("id").cast("string"))
        .alias("surt_key"),
        F.concat(F.lit("http://host"), (F.col("id") % 7).cast("string"),
                 F.lit(".com/p/"), F.col("id").cast("string"))
        .alias("url"),
        F.concat(F.lit("host"), (F.col("id") % 7).cast("string"))
        .alias("host"),
        F.lit(1.0).alias("host_rank"),
        F.lit(0).cast("int").alias("depth"))


@pytest.fixture(scope="module")
def cuckoo_filters(spark):
    cand = _cand(spark)
    seen_half = cand.filter(F.col("surt_key")
                            .rlike("/p/[0-9]*[02468]$"))
    empty = seenmod.empty_filters(spark, 8, capacity=1000,
                                  kind="cuckoo")
    filters = seenmod.update_filters(
        seen_half, empty, 8, capacity=1000,
        kind="cuckoo").persist()
    filters.count()
    return filters, cand, seen_half


def test_empty_filters_native_blob_matches_class(spark):
    row = seenmod.empty_filters(spark, 2, capacity=1000,
                                kind="cuckoo").first()
    cf = CuckooFilter.sized_for(1000)
    assert bytes(row["filter_blob"]) == cf.to_bytes()
    assert list(row["bits_longs"]) == cf.to_longs()
    assert row["n_bits"] == cf.n_buckets * 64 and row["k"] == 0


def test_probe_strategies_agree_and_match_numpy(spark, cuckoo_filters):
    filters, cand, seen_half = cuckoo_filters
    outs = {}
    for strat in ("native", "cogroup"):
        df = seenmod.flag_maybe_seen(cand, filters, 8, strategy=strat,
                                     kind="cuckoo")
        outs[strat] = {r["surt_key"]: r["maybe_seen"]
                       for r in df.collect()}
    assert outs["native"] == outs["cogroup"]
    # numpy parity per partition blob
    blobs = {r["partition_id"]: bytes(r["filter_blob"])
             for r in filters.collect()}
    keyed = seenmod.with_hash_cols(cand.select("surt_key"), 8).collect()
    for r in keyed:
        cf = CuckooFilter.from_bytes(blobs[r["pid"]])
        got = bool(cf.contains_many(
            np.array([r["h1"]], dtype=np.int64),
            np.array([r["h2"]], dtype=np.int64))[0])
        assert got == outs["native"][r["surt_key"]], r["surt_key"]
    # every inserted key flags maybe_seen (no false negatives via Spark)
    inserted = {r["surt_key"] for r in seen_half.collect()}
    assert all(outs["native"][k] for k in inserted)


def test_native_probe_plan_is_pure_catalyst(spark, cuckoo_filters):
    filters, cand, _ = cuckoo_filters
    df = seenmod.flag_maybe_seen(cand, filters, 8, strategy="native",
                                 kind="cuckoo")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "EvalPython" not in plan  # no Arrow/Batch Python stages


def test_split_new_is_exact_and_matches_bloom(spark, cuckoo_filters):
    filters, cand, seen_half = cuckoo_filters
    seen_tbl = seen_half.select("surt_key")
    got = sorted(r["surt_key"] for r in seenmod.split_new(
        cand, filters, seen_tbl, 8, kind="cuckoo").collect())
    expect = sorted(r["surt_key"] for r in cand.join(
        seen_tbl, "surt_key", "left_anti").collect())
    assert got == expect
    bloom_filters = seenmod.update_filters(
        seen_half, seenmod.empty_filters(spark, 8, capacity=1000), 8,
        capacity=1000)
    via_bloom = sorted(r["surt_key"] for r in seenmod.split_new(
        cand, bloom_filters, seen_tbl, 8).collect())
    assert got == via_bloom


def test_fold_deterministic_across_input_partitioning(spark):
    keys = _cand(spark, 300).select("surt_key")
    base = seenmod.empty_filters(spark, 4, capacity=500, kind="cuckoo")

    def blobs(df):
        out = seenmod.update_filters(df, base, 4, capacity=500,
                                     kind="cuckoo")
        return {r["partition_id"]: bytes(r["filter_blob"])
                for r in out.collect()}

    assert blobs(keys.repartition(1)) == blobs(keys.repartition(13))


def test_remove_from_filters_roundtrip(spark, cuckoo_filters):
    filters, cand, seen_half = cuckoo_filters
    after = seenmod.remove_from_filters(seen_half, filters, 8).persist()
    flagged = seenmod.flag_maybe_seen(cand, after, 8, strategy="native",
                                      kind="cuckoo")
    frac = (flagged.agg(F.avg(F.col("maybe_seen").cast("double")))
            .first()[0])
    assert frac < 0.01  # all retracted; residual = fp collisions
    # items count went back down
    assert after.agg(F.sum("n_items")).first()[0] == 0
    after.unpersist()


def test_remove_from_bloom_raises(spark):
    keys = _cand(spark, 10).select("surt_key")
    bloom = seenmod.update_filters(
        keys, seenmod.empty_filters(spark, 2, capacity=100), 2,
        capacity=100)
    with pytest.raises(Exception, match="[Bb]loom"):
        seenmod.remove_from_filters(keys, bloom, 2).collect()


def test_crawl_order_invariant_across_filter_kinds(spark, tmp_path):
    """The scale-semantics test: the filter is a prefilter, exactness
    comes from the anti-join — so bloom and cuckoo crawls must commit
    byte-identical crawl orders."""
    from cdx_writer_spark.frontier import loop, webgraph

    web = webgraph.pages(spark, 600)
    seeds = webgraph.seeds(spark, 8, 600)
    orders = {}
    for kind in ("bloom", "cuckoo"):
        state = str(tmp_path / f"crawl_{kind}")
        cfg = loop.CrawlConfig(n_partitions=4, filter_capacity=2000,
                               filter_kind=kind)
        loop.run_crawl(spark, web, state, 2, seeds=seeds, cfg=cfg)
        orders[kind] = [tuple(r) for r in loop.crawl_order(
            spark, state).collect()]
    assert orders["bloom"] == orders["cuckoo"]
    assert len(orders["bloom"]) > 0


def test_native_probe_kind_mismatch_fails_loudly(spark, cuckoo_filters):
    """A resumed crawl whose CrawlConfig.filter_kind disagrees with the
    checkpoint's blob kind must ERROR, not silently mis-probe (Bloom
    math over cuckoo words — or vice versa — yields false negatives
    and re-crawled duplicates).  k is the kind marker: cuckoo rows
    store 0, Bloom rows >= 1."""
    filters, cand, seen_half = cuckoo_filters
    # cuckoo checkpoint probed as bloom
    with pytest.raises(Exception, match="filter_kind='cuckoo'"):
        seenmod.flag_maybe_seen(cand, filters, 8, strategy="native",
                                kind="bloom").collect()
    # bloom checkpoint probed as cuckoo
    bloom_filters = seenmod.update_filters(
        seen_half, seenmod.empty_filters(spark, 8, capacity=1000),
        8, capacity=1000)
    with pytest.raises(Exception, match="filter_kind='bloom'"):
        seenmod.flag_maybe_seen(cand, bloom_filters, 8,
                                strategy="native",
                                kind="cuckoo").collect()
