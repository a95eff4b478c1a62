"""Frontier scheduler gates: Bloom exactness/FPR, politeness budgets,
deterministic crawl order under re-partitioning, checkpoint resume,
and Bloom-path == exact-path equivalence."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cdx_writer_spark.canonicalize import surt_key
from cdx_writer_spark.frontier import loop, politeness, priority, webgraph
from cdx_writer_spark.frontier import seen as seenmod
from cdx_writer_spark.frontier.bloom import BloomFilter
from cdx_writer_spark.frontier.loop import CrawlConfig
from cdx_writer_spark.schema import SEEN_FILTER_SCHEMA

N_PAGES = 3000


# --- bloom unit --------------------------------------------------------------

def _hashes(n, seed):
    rng = np.random.default_rng(seed)
    return (rng.integers(0, 2**63, n, dtype=np.int64),
            rng.integers(0, 2**63, n, dtype=np.int64))


def test_bloom_no_false_negatives_and_fpr():
    bf = BloomFilter.sized_for(10_000, fpr=0.01)
    h1, h2 = _hashes(10_000, 1)
    bf.add_many(h1, h2)
    assert bf.contains_many(h1, h2).all()          # zero false negatives
    q1, q2 = _hashes(50_000, 2)
    fpr = bf.contains_many(q1, q2).mean()
    assert fpr < 0.02, fpr                         # ~1% target, 2x slack


def test_bloom_serialization_roundtrip():
    bf = BloomFilter.sized_for(1000, fpr=0.01)
    h1, h2 = _hashes(500, 3)
    bf.add_many(h1, h2)
    bf2 = BloomFilter.from_bytes(bf.to_bytes())
    assert bf2.n_bits == bf.n_bits and bf2.k == bf.k
    assert bf2.n_items == 500
    assert np.array_equal(bf2.bits, bf.bits)
    assert bf2.contains_many(h1, h2).all()


def test_bloom_empty_and_errors():
    bf = BloomFilter.sized_for(100)
    assert bf.contains_many(*_hashes(0, 4)).shape == (0,)
    with pytest.raises(ValueError):
        BloomFilter(0, 1)


def test_bloom_rejects_unversioned_blob():
    """A pre-v2 blob (no format magic) must fail fast: probing it with
    the current position arithmetic would yield Bloom false NEGATIVES
    (already-seen URLs silently re-enqueued on resume)."""
    bf = BloomFilter.sized_for(1000)
    legacy = bf.to_bytes()[4:]  # strip the magic = old layout
    with pytest.raises(ValueError, match="incompatible filter checkpoint"):
        BloomFilter.from_bytes(legacy)


# --- webgraph parity ---------------------------------------------------------

def test_webgraph_surt_matches_canonicalizer(spark):
    rows = webgraph.pages(spark, 200).select("url", "surt_key").collect()
    for r in rows:
        assert r.surt_key == surt_key(r.url), r.url


# --- seen set ----------------------------------------------------------------

def test_split_new_is_exact(spark):
    """Bloom-prefiltered split must equal a plain exact anti-join."""
    all_keys = webgraph.pages(spark, 400).select(
        "surt_key", "url", "host", "host_rank").withColumn(
        "depth", F.lit(1))
    seen_half = all_keys.filter(F.col("surt_key").rlike("/p/[0-3]"))
    filters = seenmod.update_filters(
        seen_half, seenmod.empty_filters(spark))
    seen_tbl = seenmod.with_hash_cols(
        seen_half.select("surt_key")).select("surt_key", "pid")
    got = sorted(r.surt_key for r in seenmod.split_new(
        all_keys, filters, seen_tbl).collect())
    expected = sorted(r.surt_key for r in all_keys.join(
        seen_half.select("surt_key"), "surt_key", "left_anti").collect())
    assert got == expected


# --- politeness --------------------------------------------------------------

def test_robots_disallow_and_budget(spark, tmp_path):
    state = str(tmp_path / "crawl")
    web = webgraph.pages(spark, N_PAGES)
    seeds = webgraph.seeds(spark, 20, N_PAGES)
    loop.run_crawl(spark, web, state, 3, seeds=seeds)
    order = loop.crawl_order(spark, state).collect()
    assert len(order) > 0
    for r in order:
        h = int(r.host.replace("site", "").split(".")[0])
        path = r.url.split(".com", 1)[1]
        if h % 5 == 0:                       # disallow /p/1*
            assert not path.startswith("/p/1"), r
        budget = 2 if h % 7 == 0 else 8      # per-round budgets
        assert r.host_pos <= budget, r


def test_scheduled_never_repeats(spark, tmp_path):
    """URL-seen exactness: no URL is ever scheduled twice."""
    state = str(tmp_path / "crawl")
    web = webgraph.pages(spark, N_PAGES)
    seeds = webgraph.seeds(spark, 20, N_PAGES)
    loop.run_crawl(spark, web, state, 4, seeds=seeds)
    surts = [r.surt_key for r in loop.crawl_order(spark, state).collect()]
    assert len(surts) == len(set(surts))
    seen_keys = [r.surt_key
                 for r in loop.seen_table(spark, state).collect()]
    assert len(seen_keys) == len(set(seen_keys))


# --- determinism -------------------------------------------------------------

def _crawl_order(spark, tmp_path, tag, shuffle_partitions, in_parts,
                 n_rounds=3):
    state = str(tmp_path / f"crawl_{tag}")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        web = webgraph.pages(spark, N_PAGES, n_partitions=in_parts)
        seeds = webgraph.seeds(spark, 20, N_PAGES).repartition(in_parts)
        loop.run_crawl(spark, web, state, n_rounds, seeds=seeds)
        return [tuple(r) for r in loop.crawl_order(spark, state).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_crawl_order_parallelism_invariant(spark, tmp_path):
    """The same crawl at different shuffle/input partitionings must
    produce a byte-identical schedule (the in-process proxy for the
    N-vs-4N cluster gate; scripts/scaling_report.py runs the full
    local[8]-vs-local[32] subprocess comparison)."""
    a = _crawl_order(spark, tmp_path, "p2", shuffle_partitions=2,
                     in_parts=2)
    b = _crawl_order(spark, tmp_path, "p16", shuffle_partitions=16,
                     in_parts=13)
    assert a == b
    assert len(a) > 50


def test_resume_equals_straight_run(spark, tmp_path):
    web = webgraph.pages(spark, N_PAGES)
    seeds = webgraph.seeds(spark, 20, N_PAGES)
    s1 = str(tmp_path / "straight")
    loop.run_crawl(spark, web, s1, 4, seeds=seeds)
    s2 = str(tmp_path / "resumed")
    loop.run_crawl(spark, web, s2, 2, seeds=seeds)
    loop.run_crawl(spark, web, s2, 2)        # resume from checkpoint
    a = [tuple(r) for r in loop.crawl_order(spark, s1).collect()]
    b = [tuple(r) for r in loop.crawl_order(spark, s2).collect()]
    assert a == b


def test_max_depth_respected(spark, tmp_path):
    state = str(tmp_path / "crawl")
    cfg = CrawlConfig(max_depth=1)
    web = webgraph.pages(spark, N_PAGES)
    seeds = webgraph.seeds(spark, 10, N_PAGES)
    loop.run_crawl(spark, web, state, 5, seeds=seeds, cfg=cfg)
    order = loop.crawl_order(spark, state).collect()
    assert max(r.depth for r in order) <= 1


# --- priority salting path ---------------------------------------------------

def test_salted_selection_matches_unsalted(spark):
    """The hot-host two-level tournament must pick the same batch as
    the plain window when the pre-cap is not binding."""
    cand = politeness.apply_robots(
        webgraph.seeds(spark, 500, 5000), webgraph.robots_rules(spark))
    plain = sorted(tuple(r) for r in priority.select_batch(cand).collect())
    salted = sorted(tuple(r) for r in priority.select_batch(
        cand, salt_threshold=500).collect())
    assert plain == salted


def test_zipf_host_skew_graph(spark, tmp_path):
    """The Zipf-host stress graph (round-4 VERDICT ask #8): the skewed
    layout must be genuinely hot-headed, byte-deterministic at any
    partitioning, keep the salted tournament equal to the plain
    window, and crawl SHA-deterministically with salting on."""
    import hashlib

    n, hosts = 4000, 400
    web = webgraph.pages(spark, n, n_hosts=hosts, host_skew=1.1)
    counts = (web.groupBy("host").count()
              .orderBy(F.desc("count")).collect())
    top = counts[0]
    # hot head: the top host holds >5% of a 400-host web (uniform
    # would be 0.25%), and it is one of the low-index hub hosts
    assert top["count"] > 0.05 * n
    assert top["host"] == "site0.example.com"
    # deterministic across partitionings
    a = sorted(tuple(r) for r in web.select(
        "doc_id", "host", "surt_key").collect())
    b = sorted(tuple(r) for r in webgraph.pages(
        spark, n, n_partitions=17, n_hosts=hosts, host_skew=1.1)
        .select("doc_id", "host", "surt_key").collect())
    assert a == b
    # salted tournament == plain window on the skewed candidates
    cand = politeness.apply_robots(
        webgraph.seeds(spark, 800, n, n_hosts=hosts, host_skew=1.1),
        webgraph.robots_rules(spark, hosts))
    plain = sorted(tuple(r) for r in
                   priority.select_batch(cand).collect())
    salted = sorted(tuple(r) for r in priority.select_batch(
        cand, salt_threshold=100).collect())
    assert plain == salted
    # skewed crawl order is SHA-deterministic across parallelism and
    # across salting (2 rounds keeps the unit test quick)
    digests = {}
    for tag, n_part in (("p4", 4), ("p11", 11)):
        state = str(tmp_path / f"skew_{tag}")
        loop.run_crawl(
            spark, web, state, 2,
            seeds=webgraph.seeds(spark, 40, n, n_hosts=hosts,
                                 host_skew=1.1),
            rules=webgraph.robots_rules(spark, hosts),
            cfg=CrawlConfig(n_partitions=n_part, salt_threshold=64))
        order = loop.crawl_order(spark, state).select(
            "round", "host", "depth", "surt_key").collect()
        digests[tag] = hashlib.sha256("\n".join(
            f"{r.round} {r.host} {r.depth} {r.surt_key}"
            for r in order).encode()).hexdigest()
    assert digests["p4"] == digests["p11"]


def test_probe_modes_agree(spark):
    """Native-Catalyst and cogroup probes must flag identically (the
    native path replicates BloomFilter._positions
    expression-for-expression)."""
    cand = webgraph.pages(spark, 300).select(
        "surt_key", "url", "host", "host_rank").withColumn(
        "depth", F.lit(1))
    half = cand.filter(F.col("surt_key").rlike("/p/[0-4]"))
    filters = seenmod.update_filters(half, seenmod.empty_filters(spark))
    b = sorted((r.surt_key, r.maybe_seen) for r in seenmod.flag_maybe_seen(
        cand, filters, strategy="cogroup").collect())
    n = sorted((r.surt_key, r.maybe_seen) for r in seenmod.flag_maybe_seen(
        cand, filters, strategy="native").collect())
    assert b == n
    # the filter actually flags the added half (probe is non-vacuous)
    added = {r.surt_key for r in half.collect()}
    flagged_true = {k for k, m in n if m}
    assert added <= flagged_true  # Bloom: no false negatives


def test_unknown_probe_strategy_raises():
    """One probe per size regime: any other name fails before a plan
    is built, instead of silently running one of the two."""
    with pytest.raises(ValueError, match="unknown probe strategy"):
        seenmod.flag_maybe_seen(None, None, strategy="pandas")


def test_native_probe_has_no_python_and_no_shuffle(spark):
    """The default probe stage must be pure Catalyst: no
    Batch/ArrowEvalPython, no exchange of the candidates (only the
    tiny filters broadcast)."""
    cand = webgraph.pages(spark, 200).select(
        "surt_key", "url", "host", "host_rank").withColumn(
        "depth", F.lit(1))
    filters = seenmod.update_filters(
        cand.limit(50), seenmod.empty_filters(spark))
    flagged = seenmod.flag_maybe_seen(cand, filters, strategy="native")
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    probe_region = plan.split("BroadcastHashJoin")[0]
    assert "ArrowEvalPython" not in probe_region
    assert "BatchEvalPython" not in probe_region
    assert "Exchange hashpartitioning" not in probe_region
    assert "BroadcastHashJoin" in plan


def test_auto_probe_strategy_is_size_gated(spark):
    """strategy='auto' (the default) must pick the broadcast-native
    probe while filter state fits NATIVE_BROADCAST_MAX_BYTES and fall
    back to the per-pid cogroup past it — the default config has to
    survive the 10^10-key sizing (~12 GB of blobs) without a manual
    CrawlConfig choice (round-4 VERDICT ask #1)."""
    cand = webgraph.pages(spark, 200).select(
        "surt_key", "url", "host", "host_rank").withColumn(
        "depth", F.lit(1))
    filters = seenmod.update_filters(
        cand.limit(50), seenmod.empty_filters(spark))

    # resolution arithmetic: below / above the gate
    assert seenmod.resolve_probe_strategy(
        seenmod.NATIVE_BROADCAST_MAX_BYTES) == "native"
    assert seenmod.resolve_probe_strategy(
        seenmod.NATIVE_BROADCAST_MAX_BYTES + 1) == "cogroup"
    # the repo's documented 10^10-key sizing lands on cogroup
    big = seenmod.filter_state_bytes("bloom", 2_500_000, 0.01, 4096)
    assert big > seenmod.NATIVE_BROADCAST_MAX_BYTES
    assert seenmod.resolve_probe_strategy(big) == "cogroup"
    # ...and the bench/default sizing stays native
    small = seenmod.filter_state_bytes(
        "bloom", seenmod.DEFAULT_CAPACITY, seenmod.DEFAULT_FPR,
        seenmod.DEFAULT_PARTITIONS)
    assert seenmod.resolve_probe_strategy(small) == "native"

    # plan-level: auto with small real filters = broadcast join, no
    # cogroup; auto with a huge declared state = FlatMapCoGroups
    native_plan = seenmod.flag_maybe_seen(
        cand, filters, strategy="auto")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in native_plan
    assert "FlatMapCoGroupsInPandas" not in native_plan
    cogroup_plan = seenmod.flag_maybe_seen(
        cand, filters, strategy="auto",
        state_bytes=big)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in cogroup_plan
    assert "BroadcastHashJoin" not in cogroup_plan

    # semantics unchanged across the gate
    lo = sorted((r.surt_key, r.maybe_seen) for r in seenmod
                .flag_maybe_seen(cand, filters,
                                 strategy="auto").collect())
    hi = sorted((r.surt_key, r.maybe_seen) for r in seenmod
                .flag_maybe_seen(cand, filters, strategy="auto",
                                 state_bytes=big).collect())
    assert lo == hi


def test_native_probe_bit_arithmetic_matches_numpy(spark):
    """Property check on the masked double-hash arithmetic: for a
    filter with many keys, native probe booleans equal
    BloomFilter.contains_many on the same (h1, h2) columns."""
    import numpy as np

    from cdx_writer_spark.frontier.bloom import BloomFilter

    keys = webgraph.pages(spark, 2000).select("surt_key")
    hashed = seenmod.with_hash_cols(keys).select(
        "surt_key", "h1", "h2").collect()
    h1 = np.array([r.h1 for r in hashed], dtype=np.int64)
    h2 = np.array([r.h2 for r in hashed], dtype=np.int64)
    bf = BloomFilter.sized_for(500, 0.01)
    bf.add_many(h1[:500], h2[:500])
    expected = dict(zip((r.surt_key for r in hashed),
                        bf.contains_many(h1, h2)))

    one_filter = spark.createDataFrame(
        [(0, bytearray(bf.to_bytes()), bf.n_items, bf.to_longs(),
          bf.n_bits, bf.k)], SEEN_FILTER_SCHEMA)
    cand = keys.select(
        "surt_key", F.lit("u").alias("url"), F.lit("h").alias("host"),
        F.lit(1.0).alias("host_rank"), F.lit(1).alias("depth"))
    got = {r.surt_key: r.maybe_seen for r in seenmod.flag_maybe_seen(
        cand, one_filter, n_partitions=1, strategy="native").collect()}
    assert got == {k: bool(v) for k, v in expected.items()}


def test_fold_strategies_byte_identical(spark):
    """The native Catalyst fold must produce byte-identical filter
    state to the pandas/numpy cogroup fold: same blob bytes, same
    word arrays, same counters — for a fresh fold, an incremental
    fold on top of it, and an empty delta (pass-through)."""
    keys1 = webgraph.pages(spark, 400).select("surt_key")
    keys2 = webgraph.pages(spark, 700).select("surt_key").filter(
        F.col("surt_key").rlike("/p/[3-9]"))
    empty = seenmod.empty_filters(spark, n_partitions=8, capacity=500)

    def snap(df):
        return sorted(
            (r.partition_id, bytes(r.filter_blob), r.n_items,
             tuple(r.bits_longs), r.n_bits, r.k)
            for r in df.collect())

    f_nat = seenmod.update_filters(keys1, empty, 8, 500,
                                   strategy="native")
    f_pd = seenmod.update_filters(keys1, empty, 8, 500,
                                  strategy="pandas")
    s_nat, s_pd = snap(f_nat), snap(f_pd)
    assert s_nat == s_pd
    assert sum(r[2] for r in s_nat) == 400  # n_items counts the delta

    # incremental fold on committed state (the per-round shape)
    s2_nat = snap(seenmod.update_filters(keys2, f_pd, 8, 500,
                                         strategy="native"))
    s2_pd = snap(seenmod.update_filters(keys2, f_pd, 8, 500,
                                        strategy="pandas"))
    assert s2_nat == s2_pd

    # empty delta: both pass the state through unchanged
    none = keys1.limit(0)
    assert snap(seenmod.update_filters(none, f_pd, 8, 500,
                                       strategy="native")) == s_pd


def test_native_fold_python_only_touches_final_rows(spark):
    """The native fold's only Python node is the n_partitions-row blob
    serialization — the keyed delta itself must never cross into
    Python (no Arrow/batch eval below the final projection)."""
    keys = webgraph.pages(spark, 300).select("surt_key")
    empty = seenmod.empty_filters(spark, n_partitions=8, capacity=500)
    plan = (seenmod.update_filters(keys, empty, 8, 500,
                                   strategy="native")
            ._jdf.queryExecution().executedPlan().toString())
    # exactly ONE Python node: the Arrow-batched n_partitions-row
    # scatter/serialize UDF (fed by the JVM-side position aggregation)
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan  # no pickled row-at-a-time UDF
    # the delta aggregation is JVM-side: positions reach Python only
    # as per-pid collect_list output, so the Arrow node sits above the
    # aggregate, never above the raw keyed delta
    assert plan.index("ArrowEvalPython") < plan.index("collect_list")


def test_native_fold_rejects_mismatched_geometry(spark):
    """The native fold computes probe positions with the CONFIG's
    uniform (n_bits, k); folding into filters built under a different
    capacity must fail fast (silently scattering positions computed
    for one modulus into another geometry's bit array would corrupt
    the no-false-negative guarantee).  The pandas fold handles
    per-partition geometry and stays the escape hatch."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    keys = webgraph.pages(spark, 100).select("surt_key")
    other = seenmod.empty_filters(spark, n_partitions=4, capacity=9999)
    bad = seenmod.update_filters(keys, other, 4, capacity=500)
    with _pytest.raises(Exception) as ei:
        bad.select("n_items").collect()
    assert "uniform filter geometry" in str(ei.value)
    # same capacity: fine
    ok_filters = seenmod.empty_filters(spark, n_partitions=4, capacity=500)
    out = seenmod.update_filters(keys, ok_filters, 4, capacity=500)
    assert out.select(F.sum("n_items")).first()[0] == 100
    # pandas fold accepts the mismatched geometry (per-pid blobs)
    pd_out = seenmod.update_filters(keys, other, 4, capacity=500,
                                    strategy="pandas")
    assert pd_out.select(F.sum("n_items")).first()[0] == 100


def test_rebuild_filters_recovers_incompatible_checkpoint(spark, tmp_path):
    """The documented recovery path: a pre-v2 filters checkpoint
    (blob-only schema) makes the next round fail fast; rebuild_filters
    re-derives the filters from the exact seen table, after which the
    resumed crawl is byte-identical to a straight run."""
    import os

    web = webgraph.pages(spark, N_PAGES)
    seeds = webgraph.seeds(spark, 20, N_PAGES)
    s1 = str(tmp_path / "straight")
    loop.run_crawl(spark, web, s1, 3, seeds=seeds)

    s2 = str(tmp_path / "broken")
    loop.run_crawl(spark, web, s2, 2, seeds=seeds)
    rnd = loop.latest_round(s2)
    fdir = os.path.join(loop._round_dir(s2, rnd), "filters")
    good = {r.partition_id: (bytes(r.filter_blob), list(r.bits_longs),
                             r.n_items)
            for r in spark.read.parquet(fdir).collect()}
    # simulate an old-build checkpoint: only the blob-era columns
    old = spark.read.parquet(fdir).select(
        "partition_id", "filter_blob", "n_items").toPandas()
    import shutil
    shutil.rmtree(fdir)
    spark.createDataFrame(old).write.mode("overwrite").parquet(fdir)
    with pytest.raises(ValueError, match="incompatible"):
        loop.run_crawl(spark, web, s2, 1)

    loop.rebuild_filters(spark, s2)
    rebuilt = {r.partition_id: (bytes(r.filter_blob), list(r.bits_longs),
                                r.n_items)
               for r in spark.read.parquet(fdir).collect()}
    assert rebuilt == good       # exact-table rebuild == incremental fold

    loop.run_crawl(spark, web, s2, 1)        # resume after recovery
    a = [tuple(r) for r in loop.crawl_order(spark, s1).collect()]
    b = [tuple(r) for r in loop.crawl_order(spark, s2).collect()]
    assert a == b

    # one artificially huge round (delta >> max_fold_keys): the
    # chunked rebuild must bound every fold AND stay byte-identical
    # to the single-fold rebuild (Bloom bit-OR is chunk-invariant)
    fdir2 = os.path.join(
        loop._round_dir(s2, loop.latest_round(s2)), "filters")
    loop.rebuild_filters(spark, s2, max_fold_keys=40)
    chunked = {r.partition_id: (bytes(r.filter_blob),
                                list(r.bits_longs), r.n_items)
               for r in spark.read.parquet(fdir2).collect()}
    loop.rebuild_filters(spark, s2, max_fold_keys=10**9)
    single = {r.partition_id: (bytes(r.filter_blob),
                               list(r.bits_longs), r.n_items)
              for r in spark.read.parquet(fdir2).collect()}
    assert chunked == single


# --- round fixed cost: fold tasks, job count, output parity ------------------

def test_fold_task_count_follows_filter_state(spark):
    """The fold's scatter runs in ceil(filter state / advisory
    partition size) Python tasks: one at default sizing (each task has
    a fixed worker cost that dwarfs scattering 16 partitions' words),
    more once the state outgrows the advisory size."""
    import math

    keys = webgraph.pages(spark, 300).select("surt_key")
    empty = seenmod.empty_filters(spark)
    # adaptive coalescing off: the join then yields the session's 8
    # shuffle partitions, and only the fold's own coalesce merges them
    coalescing = "spark.sql.adaptive.coalescePartitions.enabled"
    advisory = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = {c: spark.conf.get(c) for c in (coalescing, advisory)}
    spark.conf.set(coalescing, "false")
    try:
        assert seenmod.update_filters(
            keys, empty).rdd.getNumPartitions() == 1
        spark.conf.set(advisory, "1m")
        n = seenmod.update_filters(keys, empty).rdd.getNumPartitions()
    finally:
        for c, v in old.items():
            spark.conf.set(c, v)
    state = seenmod.filter_state_bytes(
        "bloom", seenmod.DEFAULT_CAPACITY, seenmod.DEFAULT_FPR,
        seenmod.DEFAULT_PARTITIONS)
    assert n == math.ceil(state / (1 << 20)) > 1


def _last_job_id(spark) -> int:
    sc = spark.sparkContext
    # the status store is fed by the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(None), default=-1)


#: Spark jobs one warm round may submit under the test session
#: (local[4], 8 shuffle partitions, adaptive execution).  Measured 25;
#: the round before the state reads went typed, the metrics stopped
#: joining and the fold stopped being persisted took 32.
ROUND_MAX_JOBS = 28


def test_warm_round_job_count(spark, tmp_path):
    state = str(tmp_path / "crawl")
    web = webgraph.pages(spark, N_PAGES)
    loop.run_crawl(spark, web, state, 2,
                   seeds=webgraph.seeds(spark, 20, N_PAGES))
    before = _last_job_id(spark)
    loop.run_crawl(spark, web, state, 1)
    assert _last_job_id(spark) - before <= ROUND_MAX_JOBS


def _digest(rows) -> str:
    import hashlib

    return hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()


def test_round_state_matches_pinned_digests(spark, tmp_path):
    """Every round's metrics rows and filter columns equal the ones the
    round produced before its plan was rebuilt (typed state reads,
    hashes carried from the probe, metrics from one aggregation,
    one-task fold): the digests were taken from that earlier build."""
    state = str(tmp_path / "crawl")
    loop.run_crawl(spark, webgraph.pages(spark, N_PAGES), state, 3,
                   seeds=webgraph.seeds(spark, 20, N_PAGES))
    metrics = spark.read.parquet(f"{state}/round_*/metrics").collect()
    filters = spark.read.parquet(f"{state}/round_*/filters").collect()
    assert len(metrics) == 49 and len(filters) == 64
    assert _digest(tuple(r) for r in metrics) == (
        "5f1c3b445fc1030f9ffae34240b4b5b2881e88906213f0264bca61864ec6ed8b")
    assert _digest((r.partition_id, bytes(r.filter_blob),
                    tuple(r.bits_longs), r.n_items) for r in filters) == (
        "a3a550dfce3bee160e472e256466b831052cfc521308f33b2790638ea011df00")


# --- injected failures: resume equals a straight run -------------------------

@pytest.fixture(scope="module")
def straight_order(spark, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("straight") / "crawl")
    loop.run_crawl(spark, webgraph.pages(spark, N_PAGES), state, 4,
                   seeds=webgraph.seeds(spark, 20, N_PAGES))
    return [tuple(r) for r in loop.crawl_order(spark, state).collect()]


def _resume_after(spark, state, straight_order):
    assert loop.latest_round(state) in (1, 2)
    loop.run_crawl(spark, webgraph.pages(spark, N_PAGES), state,
                   4 - loop.latest_round(state))
    got = [tuple(r) for r in loop.crawl_order(spark, state).collect()]
    assert got == straight_order


def test_resume_after_failure_before_metrics(spark, tmp_path,
                                             monkeypatch, straight_order):
    """Round 2 dies after its four state writes but before the metrics
    write: round 2 is not committed, and the resume redoes it."""
    state = str(tmp_path / "crawl")
    real = loop._write_concurrent

    def write_then_fail(rnd_dir, named, plan=None):
        planned = real(rnd_dir, named, plan)
        if rnd_dir.endswith("round_00002"):
            raise RuntimeError("injected failure")
        return planned

    monkeypatch.setattr(loop, "_write_concurrent", write_then_fail)
    with pytest.raises(RuntimeError, match="injected"):
        loop.run_crawl(spark, webgraph.pages(spark, N_PAGES), state, 4,
                       seeds=webgraph.seeds(spark, 20, N_PAGES))
    monkeypatch.undo()
    assert loop.latest_round(state) == 1
    _resume_after(spark, state, straight_order)


def test_resume_after_failure_after_commit(spark, tmp_path, monkeypatch,
                                           straight_order):
    """Round 2 dies right after its metrics _SUCCESS: round 2 is
    committed, and the resume starts at round 3."""
    import os

    from pyspark.sql import DataFrameWriter

    state = str(tmp_path / "crawl")
    real = DataFrameWriter.parquet

    def write_then_fail(self, path, *args, **kwargs):
        real(self, path, *args, **kwargs)
        if path.endswith(os.path.join("round_00002", "metrics")):
            raise RuntimeError("injected failure")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_fail)
    with pytest.raises(RuntimeError, match="injected"):
        loop.run_crawl(spark, webgraph.pages(spark, N_PAGES), state, 4,
                       seeds=webgraph.seeds(spark, 20, N_PAGES))
    monkeypatch.undo()
    assert loop.latest_round(state) == 2
    _resume_after(spark, state, straight_order)


def test_frontier_crawl_query_leaves_no_state(spark):
    """q_frontier_crawl returns a local frame and removes its
    checkpoint tree from the temp dir."""
    import glob
    import os
    import tempfile

    import __spark_entry__ as entrymod

    pattern = os.path.join(tempfile.gettempdir(), "frontier_crawl_*")
    before = set(glob.glob(pattern))
    assert len(entrymod.q_frontier_crawl(spark, "").collect()) > 0
    assert set(glob.glob(pattern)) - before == set()
