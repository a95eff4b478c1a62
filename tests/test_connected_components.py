"""Connected-components clustering over near-dup pairs.

The ground truth for the small graphs here is computed by hand; the
planted-clone test cross-checks against a brute-force union-find so the
star alternation is gated by an independent implementation.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cdx_writer_spark.functions import dedup


def _cc(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    out = dedup.connected_components(df, **kw)
    got = {(r["id"], r["component"]) for r in out.collect()}
    dedup.release_candidate_caches()
    return got


def _union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_cc_chain_triangle_island(spark):
    # chain 1-2-3-4 (worst case for plain label propagation), a
    # triangle 10-11-12, and an isolated pair 20-21
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12),
             (20, 21)]
    got = _cc(spark, pairs)
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                   (10, 10), (11, 10), (12, 10),
                   (20, 20), (21, 20)}


def test_cc_long_chain_converges_in_log_rounds(spark):
    # a 64-node chain needs 63 rounds of plain propagation; the star
    # alternation must close it well inside max_rounds=10
    pairs = [(i, i + 1) for i in range(64)]
    got = _cc(spark, pairs, max_rounds=10)
    assert got == {(i, 0) for i in range(65)}


def test_cc_orientation_and_dups_irrelevant(spark):
    # reversed / duplicated input pairs and self-loops change nothing
    pairs = [(2, 1), (1, 2), (2, 3), (3, 3), (5, 4)]
    got = _cc(spark, pairs)
    assert got == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)}


def test_cc_empty_pairs(spark):
    got = _cc(spark, [])
    assert got == set()


def test_cc_matches_union_find_on_random_graph(spark):
    import random
    rng = random.Random(42)
    pairs = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    pairs = [(a, b) for a, b in pairs if a != b]
    got = _cc(spark, pairs)
    want = _union_find(pairs)
    assert got == set(want.items())


def test_cc_releases_intermediate_checkpoint_blocks(spark):
    """DataFrame.unpersist() is a no-op for localCheckpoint blocks, so
    the rounds must release them through the persistent-RDD registry:
    after a multi-round run, at most the FINAL round's checkpoint (and
    the registered labels cache) may remain stored — without the
    explicit release a 7-round chain leaves ~8 checkpointed RDDs."""
    sc = spark.sparkContext

    def ids():
        return {int(i) for i in
                sc._jsc.getPersistentRDDs().keySet().toArray()}

    before = ids()
    pairs = spark.createDataFrame([(i, i + 1) for i in range(64)],
                                  "id_a long, id_b long")
    out = dedup.connected_components(pairs, max_rounds=12)
    out.count()
    dedup.release_candidate_caches()
    leftover = ids() - before
    assert len(leftover) <= 2, (
        f"{len(leftover)} persistent RDDs leaked: {sorted(leftover)}")
