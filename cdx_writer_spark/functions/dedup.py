"""Deduplication operators for web-text corpora.

Scale design: every variant is shuffle-minimal —
* exact/normalized dedup is one hash-partitioned groupBy on a 16-byte
  digest (map-side partial aggregation; no payload shuffle, only the
  digest + id);
* MinHash-LSH is entirely native (higher-order functions + a seeded
  hash family): shingle → L-signature → b bands, then ONE narrow
  shuffle on (band, bucket) to bucket candidates, a bucket self-join
  bounded by bucket size, and exact-Jaccard verification of the
  surviving DISTINCT candidate pairs only;
* SimHash reduces each doc to a 64-bit key; near-dup candidates share
  one of 4 disjoint 16-bit bands (pigeonhole: exact for Hamming ≤ 3).

Pair-enumeration blowup control (the classic near-dup failure at
Common-Crawl boilerplate rates — a cluster of k byte-identical pages
makes one bucket emit O(k²) candidates):

1. **Exact pre-collapse**: byte-identical texts are collapsed to one
   representative *before* any banding (``_exact_groups``), so the LSH
   join never sees the duplicate cluster.  Intra-cluster pairs are
   emitted directly from the group membership (score is exact by
   construction: Jaccard 1 / Hamming 0), and representative-level
   verified pairs are expanded back to member pairs — output-sized
   work, with no wide payloads in any of those joins.
2. **Narrow band exchange**: the banding shuffle carries only
   (band, bucket, gkey); shingle arrays are re-joined for the
   *surviving distinct candidate pairs* only, never multiplied through
   the exchange once per band.
3. **Opt-in bucket cap** (``max_bucket_size``): residual oversized
   buckets (near-identical-but-not-byte-identical boilerplate) can be
   dropped, loudly — the count of dropped buckets is logged, because a
   silent cap would masquerade as full coverage.  Off by default:
   capping changes the output, so the oracle-checked driver queries
   never enable it.

Hash seeding: the default family is ``xxhash64`` (JVM-native, fastest).
``portable=True`` switches to an ``md5``-derived family computable
identically in any ANSI-ish SQL engine — the driver's DuckDB oracle
re-derives those pipelines end-to-end in pure SQL, making the
MinHash/SimHash queries hash-checkable rather than rows-only.

At 100 TB the groupBy keys are uniformly-distributed hashes, so no
salting is needed; AQE handles residual bucket skew in the LSH join.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import normalized_text_col, tokens_col

_LOG = logging.getLogger(__name__)


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """One surviving id per byte-identical text: (text_hash, keep_id,
    n_dups)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"),
             F.count(F.lit(1)).alias("n_dups"))
    )


def normalized_dedup(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Dedup after lowercase/punctuation/whitespace normalization."""
    return (
        df.select(F.md5(normalized_text_col(F.col(text_col)))
                  .alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"),
             F.count(F.lit(1)).alias("n_dups"))
    )


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` exactly once per row and hand it to ``fn`` as a
    bound lambda VARIABLE (single-element transform trick).

    Catalyst's CollapseProject + ColumnPruning freely inline a column's
    defining expression into every consumer — including into
    higher-order-function lambda bodies, where the inlined argument is
    re-evaluated on EVERY iteration.  A MinHash signature that slices
    an inlined 32-hash expression per band re-tokenizes each document
    32x (measured 93s vs 5s per pass at sf0.1).  A lambda-bound
    variable cannot be inlined, so this is the load-bearing
    materialization barrier for every expensive expression referenced
    inside an iterating lambda."""
    return F.transform(F.array(col), fn)[0]


# --- pair-enumeration plumbing (shared by MinHash / SimHash / embedding) ----

# Above this many candidate PAIRS the verify-prune stops force-hinting
# a broadcast of the candidate-key set and falls back to a plain join
# (AQE still picks a broadcast at runtime when the ACTUAL key bytes
# come in under spark.sql.autoBroadcastJoinThreshold).  The bound is
# conservative: <= 2 keys/pair x ~100 B/key in the hashed relation
# ~ 400 MB worst case at the default — large but executor-safe; at
# 10^10-doc scale the key set is multi-GB and MUST shuffle instead.
VERIFY_BROADCAST_MAX_PAIRS = 2_000_000

# candidate frames persisted by the pair-enumeration ops, released via
# release_candidate_caches() (Spark's CacheManager never GCs these)
_CANDIDATE_CACHES: list[DataFrame] = []


def _persist_candidates(cand: DataFrame) -> DataFrame:
    """Persist a candidate-pair frame (its lineage is the whole banding
    pipeline and it is consumed three times per op) and register it for
    explicit release."""
    cand = cand.persist()
    _CANDIDATE_CACHES.append(cand)
    return cand


def release_candidate_caches() -> int:
    """Unpersist every candidate frame cached by
    :func:`minhash_lsh_dedup`, :func:`simhash_near_pairs` and
    :func:`bits_near_pairs` since the last release; returns how many
    were released.  Long-lived sessions that call the ops repeatedly
    should release once each result is materialized — the cache only
    exists so banding runs once per op, not per consumer."""
    n = len(_CANDIDATE_CACHES)
    while _CANDIDATE_CACHES:
        _CANDIDATE_CACHES.pop().unpersist()
    return n


def _pruned_reps(reps: DataFrame, cand: DataFrame,
                 verify_broadcast_limit: int | None = None) -> DataFrame:
    """The verify-side prune: reps rows whose gkey appears in the
    candidate pairs.  Joins on reps' RAW columns — callers compute
    expensive exprs (shingles / simhash) in a select ABOVE this join,
    otherwise the expr is evaluated for every rep row anyway.

    The candidate-key set is force-broadcast only below
    ``verify_broadcast_limit`` candidate pairs (default
    ``VERIFY_BROADCAST_MAX_PAIRS``); above it — or when the limit is
    <= 0 — the join is left plain and AQE chooses the strategy from
    the runtime key bytes.  ``cand`` is persisted by the caller, so
    the gating ``count()`` doubles as the cache materialization
    (banding runs exactly once, before any consumer)."""
    limit = (VERIFY_BROADCAST_MAX_PAIRS if verify_broadcast_limit is None
             else verify_broadcast_limit)
    cand_keys = (
        cand.select(F.col("gkey_a").alias("gkey"))
        .unionByName(cand.select(F.col("gkey_b").alias("gkey")))
        .distinct())
    if limit > 0 and cand.count() <= limit:
        cand_keys = F.broadcast(cand_keys)
    return reps.join(cand_keys, "gkey")

def _exact_groups(df: DataFrame, key: Column, id_col: str,
                  payload: Column, payload_name: str):
    """Collapse exact-duplicate rows before pair enumeration.

    Returns ``(membership, reps)``: membership is the narrow
    (gkey, id) table; reps keeps one representative payload per group
    (the payload is identical within a group, so ``first`` is
    deterministic).  See the module docstring, blowup control #1."""
    keyed = df.select(key.alias("gkey"), F.col(id_col).alias("id"),
                      payload.alias(payload_name))
    membership = keyed.select("gkey", "id")
    reps = keyed.groupBy("gkey").agg(
        F.first(payload_name).alias(payload_name))
    return membership, reps


def _intra_group_pairs(membership: DataFrame, score: Column,
                       score_name: str) -> DataFrame:
    """All (id_a < id_b) pairs within each exact-duplicate group, with
    the constant exact score (Jaccard 1 / Hamming 0 / cosine 1).
    Output-sized by necessity — the true answer contains these pairs —
    but generated by one narrow join on gkey, no banding, no payloads."""
    a, b = membership.alias("a"), membership.alias("b")
    return (
        a.join(b, (F.col("a.gkey") == F.col("b.gkey"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                score.alias(score_name))
    )


def _expand_rep_pairs(rep_pairs: DataFrame, membership: DataFrame,
                      score_name: str) -> DataFrame:
    """Representative-level verified pairs -> member-level pairs.
    Groups are distinct, so member ids never tie; ordering is restored
    with least/greatest."""
    ma = membership.select(F.col("gkey").alias("gkey_a"),
                           F.col("id").alias("_ma"))
    mb = membership.select(F.col("gkey").alias("gkey_b"),
                           F.col("id").alias("_mb"))
    return (
        rep_pairs.join(ma, "gkey_a").join(mb, "gkey_b")
        .select(F.least("_ma", "_mb").alias("id_a"),
                F.greatest("_ma", "_mb").alias("id_b"),
                F.col(score_name))
    )


def _cap_buckets(banded: DataFrame, keys: list[str],
                 max_bucket_size: int | None) -> DataFrame:
    """Drop (band, bucket) groups larger than ``max_bucket_size`` —
    LOUDLY (module docstring, blowup control #3).  Counting the dropped
    buckets triggers one small aggregation job up front; that is the
    price of not capping silently.  ``None`` (default) disables."""
    if max_bucket_size is None:
        return banded
    counts = banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("_bsz"))
    over = counts.filter(F.col("_bsz") > max_bucket_size)
    stats = over.agg(F.count(F.lit(1)).alias("n"),
                     F.sum("_bsz").alias("rows")).first()
    if stats["n"]:
        _LOG.warning(
            "LSH bucket cap: dropping %d oversized buckets "
            "(> %d members, %d banded rows) — pairs confined to these "
            "buckets are NOT enumerated",
            stats["n"], max_bucket_size, stats["rows"])
    return banded.join(over.select(*keys), keys, "left_anti")


def _banded_candidate_pairs(banded: DataFrame, keys: list[str],
                            max_bucket_size: int | None,
                            extra_cols: tuple[str, ...] = (),
                            pair_filter=None) -> DataFrame:
    """Distinct candidate (gkey_a < gkey_b) pairs sharing >= 1 bucket.
    Only the narrow (keys..., gkey, extra_cols...) projection moves
    through the self-join and the dedup exchange (blowup control #2).
    ``pair_filter`` (a predicate over the aliased a/b join) prunes
    per-occurrence BEFORE the dedup exchange — a pair survives if ANY
    shared bucket occurrence passes, so only provably-safe filters
    (e.g. positional upper bounds) belong here."""
    narrow = _cap_buckets(banded.select(*keys, "gkey", *extra_cols),
                          keys, max_bucket_size)
    a, b = narrow.alias("a"), narrow.alias("b")
    cond = (F.col("a.gkey") < F.col("b.gkey"))
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    joined = a.join(b, cond)
    if pair_filter is not None:
        joined = joined.filter(pair_filter())
    return (
        joined
        .select(F.col("a.gkey").alias("gkey_a"),
                F.col("b.gkey").alias("gkey_b"))
        .dropDuplicates(["gkey_a", "gkey_b"])
    )


# --- MinHash + LSH ---------------------------------------------------------

def shingles_col(text: Column, k: int = 3) -> Column:
    """Word k-shingles as an array (deduplicated)."""
    toks = tokens_col(text)
    return F.array_distinct(
        F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def minhash_signature_col(shingles: Column, num_hashes: int = 32,
                          portable: bool = False) -> Column:
    """L-element MinHash signature, fully native, no Python.

    Default family: each shingle STRING is hashed exactly once
    (``xxhash64(s)``) and the L permutations re-hash that fixed-width
    int64 (``xxhash64(j, h)``) — the variable-length string bytes are
    consumed once instead of L times, which measures ~25%% faster at
    sf0.1 and scales with document length.  ``portable``: md5(j || ':'
    || s) hex strings — md5 is fixed-width lowercase hex, so the
    lexicographic ``array_min`` equals the numeric min and ANY engine
    with md5 reproduces the signature byte-for-byte (the DuckDB oracle
    does exactly that)."""
    def sig_over(sh: Column) -> Column:
        if portable:
            return F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda j: F.array_min(
                    F.transform(sh,
                                lambda s: F.md5(F.concat(j.cast("string"),
                                                         F.lit(":"), s)))))
        hashed = F.transform(sh, lambda s: F.xxhash64(s))
        return bind_once(hashed, lambda hs: F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda j: F.array_min(
                F.transform(hs, lambda h: F.xxhash64(j, h)))))

    # bind the shingle array ONCE: the signature lambda iterates
    # num_hashes times, and an inlined shingle expression would be
    # re-evaluated on every iteration (see bind_once)
    return bind_once(shingles, sig_over)


def _minhash_banded(sig_df: DataFrame, bands: int, rows: int,
                    portable: bool) -> DataFrame:
    """(gkey, band, bucket) from (gkey, sig): one row per band.
    The signature is bound once — the band lambda slices a VARIABLE,
    so column pruning/collapse can never re-inline (and per-band
    re-evaluate) the 32-hash signature expression."""
    def band_bucket(b, sig):
        joined = F.concat_ws(
            ",", F.transform(F.slice(sig, b * rows + 1, rows),
                             lambda v: v.cast("string")))
        bucket = F.md5(joined) if portable else F.xxhash64(joined)
        return F.struct(b.alias("band"), bucket.alias("bucket"))

    buckets = bind_once(
        F.col("sig"),
        lambda sig: F.transform(F.sequence(F.lit(0), F.lit(bands - 1)),
                                lambda b: band_bucket(b, sig)))
    return sig_df.select(
        "gkey", F.explode(buckets).alias("bb"),
    ).select("gkey", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def minhash_lsh_dedup(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.7,
                      num_hashes: int = 32, bands: int = 8,
                      portable: bool = False,
                      max_bucket_size: int | None = None,
                      verify_broadcast_limit: int | None = None) -> DataFrame:
    """Verified near-dup pairs (id_a, id_b, jaccard): LSH candidates
    filtered by exact Jaccard over shingle sets, computed only for the
    distinct surviving candidates.  Byte-identical texts are collapsed
    before banding and re-expanded after verification (module
    docstring)."""
    rows = num_hashes // bands
    membership, reps = _exact_groups(
        df, F.md5(F.col(text_col)), id_col, F.col(text_col), "text")
    shingled = reps.select(
        "gkey", shingles_col(F.col("text")).alias("sh"))
    # CRITICAL: keep "sh" in this projection even though banding only
    # needs "sig".  With sh referenced once, CollapseProject inlines
    # the whole shingle computation INTO the num_hashes-iteration
    # signature lambda, re-tokenizing every row once per hash
    # (measured 18x: 93s -> 5s per pass at sf0.1).  The second
    # reference blocks the collapse, so shingles materialize once.
    sig = shingled.select(
        "gkey", "sh",
        minhash_signature_col(F.col("sh"), num_hashes,
                              portable).alias("sig"))
    # The candidate set is small by construction (bucketed, distinct)
    # but its lineage contains the whole signature pipeline, and it is
    # consumed three times below (two key projections + the verify
    # join) — persist it so banding runs ONCE, not per consumer.
    cand = _persist_candidates(_banded_candidate_pairs(
        _minhash_banded(sig, bands, rows, portable),
        ["band", "bucket"], max_bucket_size))
    # exact verification: shingles recomputed only for the rows that
    # survived banding — at corpus scale the verify side is a prune of
    # the reps scan (broadcast below the size gate, shuffle join
    # above), never a second full-corpus tokenization pass.
    sh_verify = _pruned_reps(reps, cand, verify_broadcast_limit) \
        .select("gkey", shingles_col(F.col("text")).alias("sh"))
    sh_a = sh_verify.select(F.col("gkey").alias("gkey_a"),
                            F.col("sh").alias("sh_a"))
    sh_b = sh_verify.select(F.col("gkey").alias("gkey_b"),
                            F.col("sh").alias("sh_b"))
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b"))
    )
    rep_pairs = (
        cand.join(sh_a, "gkey_a").join(sh_b, "gkey_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("gkey_a", "gkey_b", "jaccard")
    )
    inter = _expand_rep_pairs(rep_pairs, membership, "jaccard")
    # identical texts have identical shingle sets: Jaccard exactly 1
    intra = _intra_group_pairs(membership, F.lit(1.0), "jaccard") \
        .filter(F.lit(threshold) <= 1.0)
    return inter.unionByName(intra).select("id_a", "id_b", "jaccard")


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold_num: int = 1, threshold_den: int = 2,
                        verify_broadcast_limit: int | None = None
                        ) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via prefix filtering
    (Chaudhuri/Ganti/Kaushik ICDE'06; Bayardo et al. WWW'07 AllPairs).

    Unlike MinHash-LSH this is LOSSLESS: the output is *every* pair
    with Jaccard >= num/den, no probabilistic recall.  The prefix-
    filtering principle makes that affordable without an all-pairs
    join: order each doc's k-shingle set by a global canonical order
    (xxhash64 of the shingle — uniform, JVM-native, and the exchange
    carries 8-byte longs instead of hash strings; hash collisions only
    merge tokens, which can only ADD candidates, and the exact verify
    prunes them — completeness needs just a consistent order, not an
    injective one), and any pair with
    ``|A∩B| >= ceil(tau·max(|A|,|B|))`` must collide inside the first
    ``p = n - ceil(tau·n) + 1`` elements of both prefixes — so a
    self-join on exploded prefix tokens enumerates a complete
    candidate superset.  Threshold is a rational (num/den) and the
    qualifying test is pure integer arithmetic
    (``den·|A∩B| >= num·|A∪B|``), so no float rounding crosses the
    engine boundary in the oracle comparison.

    Scale shape: the same blowup controls as MinHash — exact
    pre-collapse, narrow (token, gkey) exchange, persist-once candidate
    frame, size-gated verify prune.  The prefix explode emits
    ``~n·(1-tau)+1`` rows/doc (vs a constant ``bands`` for LSH) — the
    price of exactness; at the typical near-dup setting (tau 0.8-0.9)
    the prefix is ~n/10.  At 100 TB prefer MinHash for recall-tolerant
    dedup and this for contracts that need provable completeness."""
    membership, reps = _exact_groups(
        df, F.md5(F.col(text_col)), id_col, F.col(text_col), "text")

    # canonically-ordered hashed shingles; slice the qualifying prefix
    # and keep (set size, 1-based sorted position) per prefix token —
    # the inputs of the PPJoin positional filter below.  The
    # sorted-gram array is referenced three times (two sizes + the
    # slice), so it is lambda-bound — an inlined expression would
    # re-shingle and re-sort per reference (see bind_once).
    def prefix_rows_of(gs: Column) -> Column:
        n = F.size(gs).cast("long")
        ceil_tau_n = F.floor((F.lit(threshold_num) * n
                              + F.lit(threshold_den - 1))
                             / F.lit(threshold_den)).cast("long")
        return F.transform(
            F.slice(gs, 1, (n - ceil_tau_n + 1).cast("int")),
            lambda tokv, i: F.struct(
                tokv.alias("tok"), n.alias("n"),
                (i + 1).cast("long").alias("pos")))

    sorted_grams = F.array_sort(
        F.transform(shingles_col(F.col("text"), k),
                    lambda s: F.xxhash64(s)))
    # ONE explode emits (tok, n, pos) as fields of a Generate-produced
    # attribute: projecting n and pfx as two separate columns off the
    # bound struct would let CollapseProject inline — and so evaluate —
    # the whole shingle+sort+hash pipeline once PER REFERENCE (measured
    # 2x on the prefix stage, and the self-join pays it on both sides)
    prefix = (reps.select(
        "gkey", F.explode(bind_once(sorted_grams, prefix_rows_of))
        .alias("_r"))
        .select(F.col("_r.tok").alias("tok"), "gkey",
                F.col("_r.n").alias("n"), F.col("_r.pos").alias("pos")))

    def ppjoin_positional_filter() -> Column:
        """Prune a shared-token occurrence when its overlap UPPER BOUND
        cannot reach the qualifying overlap (Xiao et al., WWW'08
        PPJoin): a token at sorted position p leaves at most
        ``n - p + 1`` joint elements, while Jaccard >= num/den needs
        ``|A∩B| >= ceil(num·(na+nb)/(num+den))``.  Pure long
        arithmetic; the filter runs inside the bucket join, BEFORE the
        pair-dedup exchange, and only drops occurrences that provably
        cannot qualify — completeness (the brute-force set-equality
        gate in tests/test_dedup_quality.py) is untouched."""
        na, nb = F.col("a.n"), F.col("b.n")
        alpha = F.floor(
            (F.lit(threshold_num) * (na + nb)
             + F.lit(threshold_num + threshold_den - 1))
            / F.lit(threshold_num + threshold_den))
        ubound = F.least(na - F.col("a.pos"), nb - F.col("b.pos")) + 1
        return ubound >= alpha

    cand = _persist_candidates(
        _banded_candidate_pairs(prefix, ["tok"], None,
                                extra_cols=("n", "pos"),
                                pair_filter=ppjoin_positional_filter))
    # exact verification over the RAW shingle strings (hashes only
    # order/bucket; the score never depends on them)
    sh_verify = _pruned_reps(reps, cand, verify_broadcast_limit) \
        .select("gkey", shingles_col(F.col("text"), k).alias("sh"))
    sh_a = sh_verify.select(F.col("gkey").alias("gkey_a"),
                            F.col("sh").alias("sh_a"))
    sh_b = sh_verify.select(F.col("gkey").alias("gkey_b"),
                            F.col("sh").alias("sh_b"))
    inter_sz = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    union_sz = F.size(F.array_union("sh_a", "sh_b")).cast("long")
    rep_pairs = (
        cand.join(sh_a, "gkey_a").join(sh_b, "gkey_b")
        .filter(inter_sz * threshold_den >= union_sz * threshold_num)
        .withColumn("jaccard",
                    F.round(inter_sz.cast("double") / union_sz, 4))
        .select("gkey_a", "gkey_b", "jaccard")
    )
    inter = _expand_rep_pairs(rep_pairs, membership, "jaccard")
    intra = _intra_group_pairs(membership, F.lit(1.0), "jaccard") \
        .filter(F.lit(threshold_num) <= F.lit(threshold_den))
    return inter.unionByName(intra).select("id_a", "id_b", "jaccard")


def ngram_containment_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 3,
                            threshold_num: int = 1,
                            threshold_den: int = 2,
                            verify_broadcast_limit: int | None = None
                            ) -> DataFrame:
    """EXACT directional n-gram containment pairs: every ordered pair
    ``(id_a, id_b)`` with ``|A∩B| / |A| >= num/den`` over the docs'
    k-shingle sets — "A is (nearly) contained in B".  The quote /
    inclusion detector that Jaccard resemblance structurally misses: a
    paragraph quoted inside a 100× longer page scores containment 1.0
    but Jaccard ~0.01, so :func:`ngram_jaccard_pairs` never ranks it.

    Candidate generation is the ASYMMETRIC prefix filter (Chaudhuri et
    al. ICDE'06): a qualifying pair needs ``|A∩B| >= ceil(tau·|A|)``
    shared shingles, so (ordering both sets by the same canonical
    hash order) A must share a token within its first
    ``|A| - ceil(tau·|A|) + 1`` elements with B — B gets NO prefix
    bound (containment does not constrain ``|B|``), so the probe side
    is A-prefixes and the indexed side is B's FULL token list (the
    inverted-index shape `functions/relational.py` documents; the
    per-token postings are what a real system would frequency-order —
    hash order is kept here so the DuckDB oracle shares the exact
    ordering).  The PPJoin-style positional bound prunes occurrences
    before the pair-dedup exchange: a shared token at sorted positions
    (pa, pb) leaves at most ``min(na-pa, nb-pb)+1`` joint elements,
    which must reach ``ceil(tau·na)``.

    Threshold is rational and the qualifying test pure integer
    (``den·|A∩B| >= num·|A|``), mirroring the Jaccard op.  Exact
    pre-collapse, persist-once candidates and the size-gated verify
    prune are shared with the rest of the module (blowup controls
    #1/#2).  Output: ``(id_a, id_b, containment)`` — DIRECTIONAL
    (both orders appear when both directions qualify; exact-duplicate
    groups emit both orders at containment 1.0)."""
    membership, reps = _exact_groups(
        df, F.md5(F.col(text_col)), id_col, F.col(text_col), "text")

    sorted_grams = F.array_sort(
        F.transform(shingles_col(F.col("text"), k),
                    lambda s: F.xxhash64(s)))

    def ceil_tau(n: Column) -> Column:
        return F.floor((F.lit(threshold_num) * n
                        + F.lit(threshold_den - 1))
                       / F.lit(threshold_den)).cast("long")

    def prefix_rows_of(gs: Column) -> Column:
        n = F.size(gs).cast("long")
        return F.transform(
            F.slice(gs, 1, (n - ceil_tau(n) + 1).cast("int")),
            lambda tokv, i: F.struct(
                tokv.alias("tok"), n.alias("n"),
                (i + 1).cast("long").alias("pos")))

    def all_rows_of(gs: Column) -> Column:
        n = F.size(gs).cast("long")
        return F.transform(
            gs, lambda tokv, i: F.struct(
                tokv.alias("tok"), n.alias("n"),
                (i + 1).cast("long").alias("pos")))

    def exploded(rows_of) -> DataFrame:
        return (reps.select(
            "gkey", F.explode(bind_once(sorted_grams, rows_of))
            .alias("_r"))
            .select(F.col("_r.tok").alias("tok"), "gkey",
                    F.col("_r.n").alias("n"),
                    F.col("_r.pos").alias("pos")))

    probe, index = exploded(prefix_rows_of), exploded(all_rows_of)
    a, b = probe.alias("a"), index.alias("b")
    na, nb = F.col("a.n"), F.col("b.n")
    ubound = F.least(na - F.col("a.pos"), nb - F.col("b.pos")) + 1
    cand = _persist_candidates(
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.gkey") != F.col("b.gkey")))
        .filter(ubound >= ceil_tau(na))
        .select(F.col("a.gkey").alias("gkey_a"),
                F.col("b.gkey").alias("gkey_b"))
        .dropDuplicates(["gkey_a", "gkey_b"]))
    sh_verify = _pruned_reps(reps, cand, verify_broadcast_limit) \
        .select("gkey", shingles_col(F.col("text"), k).alias("sh"))
    sh_a = sh_verify.select(F.col("gkey").alias("gkey_a"),
                            F.col("sh").alias("sh_a"))
    sh_b = sh_verify.select(F.col("gkey").alias("gkey_b"),
                            F.col("sh").alias("sh_b"))
    inter_sz = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    a_sz = F.size("sh_a").cast("long")
    rep_pairs = (
        cand.join(sh_a, "gkey_a").join(sh_b, "gkey_b")
        .filter(inter_sz * threshold_den >= a_sz * threshold_num)
        .withColumn("containment",
                    F.round(inter_sz.cast("double") / a_sz, 4))
        .select("gkey_a", "gkey_b", "containment"))
    # directional member expansion (no least/greatest reordering)
    ma = membership.select(F.col("gkey").alias("gkey_a"),
                           F.col("id").alias("id_a"))
    mb = membership.select(F.col("gkey").alias("gkey_b"),
                           F.col("id").alias("id_b"))
    inter = (rep_pairs.join(ma, "gkey_a").join(mb, "gkey_b")
             .select("id_a", "id_b", "containment"))
    # exact-duplicate groups: containment 1.0 in BOTH directions
    g1, g2 = membership.alias("g1"), membership.alias("g2")
    intra = (g1.join(g2, (F.col("g1.gkey") == F.col("g2.gkey"))
                     & (F.col("g1.id") != F.col("g2.id")))
             .select(F.col("g1.id").alias("id_a"),
                     F.col("g2.id").alias("id_b"),
                     F.lit(1.0).alias("containment")))
    return inter.unionByName(intra).select("id_a", "id_b",
                                           "containment")


# --- Winnowing fingerprints --------------------------------------------------

def winnowing_fingerprints_col(text: Column, k: int = 8,
                               w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every character k-gram of the
    normalized text, slide a window of ``w`` consecutive hashes, keep
    each window's minimum; the distinct selected hashes are the
    document's fingerprint set (guarantees: any shared substring of
    length >= k+w-1 yields a shared fingerprint).

    Engine-portable by construction — k-gram hash = first 8 hex chars
    of md5 (lexicographic min == numeric min), so the DuckDB oracle
    re-derives the set exactly.  All native (no Python); the
    normalized text and the hash array are bind_once-bound because
    both are referenced from iterating lambdas."""
    from .textstats import normalized_text_col

    def over_hashes(h: Column) -> Column:
        n_win = F.greatest(F.size(h) - (w - 1), F.lit(1))
        mins = F.transform(F.sequence(F.lit(1), n_win),
                           lambda j: F.array_min(F.slice(h, j, w)))
        return F.array_sort(F.array_distinct(mins))

    def over_norm(nrm: Column) -> Column:
        n_grams = F.greatest(F.length(nrm) - (k - 1), F.lit(1))
        hashes = F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda i: F.substring(F.md5(F.substr(nrm, i, F.lit(k))), 1, 8))
        return bind_once(hashes, over_hashes)

    return bind_once(normalized_text_col(text), over_norm)


# --- SimHash ---------------------------------------------------------------

def simhash_hex_col(text_expr: str, bands: int = 4,
                    bits_per_band: int = 16) -> Column:
    """64-bit SimHash as a 16-hex-char string, fully native SQL.

    Per-token xxhash64 values are bound ONCE via a single-element
    transform() lambda, then each 16-bit chunk is a bit-majority vote
    folded with base-2 accumulation (chunks avoid int64 sign overflow
    under ANSI mode and double as Hamming-neighbor band keys: docs within
    small Hamming distance share at least one identical chunk).
    `text_expr` is a SQL expression for the text column.
    """
    toks = "array_distinct(split(trim(lower({t})), '\\\\s+'))".format(
        t=text_expr)
    hashes = "transform({toks}, t -> xxhash64(t))".format(toks=toks)
    chunk_tpl = (
        "lpad(hex(aggregate(sequence({hi}, {lo}, -1), 0, (acc, i) -> "
        "acc * 2 + if(size(filter(h, x -> (shiftright(x, i) & 1) = 1)) * 2 "
        ">= size(h), 1, 0))), {w}, '0')"
    )
    chunks = []
    for b in range(bands - 1, -1, -1):
        chunks.append(chunk_tpl.format(
            hi=b * bits_per_band + bits_per_band - 1,
            lo=b * bits_per_band,
            w=bits_per_band // 4))
    return F.expr(
        "transform(array({hashes}), h -> concat({chunks}))[0]".format(
            hashes=hashes, chunks=", ".join(chunks)))


def simhash_bits_col(text_expr: str) -> Column:
    """Engine-portable 64-bit SimHash as a 64-char '0'/'1' string.

    Token hash = first 16 hex chars of md5(token) (64 bits); bit i of
    the simhash is the majority vote of bit i across token hashes,
    where bit i of a hash is nibble ``i div 4`` (via conv-from-hex)
    shifted by ``3 - i%4``.  Every construct (md5, substring, integer
    div/mod, shiftright, &) exists identically in DuckDB, so the
    oracle re-derives the value in pure SQL with no shared code.
    Emitted as a bit-string (not hex) so banding and Hamming distance
    are plain substring/char-compare operations in both engines."""
    toks = "array_distinct(split(trim(lower({t})), '\\\\s+'))".format(
        t=text_expr)
    hashes = "transform({toks}, t -> substring(md5(t), 1, 16))".format(
        toks=toks)
    return F.expr(
        "transform(array({hs}), hs -> "
        "aggregate(sequence(0, 63), cast('' as string), (acc, i) -> "
        "acc || if(2 * size(filter(hs, h -> (shiftright("
        "cast(conv(substring(h, (i div 4) + 1, 1), 16, 10) as int), "
        "3 - (i % 4)) & 1) = 1)) >= size(hs), '1', '0')))[0]".format(
            hs=hashes))


def simhash_band_struct_col(text_expr: str, bands: int = 4,
                            bits_per_band: int = 16) -> Column:
    """The same SimHash as an array of band hex strings, for banded
    Hamming-candidate joins (explode -> groupBy band index+value)."""
    toks = "array_distinct(split(trim(lower({t})), '\\\\s+'))".format(
        t=text_expr)
    hashes = "transform({toks}, t -> xxhash64(t))".format(toks=toks)
    chunk_tpl = (
        "lpad(hex(aggregate(sequence({hi}, {lo}, -1), 0, (acc, i) -> "
        "acc * 2 + if(size(filter(h, x -> (shiftright(x, i) & 1) = 1)) * 2 "
        ">= size(h), 1, 0))), {w}, '0')"
    )
    chunks = [chunk_tpl.format(hi=b * bits_per_band + bits_per_band - 1,
                               lo=b * bits_per_band, w=bits_per_band // 4)
              for b in range(bands)]
    return F.expr(
        "transform(array({hashes}), h -> array({chunks}))[0]".format(
            hashes=hashes, chunks=", ".join(chunks)))


def simhash_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  portable: bool = False) -> DataFrame:
    """Docs grouped by identical SimHash (exact-collision tier)."""
    sh = (simhash_bits_col(text_col) if portable
          else simhash_hex_col(text_col))
    return (
        df.select(F.col(id_col), sh.alias("simhash"))
        .groupBy("simhash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", max_hamming: int = 3,
                       portable: bool = False,
                       max_bucket_size: int | None = None,
                       verify_broadcast_limit: int | None = None) -> DataFrame:
    """Near-dup pairs (id_a, id_b, hamming) by banded SimHash:
    candidates share >= 1 of 4 16-bit bands (pigeonhole: guaranteed
    recall for Hamming <= 3), then the true bit distance verifies.
    Byte-identical texts are collapsed first (Hamming 0 by
    construction) — module docstring."""
    membership, reps = _exact_groups(
        df, F.md5(F.col(text_col)), id_col, F.col(text_col), "text")
    if portable:
        sim_col = simhash_bits_col("text")
        # bands = 4 disjoint 16-char substrings of the bit-string; the
        # simhash is bound once (bind_once) so pruning can't re-inline
        # the 64-bit majority vote into the 4-band lambda
        banded_src = reps.select(
            "gkey", sim_col.alias("simhash")
        ).withColumn("_bands", bind_once(
            F.col("simhash"),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda b: F.substr(s, b * 16 + 1, F.lit(16)))))
        ham = F.expr(
            "aggregate(sequence(1, 64), 0, (acc, i) -> acc + "
            "if(substring(sh_a, i, 1) <> substring(sh_b, i, 1), 1, 0))")
    else:
        sim_col = simhash_hex_col("text")
        banded_src = reps.select(
            "gkey", sim_col.alias("simhash"),
            simhash_band_struct_col("text").alias("_bands"))
        # Hamming distance between the 64-bit values via hex nibbles
        ham = F.expr(
            "aggregate(sequence(1, 16), 0, (acc, i) -> acc + "
            "bit_count(cast(conv(substring(sh_a, i, 1), 16, 10) as int) "
            "^ cast(conv(substring(sh_b, i, 1), 16, 10) as int)))")
    banded = banded_src.select(
        "gkey", F.posexplode("_bands").alias("band", "bval"))
    # persist: small by construction, consumed three times below (see
    # minhash_lsh_dedup) — without it the banding pipeline re-runs per
    # consumer
    cand = _persist_candidates(_banded_candidate_pairs(
        banded, ["band", "bval"], max_bucket_size))
    # verify-side prune: join reps' (gkey, text) to the candidate keys
    # FIRST (size-gated broadcast), then recompute the 64-bit majority
    # vote for the survivors only — never a second full-corpus pass
    sh_verify = _pruned_reps(reps, cand, verify_broadcast_limit) \
        .select("gkey", sim_col.alias("simhash"))
    sh_a = sh_verify.select(F.col("gkey").alias("gkey_a"),
                            F.col("simhash").alias("sh_a"))
    sh_b = sh_verify.select(F.col("gkey").alias("gkey_b"),
                            F.col("simhash").alias("sh_b"))
    rep_pairs = (
        cand.join(sh_a, "gkey_a").join(sh_b, "gkey_b")
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("gkey_a", "gkey_b", "hamming")
    )
    inter = _expand_rep_pairs(rep_pairs, membership, "hamming")
    intra = _intra_group_pairs(membership, F.lit(0).cast("int"), "hamming")
    return inter.unionByName(intra).select("id_a", "id_b", "hamming")


def bits_near_pairs(df: DataFrame, bits_col: str, id_col: str = "doc_id",
                    bit_len: int = 64, max_hamming: int = 2,
                    n_bands: int = 4,
                    max_bucket_size: int | None = None,
                    verify_broadcast_limit: int | None = None) -> DataFrame:
    """Near-dup pairs ``(id_a, id_b, hamming)`` over ANY precomputed
    fixed-width bit-string column — perceptual image dHashes, audio
    fingerprints, any 0/1-string signature.  Same machinery as
    :func:`simhash_near_pairs` (exact pre-collapse, band buckets,
    verify on survivors) but the signature arrives as data instead of
    being derived from text, so one pair engine serves every
    perceptual-hash modality.

    Banding: ``n_bands`` equal substrings; the pigeonhole bound
    guarantees full recall for Hamming <= ``n_bands - 1``
    (``max_hamming`` above that trades recall, same as LSH).  Rows
    with NULL bits (decode failures upstream) are skipped.  ``bit_len``
    must split evenly into ``n_bands``."""
    if bit_len % n_bands:
        raise ValueError(f"bit_len {bit_len} not divisible by "
                         f"n_bands {n_bands}")
    band_len = bit_len // n_bands
    # persist the NARROW (id, bits) projection: the signatures feed
    # three consumers (membership, reps, verify) and typically arrive
    # from an expensive decode kernel (PNG/GIF/WAV) — without this the
    # decode would re-run once per consumer.  ~(8 + bit_len) bytes per
    # row, spill-safe, released via release_candidate_caches()
    src = _persist_candidates(
        df.filter(F.col(bits_col).isNotNull())
        .select(F.col(id_col), F.col(bits_col)))
    # the bits string IS the exact-group key (byte-identical hashes are
    # Hamming 0 by construction and never reach the band join)
    membership, reps = _exact_groups(
        src, F.col(bits_col), id_col, F.col(bits_col), "bits")
    banded = reps.select(
        "gkey",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.substr("bits", b * band_len + 1,
                               F.lit(band_len)))).alias("band", "bval"))
    cand = _persist_candidates(_banded_candidate_pairs(
        banded, ["band", "bval"], max_bucket_size))
    verify = _pruned_reps(reps, cand, verify_broadcast_limit)
    v_a = verify.select(F.col("gkey").alias("gkey_a"),
                        F.col("bits").alias("bits_a"))
    v_b = verify.select(F.col("gkey").alias("gkey_b"),
                        F.col("bits").alias("bits_b"))
    ham = F.expr(
        f"aggregate(sequence(1, {bit_len}), 0, (acc, i) -> acc + "
        "if(substring(bits_a, i, 1) <> substring(bits_b, i, 1), 1, 0))")
    rep_pairs = (
        cand.join(v_a, "gkey_a").join(v_b, "gkey_b")
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("gkey_a", "gkey_b", "hamming"))
    inter = _expand_rep_pairs(rep_pairs, membership, "hamming")
    intra = _intra_group_pairs(membership, F.lit(0).cast("int"), "hamming")
    return inter.unionByName(intra).select("id_a", "id_b", "hamming")


# --- duplicate-span removal (C4-style line/paragraph dedup) ------------------

def spans_col(text: Column, span_words: int) -> Column:
    """Non-overlapping ``span_words``-word spans of ``text`` (the
    whitespace-token analogue of C4's sentence spans / Dolma's
    paragraphs on a corpus whose text carries no newlines).  The split
    is lambda-bound (:func:`bind_once`) so the iterating slice lambda
    cannot re-tokenize the document per span."""
    words = F.split(text, " ")

    def over(w: Column) -> Column:
        n = F.floor((F.size(w) + (span_words - 1)) / span_words) \
            .cast("int")
        return F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.array_join(
                F.slice(w, i * span_words + 1, span_words), " "))

    return bind_once(words, over)


def drop_duplicate_spans(docs: DataFrame, span_words: int = 10,
                         id_col: str = "doc_id",
                         text_col: str = "text",
                         passthrough_cols: tuple[str, ...] = ()
                         ) -> DataFrame:
    """Remove every duplicated span from all but its globally-first
    occurrence (C4/Dolma-style training-data span dedup): a span
    occurrence survives iff its (id, index) is the minimum over all
    occurrences of the same span text; each document's survivors are
    reassembled in order.  Returns (id, clean_text, n_spans, n_kept).

    Scale shape (the 100 TB path):

    * The global first-occurrence decision exchanges ONLY
      ``(md5(span), id, index)`` — 16-byte digests, never span text —
      with a map-side partial ``min(struct(id, idx))``.
    * Reassembly joins the narrow survivor index lists back onto the
      source table and recomputes spans from ``text`` there, so the
      wide text column crosses exactly one exchange (the reassembly
      join's) — zero if the source table is bucketed by ``id``, and
      AQE may broadcast the survivor side when small.
    * Within-document repeats fall out of the same rule (their later
      indices lose the min), so no separate intra-doc pass.
    * ``passthrough_cols`` ride the reassembly join into the output —
      cheaper than a second id join back onto the source.  Note the
      input is still consumed twice (the narrow explode and the
      rebuild); when it is itself an expensive pipeline, materialize
      it first (persist/checkpoint — what a production corpus build
      does between stages anyway).
    """
    spans = spans_col(F.col(text_col), span_words)
    narrow = docs.select(
        F.col(id_col), F.posexplode(spans).alias("_idx", "_span")
    ).select(id_col, "_idx", F.md5("_span").alias("_h"))
    owner = narrow.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("i"),
                       F.col("_idx").alias("x"))).alias("_own"))
    surv = (narrow.join(owner, "_h")
            .filter((F.col(id_col) == F.col("_own.i"))
                    & (F.col("_idx") == F.col("_own.x")))
            .groupBy(id_col)
            .agg(F.sort_array(F.collect_list("_idx")).alias("_kidx"),
                 F.count("*").alias("_nk")))
    rebuilt = docs.join(surv, id_col, "left")
    kept_spans = bind_once(
        spans, lambda sp: F.transform(
            F.coalesce(F.col("_kidx"), F.array().cast("array<int>")),
            lambda i: F.element_at(sp, i + 1)))
    # n_spans is pure arithmetic on the word count: size(spans) here
    # would inline a SECOND full span-string construction per row
    # (CollapseProject re-evaluates the bound pipeline per reference —
    # the bind_once failure mode); a fresh split is just a cheap
    # re-tokenize
    n_spans = F.floor(
        (F.size(F.split(F.col(text_col), " ")) + (span_words - 1))
        / span_words).cast("long")
    return rebuilt.select(
        F.col(id_col), *passthrough_cols,
        F.array_join(kept_spans, " ").alias("clean_text"),
        n_spans.alias("n_spans"),
        F.coalesce(F.col("_nk"), F.lit(0)).cast("long").alias("n_kept"))


# --- near-dup clustering (connected components over candidate pairs) --------

def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_rounds: int = 50) -> DataFrame:
    """Connected components over an undirected pair list via the
    alternating large-star / small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14): the step
    after near-dup pair generation that turns MinHash/SimHash/embedding
    PAIRS into duplicate CLUSTERS, so a corpus build can keep exactly
    one document per cluster (``min`` id here) instead of greedily
    dropping pair losers (which over-deletes on chains a-b, b-c).

    Returns one row per node appearing in ``pairs``:
    ``(id, component)`` with ``component`` = the minimum node id of the
    node's component (the component root maps to itself).

    Scale shape (the 100 TB path):

    * Converges in O(log n) rounds — not graph-diameter rounds, which
      is what sinks plain label propagation on chained boilerplate
      duplicates — and each round is two window exchanges plus a
      distinct over the CURRENT edge list, which only ever carries two
      int64 columns.  Both stars strictly never grow the edge
      multiset's node span, and edges concentrate onto component roots
      as rounds proceed.
    * Neighborhood minima come from a window ``min`` (one exchange,
      no ``collect_list`` — a hub node of degree k sorts k narrow rows
      in one partition rather than materializing a k-element array in
      one aggregation buffer).
    * The driver-side convergence check reads a 1-row signature
      aggregate (count + hash-sum) per round — O(log n) tiny jobs, no
      data collected.
    * Each round's edge frame is eagerly checkpointed and the previous
      round's blocks explicitly released once the new round is
      materialized, so both the plan depth and the stored edge state
      stay one round deep (no exponential replay on the final labels
      job, no block accumulation across rounds).

    Determinism: the result is a pure function of the input pair SET —
    partitioning, round count and evaluation order cannot change the
    fixpoint (component minima are order-free).
    """
    edges = (pairs.select(F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
                          F.least(F.col(id_a), F.col(id_b)).alias("v"))
             .filter(F.col("u") != F.col("v"))
             .distinct())
    from pyspark.sql import Window

    def large_star(e: DataFrame) -> DataFrame:
        # both orientations; every neighbor v > u links to
        # min(N(u) + {u})
        b = e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = F.least(F.col("u"), F.min("v").over(Window.partitionBy("u")))
        return (b.withColumn("m", m)
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .distinct())

    def small_star(e: DataFrame) -> DataFrame:
        # input edges satisfy u > v (large_star emits (v, m) with
        # v > u >= m); every smaller neighbor and u itself link to the
        # minimum neighbor
        m = F.min("v").over(Window.partitionBy("u"))
        nbrs = (e.withColumn("m", m)
                .filter(F.col("v") != F.col("m"))
                .select(F.col("v").alias("u"), F.col("m").alias("v")))
        selfe = e.withColumn("m", m).select("u", F.col("m").alias("v"))
        return nbrs.union(selfe).distinct()

    def signature(e: DataFrame):
        row = e.agg(F.count(F.lit(1)).alias("n"),
                    F.expr("bit_xor(xxhash64(u, v))").alias("h")).first()
        return (row["n"], row["h"])

    # each round materializes via localCheckpoint: persist alone keeps
    # the FULL logical plan growing round over round (two windows + a
    # distinct per round — ~10 rounds deep the plan tree itself
    # overflows the analyzer stack), while a checkpoint truncates the
    # lineage so the plan stays one round deep.  On a real cluster with
    # executor loss in play, swap localCheckpoint for a reliable
    # ``checkpoint()`` (HDFS/object-store checkpoint dir) — the round
    # structure is identical.
    #
    # Block release: ``DataFrame.unpersist()`` only clears CacheManager
    # entries and does NOT touch a localCheckpoint's RDD blocks (those
    # are freed when the JVM RDD is GC'd — unboundedly late).  Each
    # round's checkpoint blocks are therefore released explicitly via
    # the persistent-RDD registry, identified by diffing the registry
    # around the checkpoint call (this function is synchronous, so the
    # diff window contains only its own RDDs).
    sc = pairs.sparkSession.sparkContext

    def _persistent_ids() -> set:
        return {int(i) for i in
                sc._jsc.getPersistentRDDs().keySet().toArray()}

    def _release(ids) -> None:
        reg = sc._jsc.getPersistentRDDs()
        for i in ids:
            ref = reg.get(i)
            if ref is not None:
                ref.unpersist(False)

    seen_ids = _persistent_ids()
    cur = edges.localCheckpoint(eager=True)
    cur_ids = _persistent_ids() - seen_ids
    cur_sig = signature(cur)
    for _ in range(max_rounds):
        # eager checkpoint: nxt is fully materialized with truncated
        # lineage before cur's blocks are released below
        seen_ids = _persistent_ids()
        nxt = small_star(large_star(cur)).localCheckpoint(eager=True)
        nxt_ids = _persistent_ids() - seen_ids
        nxt_sig = signature(nxt)
        _release(cur_ids)
        cur, cur_ids = nxt, nxt_ids
        cur_sig, prev_sig = nxt_sig, cur_sig
        if nxt_sig == prev_sig:
            break
    else:  # pragma: no cover - star alternation always converges
        _LOG.warning("connected_components: no fixpoint after %d "
                     "rounds; labels may be partial", max_rounds)

    # at the fixpoint every edge is (node, component_min); roots never
    # appear on the left, so they are restored from the original node
    # set with component = themselves
    nodes = (pairs.select(F.col(id_a).alias("id"))
             .union(pairs.select(F.col(id_b).alias("id")))
             .distinct())
    labels = cur.groupBy("u").agg(F.min("v").alias("component"))
    out = (nodes.join(labels.withColumnRenamed("u", "id"), "id", "left")
           .select("id", F.coalesce("component", F.col("id"))
                   .alias("component")))
    # the result is small (two ints per clustered node); persist it via
    # the shared release path (:func:`release_candidate_caches`) so
    # multi-consumer callers don't replay the labels join.  cur's
    # checkpoint blocks stay referenced by out's lineage (checkpointed
    # RDDs have no lineage to recompute from) and are GC'd with it.
    out = _persist_candidates(out)
    out.count()
    return out


def elect_canonical(pairs: DataFrame, attrs: DataFrame,
                    id_col: str = "id", url_col: str = "url",
                    id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Canonical-URL election over an alias-pair graph: connected
    components over ``pairs`` (trailing-slash / tracking-param /
    index.html aliases discovered by DUST mining or redirect chains),
    then per component elect the canonical member — SHORTEST url, then
    lexicographic url, then lowest id (the usual crawler
    canonicalization rule: the cleanest spelling wins).  Rows of
    ``attrs`` that never appear in ``pairs`` are their own canonical.

    Output: ``(id, url, canonical_id, canonical_url, is_canonical)``
    — one row per ``attrs`` row.

    Scale shape: components come from the O(log n) star alternation
    (:func:`connected_components`); the election itself is ONE
    ``min(struct(len, url, id))`` aggregation whose partial minima
    fold map-side — a boilerplate alias cluster with 10^9 members is
    one group, never a window sort — and the answer joins back on the
    component key (AQE skew-splittable)."""
    comps = connected_components(pairs, id_a, id_b)
    labeled = (attrs.select(F.col(id_col).alias("id"),
                            F.col(url_col).alias("url"))
               .join(comps, "id", "left")
               .withColumn("comp", F.coalesce("component", F.col("id"))))
    best = (labeled.groupBy("comp")
            .agg(F.min(F.struct(F.length("url").alias("l"), "url",
                                "id")).alias("c")))
    return (labeled.join(best, "comp")
            .select("id", "url",
                    F.col("c.id").alias("canonical_id"),
                    F.col("c.url").alias("canonical_url"),
                    (F.col("c.id") == F.col("id")).alias("is_canonical")))


def elect_survivors(scored: DataFrame, pairs: DataFrame,
                    id_col: str = "doc_id",
                    score_col: str = "score",
                    id_a: str = "id_a", id_b: str = "id_b"
                    ) -> DataFrame:
    """Quality-aware survivor election over near-dup clusters: close
    ``pairs`` into connected components, then keep the HIGHEST-
    ``score`` member of each cluster (ties to the lowest id) — the
    dedup policy real corpus builds apply instead of keep-min-id:
    when a boilerplate chain clusters a long original with its
    truncated mirrors, the build wants the best copy, not the
    numerically first one.  ``score`` is any integer quality proxy
    (octet length for longest-member-wins, a classifier margin, an
    LM tier rank); keep it integral so the election is exact and
    hash-checkable.

    Output: ``(id, cluster_id, is_keep)`` — one row per ``scored``
    row; documents outside every pair are their own cluster and
    survive.

    Scale shape: components from the O(log n) star alternation
    (:func:`connected_components`); the election is ONE
    ``max(struct(score, -id))`` aggregation with map-side partial
    maxima — a 10^9-member boilerplate cluster folds inside partial
    aggregation, never a window sort — plus the component-keyed
    join back (AQE skew-splittable), exactly the
    :func:`elect_canonical` shape with the opposite objective."""
    comps = connected_components(pairs, id_a, id_b)
    labeled = (scored.select(F.col(id_col).alias("id"),
                             F.col(score_col).cast("long")
                             .alias("__s"))
               .join(comps, "id", "left")
               .withColumn("cluster_id",
                           F.coalesce("component", F.col("id"))))
    best = (labeled.groupBy("cluster_id")
            .agg(F.max(F.struct(F.col("__s").alias("s"),
                                (-F.col("id")).alias("ni")))
                 .alias("b")))
    return (labeled.join(best, "cluster_id")
            .select(F.col("id"), F.col("cluster_id").cast("long")
                    .alias("cluster_id"),
                    (F.col("id") == -F.col("b.ni")).alias("is_keep")))


def drop_duplicate_paragraphs(docs: DataFrame,
                              id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """Corpus-wide exact PARAGRAPH dedup (the Dolma/C4 paragraph
    pass, run beside document-level dedup: boilerplate blocks —
    cookie banners, nav footers, license headers — repeat across
    millions of pages as identical newline-delimited paragraphs and
    are removed everywhere but their first occurrence):

    * paragraphs = ``text`` split on ``\\n``; whitespace-only
      paragraphs are exempt (blank separator lines are structure,
      not content — deduplicating them would collapse all vertical
      whitespace corpus-wide onto one arbitrary owner),
    * the OWNER of a paragraph digest is the globally first
      occurrence by ``(doc_id, idx)``; every other occurrence drops,
    * output: one row per input doc — ``(id, n_paras, n_kept,
      clean_text)`` with ``clean_text`` the kept paragraphs
      rejoined by ``\\n`` in original order ('' when nothing
      survives).

    Scale shape (the drop_duplicate_spans discipline at paragraph
    granularity): one posexplode pass; the owner decision is ONE
    aggregation keyed on the 16-byte md5 digest carrying a
    ``min(struct(doc_id, idx))`` with map-side partial minima (a
    boilerplate paragraph repeated 10^9 times folds inside partial
    agg — never a window over the full occurrence list); the verdict
    joins back on the digest; reassembly is ONE doc-keyed
    aggregation (array_sort over the doc's OWN kept paragraphs
    only).  No Python anywhere."""
    paras = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("idx", "para"))
    nonempty = paras.filter(F.trim("para") != "")
    owner = (nonempty
             .select(F.md5("para").alias("dg"), "id", "idx")
             .groupBy("dg")
             .agg(F.min(F.struct("id", "idx")).alias("o")))
    kept_ne = (nonempty.select("id", "idx", "para",
                               F.md5("para").alias("dg"))
               .join(owner, "dg")
               .filter((F.col("id") == F.col("o.id"))
                       & (F.col("idx") == F.col("o.idx")))
               .select("id", "idx", "para"))
    kept = kept_ne.unionAll(
        paras.filter(F.trim("para") == "")
        .select("id", "idx", "para"))
    rebuilt = (kept.groupBy("id")
               .agg(F.count(F.lit(1)).alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("idx", "para"))),
                            lambda s: s["para"]), "\n")
                    .alias("clean_text")))
    totals = docs.select(
        F.col(id_col).alias("id"),
        F.size(F.split(F.col(text_col), "\n")).cast("long")
        .alias("n_paras"))
    return (totals.join(rebuilt, "id", "left")
            .select("id", "n_paras",
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept"),
                    F.coalesce("clean_text", F.lit(""))
                    .alias("clean_text")))


# --- overlapping-window duplicate-substring removal --------------------------

def windows_col(text: Column, k: int) -> Column:
    """ALL overlapping ``k``-word windows of ``text`` (1-based start
    positions; documents shorter than k words contribute their whole
    text as the single window).  The split is lambda-bound
    (:func:`bind_once`) so the iterating slice lambda cannot
    re-tokenize the document per window."""
    words = F.split(text, " ")

    def over(w: Column) -> Column:
        n = F.size(w)
        return F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(w, i, k))),
        ).otherwise(F.array(F.concat_ws(" ", w)))

    return bind_once(words, over)


def drop_duplicate_windows(docs: DataFrame, k: int = 10,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           passthrough_cols: tuple[str, ...] = ()
                           ) -> DataFrame:
    """Exact duplicated-SUBSTRING removal via overlapping windows —
    the Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better") style pass that :func:`drop_duplicate_spans`'
    fixed non-overlapping chunks approximate: because every k-word
    window is examined, a duplicated run is caught at EVERY alignment,
    not just when it happens to line up with a chunk boundary.

    Rule: window occurrence (doc, pos) is the OWNER of its window text
    iff it is the global minimum (doc, pos) for that text; a word
    survives iff at least one window covering it is an owner.  A
    verbatim re-post of a paragraph therefore vanishes from every doc
    but the first (its interior words are covered only by loser
    windows), while words at the junction between copied and original
    text survive through the straddling unique windows — and a fully
    novel document is untouched (every window is its own owner).
    Returns ``(id, *passthrough, clean_text, n_words, n_kept)``.

    Scale shape (the 100 TB path):

    * The ownership decision exchanges ONLY ``(unhex(md5(window)),
      id, pos)`` — 16-byte binary digests, map-side partial
      ``min(struct(id, pos))`` — window TEXT never shuffles.  The
      explode is L rows/doc (vs L/k for spans): the k× narrower rows
      are the price of alignment-free detection; pick spans when the
      corpus is too hot for it.
    * Winners expand to covered word indices (``sequence(pos,
      pos+k-1)`` ints, deduped map-side by ``collect_set``) and ride
      ONE id-keyed reassembly join back onto the source — the wide
      text column crosses exactly that one exchange, zero if the
      source is bucketed by id.
    * A boilerplate window repeated 10^9 times is ONE group whose
      partial mins combine map-side — no hot-key blowup.
    """
    wins = windows_col(F.col(text_col), k)
    narrow = docs.select(
        F.col(id_col), F.posexplode(wins).alias("_p0", "_win")
    ).select(id_col, "_p0", F.unhex(F.md5("_win")).alias("_h"))
    owner = narrow.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col).alias("i"),
                       F.col("_p0").alias("x"))).alias("_own"))
    winners = (narrow.join(owner, "_h")
               .filter((F.col(id_col) == F.col("_own.i"))
                       & (F.col("_p0") == F.col("_own.x")))
               .select(id_col, "_p0"))
    covered = (winners.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("_p0") + 1,
                             F.col("_p0") + k)).alias("_i"))
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("_i")).alias("_kidx")))
    rebuilt = docs.join(covered, id_col, "left")
    words = F.split(F.col(text_col), " ")

    def kept_of(w: Column) -> Column:
        idx = F.filter(
            F.coalesce(F.col("_kidx"), F.array().cast("array<int>")),
            lambda i: i <= F.size(w))
        return F.struct(
            F.array_join(
                F.transform(idx, lambda i: F.element_at(w, i)),
                " ").alias("txt"),
            F.size(idx).cast("long").alias("nk"))

    # the struct leaves the row through an inline(array(struct))
    # Generate barrier: reading two fields off the bound struct
    # directly would let CollapseProject re-evaluate the whole
    # reassembly pipeline once per referenced field (the measured
    # bind_once failure mode)
    kept = bind_once(words, kept_of)
    exploded = rebuilt.select(
        F.col(id_col), *passthrough_cols,
        F.size(F.split(F.col(text_col), " ")).cast("long")
        .alias("n_words"),
        F.inline(F.array(kept)))
    return exploded.select(
        F.col(id_col), *passthrough_cols,
        F.col("txt").alias("clean_text"), F.col("n_words"),
        F.col("nk").alias("n_kept"))
