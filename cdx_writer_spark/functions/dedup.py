"""Deduplication operators for web-text corpora.

* ``exact_dedup`` is one hash-partitioned groupBy on a 16-byte digest
  (map-side partial aggregation; only the digest + id shuffle).
* ``drop_duplicate_spans`` is the C4/Dolma-style span pass
  ``jobs/corpus_job.py`` runs: the first-occurrence decision exchanges
  only span digests.
* ``bits_near_pairs`` enumerates near-duplicate pairs over any
  fixed-width bit-string signature (perceptual image/audio hashes):
  band buckets, then Hamming verification of the surviving DISTINCT
  candidate pairs only.
* ``connected_components`` closes a pair list into clusters.

Pair-enumeration blowup control (the classic near-dup failure at
Common-Crawl boilerplate rates — a cluster of k byte-identical
signatures makes one bucket emit O(k²) candidates):

1. **Exact pre-collapse**: byte-identical signatures are collapsed to
   one representative *before* any banding (``_exact_groups``), so the
   band join never sees the duplicate cluster.  Intra-cluster pairs are
   emitted directly from the group membership (score is exact by
   construction: Hamming 0), and representative-level verified pairs
   are expanded back to member pairs — output-sized work, with no wide
   payloads in any of those joins.
2. **Narrow band exchange**: the banding shuffle carries only
   (band, bucket, gkey); signatures are re-joined for the *surviving
   distinct candidate pairs* only, never multiplied through the
   exchange once per band.
3. **Opt-in bucket cap** (``max_bucket_size``): residual oversized
   buckets can be dropped, loudly — the count of dropped buckets is
   logged, because a silent cap would masquerade as full coverage.
   Off by default: capping changes the output, so the oracle-checked
   driver queries never enable it.

At 100 TB the groupBy keys are uniformly-distributed hashes, so no
salting is needed; AQE handles residual bucket skew in the band join.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import tokens_col

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


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` exactly once per row and hand it to ``fn`` as a
    bound lambda VARIABLE (single-element transform trick).

    Catalyst's CollapseProject + ColumnPruning freely inline a column's
    defining expression into every consumer — including into
    higher-order-function lambda bodies, where the inlined argument is
    re-evaluated on EVERY iteration (a 32-hash signature sliced per
    band re-tokenized each document 32x: 93s vs 5s per pass at
    sf0.1).  A lambda-bound
    variable cannot be inlined, so this is the load-bearing
    materialization barrier for every expensive expression referenced
    inside an iterating lambda."""
    return F.transform(F.array(col), fn)[0]


# --- pair-enumeration plumbing (bits_near_pairs) --------------------------

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
    """Unpersist every frame cached by :func:`bits_near_pairs`,
    :func:`connected_components` and the corpus queries since the last
    release; returns how many
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
    expensive exprs in a select ABOVE this join, otherwise the expr is
    evaluated for every rep row anyway.

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
    the constant exact score (Hamming 0).
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
                            max_bucket_size: int | None) -> DataFrame:
    """Distinct candidate (gkey_a < gkey_b) pairs sharing >= 1 bucket.
    Only the narrow (keys..., gkey) projection moves through the
    self-join and the dedup exchange (blowup control #2)."""
    narrow = _cap_buckets(banded.select(*keys, "gkey"),
                          keys, max_bucket_size)
    a, b = narrow.alias("a"), narrow.alias("b")
    cond = (F.col("a.gkey") < F.col("b.gkey"))
    for k in keys:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    return (
        a.join(b, cond)
        .select(F.col("a.gkey").alias("gkey_a"),
                F.col("b.gkey").alias("gkey_b"))
        .dropDuplicates(["gkey_a", "gkey_b"])
    )


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


def bits_near_pairs(df: DataFrame, bits_col: str, id_col: str = "doc_id",
                    bit_len: int = 64, max_hamming: int = 2,
                    n_bands: int = 4,
                    max_bucket_size: int | None = None,
                    verify_broadcast_limit: int | None = None) -> DataFrame:
    """Near-dup pairs ``(id_a, id_b, hamming)`` over ANY precomputed
    fixed-width bit-string column — perceptual image dHashes, audio
    fingerprints, any 0/1-string signature: exact pre-collapse, band
    buckets, verify on survivors (module docstring), so one pair engine
    serves every perceptual-hash modality.

    Banding: ``n_bands`` equal substrings; the pigeonhole bound
    guarantees full recall for Hamming <= ``n_bands - 1``
    (``max_hamming`` above that trades recall).  Rows
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
    after near-dup pair generation that turns PAIRS into duplicate
    CLUSTERS, so a corpus build can keep exactly
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
