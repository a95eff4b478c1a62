"""Batch crawl rounds: schedule → fetch → discover → dedup → commit.

Each round is one deterministic batch job over the frontier state; all
state lives in per-round parquet checkpoint directories (the sandbox
stand-in for Iceberg snapshots — same append/snapshot semantics, and
the read-back between rounds is the lineage barrier that makes every
round resumable):

    state_dir/round=00042/
        frontier/   LIVE PENDING rows only (FRONTIER_SCHEMA).  Fetched
                    history is NOT rewritten here: it already lives in
                    the append-only per-round scheduled/ logs (Iceberg
                    flavor: one live table + immutable round snapshots).
                    Rewriting cumulative fetched rows every round made
                    checkpoint I/O grow with crawl age — the worst-
                    scaling phase of the round (measured 1.6x from 2->8
                    cores on one disk)
        seen/       append-only DELTA of the exact URL-seen table —
                    only this round's new (surt_key, pid); the
                    cumulative set is the union of all rounds
                    (loop.seen_table), Iceberg-append semantics
        filters/    one row per filter partition (SEEN_FILTER_SCHEMA):
                    the serialized blob, its int64 word array and
                    geometry (n_bits, k), and n_items
        scheduled/  this round's fetch batch, with per-host positions
        metrics/    per-partition lineage: candidates in/out, filter
                    cardinality, plus round totals (partition_id = -1)

Round pipeline (all DataFrame ops; with the default native probe the
only Python left in a round is the Bloom fold's scatter in
seen.fold_keyed — once per round, one task at bench sizing):

1. pending frontier → robots filter (broadcast) → per-host top-k
   (priority window) = the **scheduled batch** (crawl order =
   (host, depth, surt_key) total order — parallelism-invariant).
2. "fetch": join the batch against the web pages table on surt_key
   (at scale: both sides bucketed by surt hash → co-located join).
3. outlink discovery: explode the fetched pages' outlinks, derive
   (surt, host, depth+1), dedup within the round by min-depth.
4. URL-seen: Bloom maybe-seen flag per host-hash partition, exact
   anti-join for the maybe minority (seen.py) → truly-new URLs.  The
   probe's (pid, h1, h2) hashes ride along to the fold, the seen
   delta and the metrics: each key is hashed once per round.
5. commit: frontier' = (frontier ∖ batch→fetched) ∪ new-pending;
   seen' += new; filters' fold new keys; metrics row per partition.

State is read back with its known schema (schema.py), never inferred:
inference is one Spark job per table per round.
"""

from __future__ import annotations

import functools
import glob
import os
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import FRONTIER_SCHEMA, SEEN_FILTER_SCHEMA, SEEN_SCHEMA
from . import politeness, priority, seen as seenmod
from .webgraph import robots_rules

# underscore, not 'round=': a key=value dir name would trigger Spark's
# partition-column inference and collide with the 'round' data column
_ROUND_FMT = "round_%05d"


@dataclass(frozen=True)
class CrawlConfig:
    n_partitions: int = seenmod.DEFAULT_PARTITIONS
    filter_capacity: int = seenmod.DEFAULT_CAPACITY
    filter_fpr: float = seenmod.DEFAULT_FPR
    # URL-seen filter family: 'bloom' (default) or 'cuckoo' (supports
    # deletion; see frontier/cuckoo.py).  Both are exactness-neutral —
    # false positives are verified against the exact seen table and
    # neither produces false negatives, so crawl order is
    # byte-identical across families (tested); the choice is a
    # space/probe-cost/deletability trade.
    filter_kind: str = "bloom"
    max_depth: int = 12
    salt_threshold: int | None = None  # hot-host pre-cap (priority.py)
    # Bloom probe strategy (seen.flag_maybe_seen): 'auto' (default)
    # size-gates on the configured filter geometry — 'native'
    # (Catalyst expression over broadcast filter words, zero Python)
    # while total filter state fits seen.NATIVE_BROADCAST_MAX_BYTES,
    # else 'cogroup' (per-pid shuffle, each task holds one blob: the
    # 10^10-key path where ~12 GB of filter state must never be
    # broadcast).  Explicit 'native'/'cogroup' force a strategy.
    # Resolution is pure driver-side arithmetic (the loop passes
    # seen.filter_state_bytes) — no extra job per round.
    probe_strategy: str = "auto"
    # Bloom FOLD strategy (seen.update_filters): 'native' explodes the
    # k probe positions JVM-side and bit_or-aggregates words (Python
    # sees only the n_partitions final blob serializations); 'pandas'
    # is the cogroup/numpy fold.  Byte parity between the two is
    # property-tested.
    fold_strategy: str = "native"


def _round_dir(state_dir: str, rnd: int) -> str:
    return os.path.join(state_dir, _ROUND_FMT % rnd)


def seen_table(spark: SparkSession, state_dir: str,
               upto_round: int | None = None) -> DataFrame:
    """The cumulative URL-seen set: union of the per-round append-only
    deltas (Iceberg-append semantics — each round commits ONLY its new
    keys; nothing is rewritten).  ``upto_round`` bounds the snapshot."""
    last = latest_round(state_dir) if upto_round is None else upto_round
    paths = [os.path.join(_round_dir(state_dir, r), "seen")
             for r in range(0, last + 1)
             if os.path.isdir(os.path.join(_round_dir(state_dir, r),
                                           "seen"))]
    return spark.read.schema(SEEN_SCHEMA).parquet(*paths)


def _read_filters(spark: SparkSession, path: str) -> DataFrame:
    """A filters checkpoint, read with SEEN_FILTER_SCHEMA.  The parquet
    footer's column names are checked first, driver-side: a typed read
    would fill a missing column with nulls, and a null word array
    probes as "not seen" — a pre-v2 (blob-only) checkpoint must be
    refused, never probed with the current position arithmetic (Bloom
    false NEGATIVES: re-enqueued duplicates).  The blob itself also
    carries a format magic (bloom.py) for the Python paths."""
    import pyarrow.parquet as pq

    parts = sorted(glob.glob(os.path.join(path, "part-*")))
    have = set(pq.read_schema(parts[0]).names) if parts else set()
    missing = set(SEEN_FILTER_SCHEMA.names) - have
    if missing:
        raise ValueError(
            f"incompatible filter checkpoint at {path}: missing "
            f"columns {sorted(missing)} — written by an older build; "
            "rebuild the filters from the exact seen table "
            "(seen.update_filters over loop.seen_table) before resuming")
    return spark.read.schema(SEEN_FILTER_SCHEMA).parquet(path)


def latest_round(state_dir: str) -> int:
    """Highest committed round (has metrics/_SUCCESS), or -1."""
    best = -1
    if not os.path.isdir(state_dir):
        return best
    for name in os.listdir(state_dir):
        if name.startswith("round_"):
            rnd = int(name.split("_", 1)[1])
            if os.path.exists(os.path.join(
                    state_dir, name, "metrics", "_SUCCESS")):
                best = max(best, rnd)
    return best


def _write_concurrent(rnd_dir: str, named: list[tuple[str, DataFrame]],
                      plan=None):
    """Submit the independent state writes from one thread each: the
    per-job fixed cost (submission, task scheduling, output commit) is
    serial time a 4x-core level cannot parallelize away when jobs run
    back-to-back, but concurrent jobs fill each other's idle task
    slots.  Content is unaffected — each write is the same
    deterministic frame — so the crawl-order digest is unchanged.

    ``plan()``, if given, runs on the calling thread while the writes
    run — driver-side DataFrame building (py4j round trips, analysis)
    overlaps the executors' work — and its result is returned."""
    from concurrent.futures import ThreadPoolExecutor

    def one(item: tuple[str, DataFrame]) -> None:
        sub, df = item
        df.write.mode("overwrite").parquet(os.path.join(rnd_dir, sub))

    with ThreadPoolExecutor(max_workers=len(named)) as ex:
        futures = [ex.submit(one, item) for item in named]
        planned = plan() if plan is not None else None
        for f in futures:   # every write's exception propagates
            f.result()
    return planned


def _observed_count(df: DataFrame, obs_name: str):
    """Attach a count Observation to a frame about to be written.
    Returns (observed_df, getter); the getter falls back to None when
    the observation is unavailable (a zero-task action — empty input —
    makes Observation.get raise)."""
    from pyspark.sql import Observation

    obs = Observation(obs_name)
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"))

    def get():
        try:
            return int(obs.get["n"])
        except Exception:
            return None

    return observed, get


def init_state(spark: SparkSession, seeds: DataFrame, state_dir: str,
               cfg: CrawlConfig = CrawlConfig()) -> None:
    """Round 0 checkpoint: seeds pending, seeds marked seen."""
    # the frontier's known schema, so every round reads it back typed
    seeds = seeds.select(*[F.col(f.name).cast(f.dataType)
                           for f in FRONTIER_SCHEMA])
    keys = seenmod.with_hash_cols(
        seeds.select("surt_key"), cfg.n_partitions)
    seen_tbl = keys.select("surt_key", "pid")
    filters = seenmod.fold_keyed(
        keys, seenmod.empty_filters(spark, cfg.n_partitions,
                                    cfg.filter_capacity,
                                    cfg.filter_fpr,
                                    kind=cfg.filter_kind),
        cfg.n_partitions, cfg.filter_capacity, cfg.filter_fpr,
        strategy=cfg.fold_strategy, kind=cfg.filter_kind)
    scheduled = seeds.limit(0).withColumn(
        "host_pos", F.lit(0)).withColumn("round", F.lit(-1))
    # the seed count rides the frontier write as an Observation — a
    # standalone seeds.count() was a full extra job over the seeds DAG
    # (pure fixed cost at every parallelism level)
    rnd_dir = _round_dir(state_dir, 0)
    seeds_obs, get_n = _observed_count(seeds, "seeds_init")
    _write_concurrent(rnd_dir, [
        ("frontier", seeds_obs), ("seen", seen_tbl),
        ("filters", filters), ("scheduled", scheduled)])
    n_seeds = get_n()
    if n_seeds is None:   # empty-input action: observation absent
        n_seeds = spark.read.parquet(
            os.path.join(rnd_dir, "frontier")).count()
    # one row, built natively: createDataFrame of a Python list runs a
    # Python-worker job just to deserialize it
    metrics = spark.range(0, 1, 1, 1).select(
        F.lit(-1).alias("round"), F.lit(-1).alias("partition_id"),
        F.lit(n_seeds).cast("long").alias("candidates_in"),
        *[F.lit(0).cast("long").alias(c)
          for c in ("maybe_seen", "new_keys", "filter_items")])
    metrics.write.mode("overwrite").parquet(
        os.path.join(rnd_dir, "metrics"))


@dataclass(frozen=True, eq=False)
class _Round:
    """A planned round: steps 1-4 built, their shared frames registered
    for caching, nothing run yet.  ``_commit_round`` runs step 5."""
    spark: SparkSession
    state_dir: str
    rnd: int
    cfg: CrawlConfig
    pending: DataFrame
    batch: DataFrame
    scheduled: DataFrame
    flagged: DataFrame
    new: DataFrame
    filters: DataFrame

    def release(self) -> None:
        for df in (self.batch, self.flagged, self.new):
            df.unpersist()


def _plan_round(spark: SparkSession, web: DataFrame, state_dir: str,
                rnd: int, rules: DataFrame | None,
                cfg: CrawlConfig) -> _Round:
    """Steps 1-4 of round `rnd` over round `rnd-1`'s committed state
    files.  Builds DataFrames only: it submits no Spark job."""
    prev = _round_dir(state_dir, rnd - 1)
    filters = _read_filters(spark, os.path.join(prev, "filters"))
    frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(
        os.path.join(prev, "frontier"))
    seen_tbl = seen_table(spark, state_dir, upto_round=rnd - 1)
    rules = rules if rules is not None else robots_rules(spark)

    # 1. schedule
    pending = frontier.filter(F.col("state") == "pending")
    polite = politeness.apply_robots(pending, rules)
    batch = priority.select_batch(
        polite, salt_threshold=cfg.salt_threshold).persist()
    scheduled = batch.select(
        "surt_key", "url", "host", "host_rank", "depth",
        "discovered_round", F.lit("pending").alias("state"),
        "host_pos").withColumn("round", F.lit(rnd))

    # 2. fetch (inner = 200 OK only).  No broadcast hint: with AQE on,
    # Spark converts the join to broadcast at runtime exactly when the
    # batch is small enough, and keeps the shuffle join (surt-bucketed
    # co-location at real scale) otherwise; a forced broadcast of a
    # million-row round is a serial driver-side collect+build
    fetched_pages = batch.select("surt_key", "depth").join(web, "surt_key")

    # 3. discover outlinks
    discovered = (
        fetched_pages.select(
            F.col("depth"),
            F.explode(F.arrays_zip(
                F.col("outlinks").alias("url"),
                F.col("outlink_surts").alias("surt_key"))).alias("l"))
        .select(
            F.col("l.surt_key").alias("surt_key"),
            F.col("l.url").alias("url"),
            (F.col("depth") + 1).alias("depth"))
        .filter(F.col("depth") <= cfg.max_depth)
        .withColumn("host",
                    F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1))
        .withColumn("host_rank",
                    F.lit(1.0) / (F.lit(1.0) + F.regexp_extract(
                        "host", r"site(\d+)\.", 1).cast("double")))
        .groupBy("surt_key")
        .agg(F.min("depth").alias("depth"),
             F.first("url").alias("url"),        # url ≡ f(surt): constant
             F.first("host").alias("host"),      # per group, so first()
             F.first("host_rank").alias("host_rank"))  # is deterministic
    )

    # 4. URL-seen (Bloom prefilter + exact anti-join); the probe keeps
    # each candidate's (pid, h1, h2) for the fold, seen delta and
    # metrics below.
    # k is fully determined by the config's filter sizing — passing it
    # saves the probe's per-round driver peek job (the expression still
    # guards per-row against differently-sized resumed filters)
    expected_k = (seenmod.BloomFilter.sized_for(
        cfg.filter_capacity, cfg.filter_fpr).k
        if cfg.filter_kind == "bloom" else None)
    flagged = seenmod.probe_keyed(
        discovered, filters, cfg.n_partitions,
        strategy=cfg.probe_strategy, static_k=expected_k,
        kind=cfg.filter_kind,
        # configured geometry -> 'auto' resolves with zero Spark jobs
        state_bytes=seenmod.filter_state_bytes(
            cfg.filter_kind, cfg.filter_capacity, cfg.filter_fpr,
            cfg.n_partitions)).persist()
    definitely_new = flagged.filter(~F.col("maybe_seen"))
    verified_new = (
        flagged.filter(F.col("maybe_seen"))
        .join(seen_tbl.select("surt_key"), "surt_key", "left_anti")
    )
    new = (
        definitely_new.unionByName(verified_new).drop("maybe_seen")
        .persist()
    )
    return _Round(spark, state_dir, rnd, cfg, pending, batch, scheduled,
                  flagged, new, filters)


def _commit_round(r: _Round, plan_next=None) -> tuple[dict, _Round | None]:
    """Step 5: the four state writes, then the metrics write whose
    ``_SUCCESS`` marks the round committed.  ``plan_next()``, if given,
    plans the next round while the metrics are written — it reads only
    the state the four writes just finished — and is returned with the
    summary.  The round's cached frames are released either way."""
    try:
        new_frontier_rows = r.new.select(
            "surt_key", "url", "host", "host_rank",
            F.col("depth").cast("int").alias("depth"),
            F.lit(r.rnd).alias("discovered_round"),
            F.lit("pending").alias("state"))
        # pending-only live table: this round's batch leaves the
        # frontier (its rows are already committed to scheduled/), new
        # URLs enter
        frontier_next = (
            r.pending.join(r.batch.select("surt_key"), "surt_key",
                           "left_anti")
            .unionByName(new_frontier_rows)
        )
        # append-only: this round's seen dir holds ONLY the new keys
        seen_delta = r.new.select("surt_key", "pid")
        # not persisted: only the filters write reads the fold (the
        # metrics count from frames the round already holds), and under
        # adaptive execution a persisted frame costs its own
        # cache-building job
        filters_next = seenmod.fold_keyed(
            r.new, r.filters, r.cfg.n_partitions, r.cfg.filter_capacity,
            r.cfg.filter_fpr, strategy=r.cfg.fold_strategy,
            kind=r.cfg.filter_kind)

        # summary counters ride the commit writes as Observations — no
        # post-commit read-back jobs
        scheduled_obs, get_scheduled = _observed_count(
            r.scheduled, f"scheduled_{r.rnd}")
        seen_obs, get_new = _observed_count(seen_delta, f"seen_{r.rnd}")

        # the four independent state writes are submitted concurrently
        # (shared upstream stages are persisted, so the writers reuse —
        # not recompute — batch/flagged/new)
        rnd_dir = _round_dir(r.state_dir, r.rnd)
        metrics = _write_concurrent(rnd_dir, [
            ("frontier", frontier_next), ("seen", seen_obs),
            ("filters", filters_next), ("scheduled", scheduled_obs)],
            plan=lambda: _metrics_table(r.flagged, r.new, r.filters,
                                        r.rnd))
        summary = {"round": r.rnd, "scheduled": get_scheduled(),
                   "new_urls": get_new()}
        # empty-input action: observation absent
        for key, sub in (("scheduled", "scheduled"), ("new_urls", "seen")):
            if summary[key] is None:
                summary[key] = r.spark.read.parquet(
                    os.path.join(rnd_dir, sub)).count()

        # metrics last: its _SUCCESS is the round's commit marker.
        # coalesce(1): ~n_partitions rows that would otherwise inherit
        # shuffle-partition fan-out (task launch + file create per
        # partition: pure per-round fixed cost)
        planned = []

        def plan():
            planned.append(plan_next())
            return planned[0]

        try:
            nxt = _write_concurrent(
                rnd_dir, [("metrics", metrics.coalesce(1))],
                plan=plan if plan_next is not None else None)
        except BaseException:
            for p in planned:   # planned, never to be committed
                p.release()
            raise
        return summary, nxt
    finally:
        r.release()


def _metrics_table(flagged: DataFrame, new: DataFrame,
                   filters: DataFrame, rnd: int) -> DataFrame:
    """Per-partition lineage of a round, as ONE aggregation over frames
    the round already holds: the persisted ``flagged`` (≡ discovered +
    maybe_seen — never the discover DAG, whose recomputation would
    re-run the fetch join and outlink explode) and ``new``, plus the
    previous filters' ``n_items``.  ``filter_items`` is the previous
    count plus the partition's new keys — what every fold commits
    (each ``add_many`` adds its batch size) — so the metrics never
    wait on, re-run or re-read the fold."""
    zero, one = F.lit(0), F.lit(1)
    counts = (
        filters.select(
            F.col("partition_id").alias("pid"),
            zero.alias("candidates_in"), zero.alias("maybe_seen"),
            zero.alias("new_keys"),
            F.coalesce("n_items", zero).alias("filter_items"))
        .unionByName(new.select(
            "pid", zero.alias("candidates_in"), zero.alias("maybe_seen"),
            one.alias("new_keys"), one.alias("filter_items")))
        .unionByName(flagged.select(
            "pid", one.alias("candidates_in"),
            F.col("maybe_seen").cast("int").alias("maybe_seen"),
            zero.alias("new_keys"), zero.alias("filter_items")))
    )
    return counts.groupBy("pid").agg(
        *[F.sum(c).alias(c) for c in ("candidates_in", "maybe_seen",
                                      "new_keys", "filter_items")]
    ).select(F.lit(rnd).alias("round"),
             F.col("pid").alias("partition_id"), "candidates_in",
             "maybe_seen", "new_keys", "filter_items")


def run_crawl(spark: SparkSession, web: DataFrame, state_dir: str,
              n_rounds: int, seeds: DataFrame | None = None,
              rules: DataFrame | None = None,
              cfg: CrawlConfig = CrawlConfig()) -> list[dict]:
    """Run/resume a crawl for up to `n_rounds` additional rounds.
    Fresh state dirs need `seeds`; existing ones resume from the last
    committed round (partial round output is simply overwritten)."""
    start = latest_round(state_dir)
    if start < 0:
        if seeds is None:
            raise ValueError("fresh crawl needs seeds")
        init_state(spark, seeds, state_dir, cfg)
        start = 0
    # Prepare the web once per call: repartition by surt_key, sort
    # within partitions and persist, so each round's fetch join finds
    # its big side's distribution and ordering in the cache instead of
    # exchanging and sorting the whole web every round.  This stands in
    # for the real-scale design (a surt-bucketed pages table, where the
    # exchange happens zero times); content and crawl order are
    # unchanged.  DISK_ONLY: the prepared web is a full-scan-per-round
    # table — the serialized columnar form on executor-local disk is
    # the honest cluster pattern (a bucketed table scan) and keeps the
    # multi-GB cache out of the execution heap, where it competes
    # with the round's joins exactly when parallelism is highest
    web = (web.repartition("surt_key")
           .sortWithinPartitions("surt_key")
           .persist(StorageLevel.DISK_ONLY))
    out = []
    last = start + n_rounds
    nxt = None
    try:
        if n_rounds > 0:
            nxt = _plan_round(spark, web, state_dir, start + 1, rules, cfg)
        while nxt is not None:
            # each round's successor is planned while its metrics (the
            # commit marker) are written: the driver-side planning
            # overlaps that last write instead of following it
            rnd = nxt.rnd
            summary, nxt = _commit_round(nxt, functools.partial(
                _plan_round, spark, web, state_dir, rnd + 1, rules, cfg)
                if rnd < last else None)
            out.append(summary)
            if summary["scheduled"] == 0:
                break  # frontier drained
    finally:
        if nxt is not None:
            nxt.release()
        web.unpersist()
    return out


#: per-fold key budget for rebuild_filters: a round's delta larger
#: than this is split into disjoint hash chunks before folding, so one
#: pathological round (a huge seed injection) cannot produce a single
#: oversized collect_list/add_many fold.  5M keys x k~7 positions /
#: n_partitions stays comfortably inside a task at any sane config.
REBUILD_MAX_FOLD_KEYS = 5_000_000


def rebuild_filters(spark: SparkSession, state_dir: str,
                    cfg: CrawlConfig = CrawlConfig(),
                    max_fold_keys: int = REBUILD_MAX_FOLD_KEYS
                    ) -> None:
    """Recovery path for an incompatible filters checkpoint (the
    fail-fast in ``_read_filters`` / ``bloom.from_bytes``): re-derive
    the latest committed round's Bloom filters from the EXACT
    cumulative seen table and overwrite that round's ``filters`` dir,
    after which ``run_crawl`` resumes normally.

    The seen table is the source of truth — append-only per-round
    deltas of genuinely-new keys — so the rebuilt filters hold exactly
    the key set the incremental folds held (the fold is a bit-OR:
    order-independent, and ``n_items`` counts the same distinct keys),
    while the blob geometry/layout follows the CURRENT build's sizing.
    Never probe an old-layout blob with new position arithmetic: bits
    land elsewhere, probes return false NEGATIVES, and already-seen
    URLs re-enqueue silently — rebuilding from the exact table is the
    only safe migration.

    The rebuild folds ROUND BY ROUND, mirroring the incremental folds
    it replaces: each fold's per-pid ``collect_list`` is bounded by
    that round's delta (new_keys x k / n_partitions positions), never
    by the whole crawl — folding the cumulative table in one pass
    would materialize every position of a large crawl in single
    aggregation rows and OOM a task at exactly the state size that
    needs recovery.  A single round whose delta exceeds
    ``max_fold_keys`` (a huge seed injection) is further split into
    disjoint ``pmod(xxhash64(key), n_chunks)`` chunks, so EVERY fold
    is bounded — for Bloom the bit-OR makes the chunked result
    byte-identical to the unchunked one (tested); for cuckoo the key
    SET is identical (probe semantics unchanged — no false negatives)
    though eviction order, and hence exact blob bytes, may differ.
    Each step materializes to a scratch dir so the next fold reads a
    bounded parquet base instead of stacking lineage."""
    import math
    import shutil

    rnd = latest_round(state_dir)
    if rnd < 0:
        raise ValueError(f"no committed rounds under {state_dir}")
    filters = seenmod.empty_filters(spark, cfg.n_partitions,
                                    cfg.filter_capacity, cfg.filter_fpr,
                                    kind=cfg.filter_kind)
    scratch = os.path.join(state_dir, "_rebuild_tmp")
    shutil.rmtree(scratch, ignore_errors=True)
    step = 0
    for r in range(0, rnd + 1):
        seen_dir = os.path.join(_round_dir(state_dir, r), "seen")
        if not os.path.isdir(seen_dir):
            continue
        keys = spark.read.parquet(seen_dir).select("surt_key")
        # one count job per round — recovery path, not the hot loop
        n_chunks = max(1, math.ceil(keys.count() / max_fold_keys))
        for c in range(n_chunks):
            chunk = keys if n_chunks == 1 else keys.filter(
                F.pmod(F.xxhash64("surt_key"),
                       F.lit(n_chunks)) == c)
            folded = seenmod.update_filters(
                chunk, filters, cfg.n_partitions, cfg.filter_capacity,
                cfg.filter_fpr, strategy=cfg.fold_strategy,
                kind=cfg.filter_kind)
            tmp = os.path.join(scratch, f"step_{step:05d}")
            folded.write.mode("overwrite").parquet(tmp)
            filters = spark.read.parquet(tmp)
            step += 1
    filters.write.mode("overwrite").parquet(
        os.path.join(_round_dir(state_dir, rnd), "filters"))
    shutil.rmtree(scratch, ignore_errors=True)


def crawl_order(spark: SparkSession, state_dir: str) -> DataFrame:
    """The committed crawl order across all rounds: the determinism
    artifact compared across parallelism levels."""
    sched = spark.read.parquet(
        os.path.join(state_dir, "round_*", "scheduled"))
    return sched.select("round", "host", "depth", "surt_key", "url",
                        "host_pos").orderBy("round", "host", "depth",
                                            "surt_key")
