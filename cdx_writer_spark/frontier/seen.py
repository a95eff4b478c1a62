"""Partitioned URL-seen set: Bloom fast path + exact ground truth.

Semantics (exact, by construction): a URL is *seen* once it has ever
been enqueued into the frontier (seed or discovered outlink).  The
authoritative seen-set is a parquet/Iceberg table of SURT keys hash-
partitioned by ``pmod(xxhash64(surt_key), P)``; each partition also
maintains a :class:`~.bloom.BloomFilter` blob checkpointed alongside.

Probe flow for a batch of discovered candidates:

1. JVM-side: compute ``(pid, h1, h2)`` columns (xxhash64 — no Python).
2. ``flag_maybe_seen`` flags each candidate — by default with a
   PURE-CATALYST probe (broadcast the filters' int64 word arrays,
   ``element_at`` + ``shiftright`` bit tests; no Python, no shuffle),
   falling back to a per-pid cogroup at filter-state sizes past the
   broadcast budget → boolean
   ``maybe_seen``.  Definitely-new rows (the vast majority in a
   growing crawl) **skip the anti-join shuffle entirely**.
3. Only the maybe-seen minority anti-joins the exact seen table
   (co-partitioned on pid → no full-table shuffle at scale), turning
   Bloom false positives back into new URLs — output is exact, the
   filter only shrinks the expensive join's probe side.
4. ``update_filters`` folds the truly-new keys into the blobs
   (cogroup again) and the caller appends them to the exact table.

At 10^10 keys / P=4096 partitions each blob sizes for ~2.4M keys →
~2.9 MB at 1% FPR: comfortably broadcast-free, one blob per task.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, BinaryType, LongType,
                               StructField, StructType)

from ..schema import SEEN_FILTER_SCHEMA
from .bloom import BloomFilter
from .cuckoo import CuckooFilter

DEFAULT_PARTITIONS = 16
DEFAULT_CAPACITY = 250_000   # per-partition sizing hint for new blobs
DEFAULT_FPR = 0.01

#: size gate for the native (broadcast) probe: strategy='auto'
#: broadcasts the filter word arrays only while total filter state
#: fits this budget, and falls back to the per-pid cogroup past it.
#: The repo's documented 10^10-key sizing (4096 partitions x ~2.9 MB
#: ≈ 12 GB of filter state) must NEVER be broadcast — that is an
#: executor/driver OOM — and with this gate the default config picks
#: cogroup there without any manual CrawlConfig choice.  256 MiB is
#: conservative against Spark's broadcast memory accounting (the words
#: are also pinned on every executor).
NATIVE_BROADCAST_MAX_BYTES = 256 << 20

_CAND_COLS = ["surt_key", "url", "host", "host_rank", "depth"]
_HASH_COLS = ["pid", "h1", "h2"]
_FLAG_SCHEMA = ("surt_key string, url string, host string, "
                "host_rank double, depth int, pid int, h1 long, h2 long, "
                "maybe_seen boolean")

_COLUMNS: dict = {}


def _memo(key: tuple, build):
    """``build()`` once per (key, active SparkContext), the pattern of
    ``job._projection``: the probe and fold expressions are hundreds of
    py4j calls that yield the same unresolved Columns every round.
    Pandas-UDF Columns capture the context that created them, so a
    stopped and restarted session rebuilds."""
    full = (key, SparkContext._active_spark_context)
    cols = _COLUMNS.get(full)
    if cols is None:
        if any(k[1] is not full[1] for k in _COLUMNS):
            _COLUMNS.clear()  # drop a stopped context's Columns
        cols = _COLUMNS[full] = build()
    return cols


def _filter_from_bytes(blob: bytes):
    """Deserialize a filter blob by its format magic — Bloom (BLF2) or
    cuckoo (CKF1).  Both classes expose the same ``contains_many`` /
    ``add_many`` / ``to_longs`` surface, so the cogroup probe and the
    Python folds are filter-kind-agnostic: a checkpoint directory
    self-describes which filter family wrote it."""
    if blob[:4] == b"CKF1":
        return CuckooFilter.from_bytes(blob)
    return BloomFilter.from_bytes(blob)


def _sized_filter(kind: str, capacity: int, fpr: float):
    if kind == "cuckoo":
        return CuckooFilter.sized_for(capacity)
    return BloomFilter.sized_for(capacity, fpr)


def filter_state_bytes(kind: str, capacity: int, fpr: float,
                       n_partitions: int) -> int:
    """Total probe-side filter state in bytes — pure driver-side
    arithmetic on the configured geometry (NO Spark job): what the
    native strategy would broadcast (one int64 word array per
    partition).  Callers that size their filters (the crawl loop)
    pass this to ``flag_maybe_seen`` so 'auto' resolution is free."""
    return len(_sized_filter(kind, capacity, fpr).to_longs()) \
        * 8 * n_partitions


def resolve_probe_strategy(state_bytes: int,
                           max_broadcast_bytes: int =
                           NATIVE_BROADCAST_MAX_BYTES) -> str:
    """'native' while the filter words fit the broadcast budget, else
    the per-pid 'cogroup' (each task holds exactly one blob)."""
    return ("native" if state_bytes <= max_broadcast_bytes
            else "cogroup")


def _native_cuckoo_probe_col(h1, h2, bits_longs, n_bits):
    """The cuckoo probe as a pure Catalyst expression — MUST mirror
    CuckooFilter.contains_many exactly (all arithmetic is int64
    two's-complement ``&``/``^``/``>>`` on both sides, so probes are
    bit-identical; property-tested).  Geometry is read per row from
    ``n_bits`` (= n_buckets * 64): bucket words occupy the first
    ``n_buckets`` elements of ``bits_longs``, stash keys the tail.
    Two ``element_at`` gathers + 8 masked lane compares + one
    ``array_contains`` over the (usually empty) stash slice — a flat
    codegen chain, no per-row array allocations."""
    from .cuckoo import (ALT_MULT, FP_BITS, FP_MASK, FP_SHIFT,
                         MAX_STASH)

    nb = F.shiftright(n_bits, 6)              # words per table
    mask = nb - F.lit(1)
    fp0 = F.shiftright(h2, FP_SHIFT).bitwiseAND(F.lit(FP_MASK))
    fp = F.when(fp0 == F.lit(0), F.lit(1).cast("long")).otherwise(fp0)
    i1 = h1.bitwiseAND(mask)
    i2 = i1.bitwiseXOR((fp * F.lit(ALT_MULT)).bitwiseAND(mask))

    def lanes_hit(word):
        hit = None
        for sh in (0, 16, 32, 48):
            lane = (F.shiftright(word, sh) if sh else word) \
                .bitwiseAND(F.lit(FP_MASK)) == fp
            hit = lane if hit is None else (hit | lane)
        return hit

    w1 = F.element_at(bits_longs, (i1 + F.lit(1)).cast("int"))
    w2 = F.element_at(bits_longs, (i2 + F.lit(1)).cast("int"))
    stash_key = F.shiftleft(F.least(i1, i2), FP_BITS).bitwiseOR(fp)
    stash = F.slice(bits_longs, (nb + F.lit(1)).cast("int"),
                    F.lit(MAX_STASH))
    return lanes_hit(w1) | lanes_hit(w2) \
        | F.array_contains(stash, stash_key)


def _native_probe_col(h1, h2, bits_longs, n_bits, k,
                      static_k: int | None = None):
    """The Bloom probe as a pure Catalyst expression — MUST mirror
    BloomFilter._positions exactly (masked double hashing keeps every
    intermediate < 2^54, so ANSI long arithmetic never overflows and
    matches numpy bit-for-bit).  Word indexing mirrors to_longs():
    little-endian int64 view of the byte array.

    With ``static_k`` (all partition filters share one k — always true
    under uniform sizing) the k bit tests UNROLL into a flat AND chain:
    no per-row sequence/transform/forall array allocations, the whole
    probe stays inside whole-stage codegen.  Without it, a
    higher-order-function fallback handles per-row k."""
    from .bloom import H1_MASK, H2_MASK

    h1m = h1.bitwiseAND(F.lit(H1_MASK))
    h2m = h2.bitwiseAND(F.lit(H2_MASK)).bitwiseOR(F.lit(1))

    def bit(i):
        pos = F.pmod(h1m + i.cast("long") * h2m, n_bits)
        word = F.element_at(bits_longs,
                            (pos / 64).cast("int") + F.lit(1))
        # call_function: shiftright with a COLUMN shift amount (the
        # python helper F.shiftright only takes a literal); arithmetic
        # sign extension is harmless under the & 1
        shifted = F.call_function(
            "shiftright", word, F.pmod(pos, F.lit(64)).cast("int"))
        return shifted.bitwiseAND(F.lit(1)) == 1

    if static_k is not None:
        cond = bit(F.lit(0))
        for j in range(1, static_k):
            cond = cond & bit(F.lit(j))
        return cond
    return F.forall(
        F.transform(F.sequence(F.lit(0), k - F.lit(1)), bit),
        lambda b: b)


def with_hash_cols(df: DataFrame, n_partitions: int = DEFAULT_PARTITIONS,
                   key: str = "surt_key") -> DataFrame:
    return df.withColumns(_memo(("hash", n_partitions, key), lambda: {
        "pid": F.pmod(F.xxhash64(key), F.lit(n_partitions)).cast("int"),
        "h1": F.xxhash64(key),
        "h2": F.xxhash64(F.lit("b"), F.col(key)),
    }))


def empty_filters(spark, n_partitions: int = DEFAULT_PARTITIONS,
                  capacity: int = DEFAULT_CAPACITY,
                  fpr: float = DEFAULT_FPR,
                  kind: str = "bloom") -> DataFrame:
    """Fresh all-zero filters, built NATIVELY (spark.range +
    array_repeat + a 20-byte literal prefix: the 4-byte BLF2 magic
    plus the 16-byte <QII header), never as a driver local
    relation: the obvious ``createDataFrame(rows)`` pickles
    n_partitions × d_words Python ints through py4j — measured ~3.3s
    of crawl-init fixed cost at 64 × 37k words, and O(total filter
    bytes) on the driver at production sizing.  An empty blob is the
    magic+header prefix followed by all-zero bit bytes, so the whole
    frame is a deterministic expression of ``range(n_partitions)``.

    ``kind='cuckoo'`` emits cuckoo-geometry rows instead: n_bits holds
    n_buckets*64 (one int64 word per 4-slot bucket) and k is 0 — the
    kind marker native probes dispatch on lives in the blob magic."""
    if kind == "cuckoo":
        from .cuckoo import _HEADER as _CK_HEADER
        from .cuckoo import _MAGIC as _CK_MAGIC

        cf = CuckooFilter.sized_for(capacity)
        prefix = _CK_MAGIC + _CK_HEADER.pack(cf.m, 0, 0)
        n_zero_bytes = len(cf.to_bytes()) - len(prefix)
        return spark.range(n_partitions).select(
            F.col("id").cast("int").alias("partition_id"),
            F.concat(
                F.lit(prefix),
                F.encode(F.repeat(F.lit("\x00"), n_zero_bytes),
                         "UTF-8")).alias("filter_blob"),
            F.lit(0).cast("long").alias("n_items"),
            F.array_repeat(F.lit(0).cast("long"), cf.n_buckets)
            .alias("bits_longs"),
            F.lit(cf.n_buckets * 64).cast("long").alias("n_bits"),
            F.lit(0).cast("int").alias("k"))

    from .bloom import _HEADER, _MAGIC

    bf = BloomFilter.sized_for(capacity, fpr)
    prefix = _MAGIC + _HEADER.pack(bf.n_bits, bf.k, 0)
    n_zero_bytes = len(bf.to_bytes()) - len(prefix)
    d_words = len(bf.to_longs())
    return spark.range(n_partitions).select(
        F.col("id").cast("int").alias("partition_id"),
        F.concat(
            F.lit(prefix),
            F.encode(F.repeat(F.lit("\x00"), n_zero_bytes), "UTF-8"))
        .alias("filter_blob"),
        F.lit(0).cast("long").alias("n_items"),
        F.array_repeat(F.lit(0).cast("long"), d_words)
        .alias("bits_longs"),
        F.lit(bf.n_bits).cast("long").alias("n_bits"),
        F.lit(bf.k).cast("int").alias("k"))


def flag_maybe_seen(candidates: DataFrame, filters: DataFrame,
                    n_partitions: int = DEFAULT_PARTITIONS,
                    strategy: str = "auto",
                    static_k: int | None = None,
                    kind: str = "bloom",
                    state_bytes: int | None = None) -> DataFrame:
    """Candidates + ``maybe_seen`` flag from the per-partition Bloom
    probe.  Input needs _CAND_COLS; hashes are computed here.
    :func:`probe_keyed` is the same probe keeping the hash columns.

    ``strategy='auto'`` (default) SIZE-GATES the physical choice:
    'native' while total filter state fits
    ``NATIVE_BROADCAST_MAX_BYTES``, else 'cogroup' — so the default
    survives the 10^10-key sizing (≈12 GB of blobs) without a manual
    config choice.  ``state_bytes`` makes the resolution free: the
    crawl loop passes :func:`filter_state_bytes` (pure driver-side
    arithmetic); without it one tiny n_partitions-row aggregate reads
    the actual geometry.

    Two physical strategies, one per size regime, same semantics
    (tested equal):

    * ``strategy='native'``: broadcast-join the tiny filters
      table (pid → bits_longs words) onto the candidates and evaluate
      the probe as a pure Catalyst expression — zero shuffle of the
      candidates, ZERO Python (the probe was the crawl round's main
      pandas stage; Arrow serde + Python workers burn ~2 cores per
      task slot).  Right while total filter state fits the broadcast
      budget.
    * ``strategy='cogroup'``: cogroup candidates with blobs per pid —
      two hash shuffles, but each task holds exactly one blob.  The
      10^10-key path (4096 × ~2.9 MB blobs ≈ 12 GB total filter state,
      too big to broadcast).
    """
    return probe_keyed(candidates, filters, n_partitions, strategy,
                       static_k, kind, state_bytes).select(
                           *_CAND_COLS, "maybe_seen")


def probe_keyed(candidates: DataFrame, filters: DataFrame,
                n_partitions: int = DEFAULT_PARTITIONS,
                strategy: str = "auto",
                static_k: int | None = None,
                kind: str = "bloom",
                state_bytes: int | None = None) -> DataFrame:
    """:func:`flag_maybe_seen` that keeps each candidate's ``pid``,
    ``h1`` and ``h2``: the crawl loop hashes a key once per round and
    carries the hashes to the fold, the seen delta and the metrics."""
    if strategy == "auto":
        if state_bytes is None:
            # n_partitions rows; n_bits/8 is each row's word-array
            # payload — the exact quantity the native path broadcasts
            row = filters.agg(
                (F.sum("n_bits") / 8).alias("b")).first()
            state_bytes = int(row["b"] or 0)
        strategy = resolve_probe_strategy(state_bytes)
    if strategy not in ("native", "cogroup"):
        raise ValueError(f"unknown probe strategy {strategy!r}: "
                         "expected 'auto', 'native' or 'cogroup'")
    cand = with_hash_cols(candidates.select(*_CAND_COLS), n_partitions)
    out_cols = [*_CAND_COLS, *_HASH_COLS, "maybe_seen"]

    if strategy == "native":
        flt = F.broadcast(filters.select(
            F.col("partition_id").alias("pid"), "bits_longs", "n_bits",
            "k"))
        if kind == "cuckoo":
            probe = _memo(("cuckoo_probe",), _cuckoo_probe)
        else:
            if static_k is None:
                # one tiny driver peek at the (uniformly sized)
                # filters: a shared k lets the probe unroll into a flat
                # codegen AND chain.  Callers that size the filters
                # themselves pass static_k
                # (BloomFilter.sized_for(capacity, fpr).k) and skip
                # this per-call job.
                krow = filters.agg(F.min("k").alias("lo"),
                                   F.max("k").alias("hi")).first()
                static_k = int(krow["lo"]) if (
                    krow["lo"] is not None
                    and krow["lo"] == krow["hi"]) else None
            probe = _memo(("bloom_probe", static_k),
                          lambda: _bloom_probe(static_k))
        return cand.join(flt, "pid", "left") \
            .withColumn("maybe_seen", probe).select(*out_cols)

    def probe(cpdf: pd.DataFrame, fpdf: pd.DataFrame) -> pd.DataFrame:
        if len(cpdf) == 0:
            return pd.DataFrame(columns=out_cols)
        if len(fpdf) == 0:
            flags = [False] * len(cpdf)
        else:
            bf = _filter_from_bytes(bytes(fpdf["filter_blob"].iloc[0]))
            flags = bf.contains_many(
                cpdf["h1"].to_numpy(), cpdf["h2"].to_numpy())
        out = cpdf[[*_CAND_COLS, *_HASH_COLS]].copy()
        out["maybe_seen"] = flags
        return out

    return (
        cand.groupBy("pid")
        .cogroup(filters.groupBy("partition_id"))
        .applyInPandas(probe, schema=_FLAG_SCHEMA)
    )


def _cuckoo_probe():
    # k is the kind marker (cuckoo rows store 0, Bloom rows >= 1):
    # probing Bloom words with cuckoo fingerprint math yields SILENT
    # false negatives (re-crawled duplicates), so a mismatched resume
    # must fail loudly per row — no extra driver job, the branch only
    # fires on bad rows
    return F.when(F.col("bits_longs").isNull(), F.lit(False)) \
        .when(F.col("k") != 0, F.raise_error(F.lit(
            "cuckoo probe over a Bloom filter row (k>0): this "
            "checkpoint was written with filter_kind='bloom' — "
            "resume with the same kind, or rebuild_filters for "
            "the new kind"))) \
        .otherwise(_native_cuckoo_probe_col(
            F.col("h1"), F.col("h2"), F.col("bits_longs"),
            F.col("n_bits")))


def _bloom_probe(static_k: int | None):
    hof = _native_probe_col(
        F.col("h1"), F.col("h2"), F.col("bits_longs"),
        F.col("n_bits"), F.col("k"))
    if static_k is not None:
        unrolled = _native_probe_col(
            F.col("h1"), F.col("h2"), F.col("bits_longs"),
            F.col("n_bits"), F.col("k"), static_k=static_k)
        # rows whose filter was sized differently (e.g. resumed state
        # from another config) fall back to the per-row-k path — the
        # unrolled chain must never probe a wrong k
        per_row = F.when(F.col("k") == F.lit(static_k),
                         unrolled).otherwise(hof)
    else:
        per_row = hof
    # mirror of the cuckoo lane's kind guard: k=0 marks a cuckoo blob,
    # and Bloom position math over cuckoo buckets is a silent
    # false-negative machine
    return F.when(F.col("bits_longs").isNull(), F.lit(False)) \
        .when(F.col("k") <= 0, F.raise_error(F.lit(
            "bloom probe over a cuckoo filter row (k=0): this "
            "checkpoint was written with filter_kind='cuckoo' — "
            "resume with the same kind, or rebuild_filters for "
            "the new kind"))) \
        .otherwise(per_row)


def split_new(candidates: DataFrame, filters: DataFrame, seen: DataFrame,
              n_partitions: int = DEFAULT_PARTITIONS,
              strategy: str = "auto",
              kind: str = "bloom",
              state_bytes: int | None = None) -> DataFrame:
    """Exactly-new candidates: filter-definite-new ∪ (filter-maybe-seen
    ⟕̸ exact seen table).  ``seen`` has column ``surt_key``.  The
    output is EXACT for either filter ``kind`` (bloom or cuckoo):
    false positives are anti-joined back in, and neither filter ever
    produces a false negative — so the split (and hence crawl order)
    is byte-identical across filter families, which is tested."""
    flagged = flag_maybe_seen(candidates, filters, n_partitions,
                              strategy=strategy,
                              kind=kind, state_bytes=state_bytes)
    definitely_new = flagged.filter(~F.col("maybe_seen")).drop("maybe_seen")
    verified_new = (
        flagged.filter(F.col("maybe_seen")).drop("maybe_seen")
        .join(seen.select("surt_key"), "surt_key", "left_anti")
    )
    return definitely_new.unionByName(verified_new)


def remove_from_filters(keys: DataFrame, filters: DataFrame,
                        n_partitions: int = DEFAULT_PARTITIONS
                        ) -> DataFrame:
    """Retract keys from CUCKOO filters (cogroup per partition): the
    deletion path that makes a URL crawlable again (no crawl round
    calls it yet).  Callers must also delete the keys from the
    exact seen table (the filter is a prefilter, the table is truth).
    Bloom blobs cannot delete; a Bloom row here raises (by magic
    dispatch) instead of corrupting shared bits.  Safe under the
    crawl's insert-once discipline — see cuckoo.py's deletion caveat."""
    keyed = with_hash_cols(keys.select("surt_key"), n_partitions)

    def unfold(kpdf: pd.DataFrame, fpdf: pd.DataFrame) -> pd.DataFrame:
        if len(fpdf) == 0:
            return pd.DataFrame(columns=[
                "partition_id", "filter_blob", "n_items", "bits_longs",
                "n_bits", "k"])
        pid = int(fpdf["partition_id"].iloc[0])
        cf = _filter_from_bytes(bytes(fpdf["filter_blob"].iloc[0]))
        if not isinstance(cf, CuckooFilter):
            raise ValueError(
                "remove_from_filters needs cuckoo filters; this "
                "checkpoint row holds a Bloom blob (Bloom bits are "
                "shared between keys and cannot be deleted) — crawl "
                "with CrawlConfig(filter_kind='cuckoo') to get "
                "retractable URL-seen state")
        if len(kpdf) > 0:
            cf.delete_many(kpdf["h1"].to_numpy(), kpdf["h2"].to_numpy())
        return pd.DataFrame({
            "partition_id": [pid],
            "filter_blob": [cf.to_bytes()],
            "n_items": [cf.n_items],
            "bits_longs": [cf.to_longs()],
            "n_bits": [cf.n_buckets * 64],
            "k": [0],
        })

    return (
        keyed.groupBy("pid")
        .cogroup(filters.groupBy("partition_id"))
        .applyInPandas(unfold, schema=SEEN_FILTER_SCHEMA)
    )


def _fold_native(keyed: DataFrame, filters: DataFrame,
                 n_partitions: int, capacity: int, fpr: float
                 ) -> DataFrame:
    """The Bloom fold with all hash math in Catalyst: explode each new
    key into its k probe positions JVM-side (the SAME masked
    double-hash arithmetic as ``_native_probe_col`` — bit parity is
    property-tested against the numpy fold), collect the flat position
    list per partition in ONE aggregation, then scatter-OR them into
    the dense word arrays inside an Arrow-batched UDF that touches
    exactly ``n_partitions`` rows — no per-key Python, no shuffle of
    existing filter words, one vectorized ``np.bitwise_or.at`` per
    partition.  (The pandas-cogroup fold ships the whole keyed delta
    through Arrow and recomputes positions in Python; its workers
    borrowing cores beyond the task-slot count is also a single-box
    scaling distortion.)

    The scatter runs in as few Python tasks as the filter state allows:
    total filter bytes over the session's advisory partition size, at
    least one.  Each Python task has a fixed worker cost (measured
    ~0.34 s) that dwarfs scattering a few partitions' words, so at
    bench scale (4.8 MB of state) the whole fold is one task, and at
    the 10^10-key sizing (~12 GB) it is ~190, each holding about one
    advisory partition of words.

    Geometry note: this path assumes UNIFORM filter geometry — always
    true for filters produced by ``empty_filters``/this fold under one
    config — so positions use the config's literal (n_bits, k) and no
    per-key geometry join is needed (a broadcast join per fold was
    pure fixed cost).  The scatter UDF fail-fasts on a filter row
    whose n_bits disagrees (resume with a different capacity/fpr, or
    hand-built filters): the pandas fold handles per-pid geometry."""
    plan = _memo(("fold", capacity, fpr),
                 lambda: _fold_plan(capacity, fpr))
    # ONE aggregation pass over the keyed delta: per-pid flat position
    # lists (k positions per key, computed JVM-side — Python never
    # touches hash math) + the new-key count in the same groupBy.
    # Earlier shapes measured slower at every scale tried: (a) the
    # first native fold posexploded every EXISTING filter word into a
    # dense explode → join → collect_list/array_sort rebuild (a full
    # shuffle + sort of n_partitions × d_words rows per round even
    # when 0.1% of words changed, ~2.5s/fold of fixed cost at bench
    # scale); (b) a (pid, word) bit_or pre-aggregation — at Bloom
    # occupancy almost every group is a singleton, so the extra
    # exchange bought nothing.  Positions per pid stay small at any
    # scale (new_keys × k / n_partitions — the partition count grows
    # with the crawl), so the lists are bounded Arrow payloads.
    adds = keyed.select(*plan.explode).groupBy("pid").agg(*plan.agg)
    # full outer: pids missing from `filters` (delta-only — never the
    # case after init_state) synthesize a default-geometry zero array
    # in the scatter; pids with no new keys pass their blob through
    base = filters.select(*plan.base)
    spark = filters.sparkSession
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils \
        .byteStringAsBytes(spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    n_tasks = max(1, -(-filter_state_bytes(
        "bloom", capacity, fpr, n_partitions) // advisory))
    return (base.join(adds, "pid", "full_outer").coalesce(n_tasks)
            .withColumn("_s", plan.scatter).select(*plan.out))


@dataclass(frozen=True)
class _FoldPlan:
    """The native fold's Columns for one filter geometry."""
    explode: tuple[Column, ...]   # keyed delta -> (pid, i, p) positions
    agg: tuple[Column, ...]       # per pid: position list, new-key count
    base: tuple[Column, ...]      # filters -> the scatter's inputs
    scatter: Column               # the Arrow scatter-OR UDF call
    out: tuple[Column, ...]       # -> SEEN_FILTER_SCHEMA


def _fold_plan(capacity: int, fpr: float) -> _FoldPlan:
    from .bloom import H1_MASK, H2_MASK

    sized = BloomFilter.sized_for(capacity, fpr)
    ub, uk = sized.n_bits, sized.k
    h1m = F.col("h1").bitwiseAND(F.lit(H1_MASK))
    h2m = F.col("h2").bitwiseAND(F.lit(H2_MASK)).bitwiseOR(F.lit(1))
    pos_arr = F.transform(
        F.sequence(F.lit(0), F.lit(uk - 1)),
        lambda i: F.pmod(h1m + i.cast("long") * h2m, F.lit(ub)))

    # scatter-OR + blob serialization: n_partitions rows of Python,
    # Arrow-batched (the dense word arrays cross as Arrow lists, not
    # pickled rows).  Each row ORs its (few) changed words into its
    # dense word array — vectorized numpy per row, no per-key Python
    # and no word-level shuffle anywhere.
    def scatter(longs, poss, old_nb, old_k, items, n_new):
        blobs, words_out, totals = [], [], []
        for lg, ps, nb_, kk_, it, nn in zip(longs, poss, old_nb, old_k,
                                            items, n_new):
            if lg is None:
                words = np.zeros((ub + 63) // 64, dtype=np.int64)
            else:
                if int(nb_) != ub or int(kk_) != uk:
                    raise ValueError(
                        "native fold needs uniform filter geometry "
                        f"(config n_bits={ub} k={uk}, filter row has "
                        f"n_bits={nb_} k={kk_}); resume with the "
                        "original capacity/fpr or use the pandas fold")
                words = np.asarray(lg, dtype=np.int64).copy()
            if ps is not None and len(ps):
                p = np.asarray(ps, dtype=np.int64)
                # duplicate positions within a batch are common —
                # bitwise_or.at applies the OR per occurrence
                np.bitwise_or.at(
                    words, p >> 6,
                    np.int64(1) << (p & np.int64(63)))
            total = int(it if it is not None and not pd.isna(it)
                        else 0) + int(nn if nn is not None
                                      and not pd.isna(nn) else 0)
            blobs.append(BloomFilter.from_longs(
                words, ub, uk, total).to_bytes())
            words_out.append(words)
            totals.append(total)
        return pd.DataFrame({"filter_blob": blobs,
                             "bits_longs": words_out,
                             "n_items": totals})

    scatter_udf = pandas_udf(scatter, StructType([
        StructField("filter_blob", BinaryType()),
        StructField("bits_longs", ArrayType(LongType())),
        StructField("n_items", LongType()),
    ]))
    return _FoldPlan(
        explode=(F.col("pid"), F.posexplode(pos_arr).alias("i", "p")),
        agg=(F.collect_list("p").alias("_ps"),
             F.sum(F.when(F.col("i") == 0, 1).otherwise(0))
             .alias("_n_new")),
        base=(F.col("partition_id").alias("pid"), F.col("bits_longs"),
              F.col("n_bits").alias("_old_nb"), F.col("k"),
              F.col("n_items")),
        scatter=scatter_udf("bits_longs", "_ps", "_old_nb", "k",
                            "n_items", "_n_new"),
        out=(F.col("pid").alias("partition_id"),
             F.col("_s.filter_blob").alias("filter_blob"),
             F.col("_s.n_items").alias("n_items"),
             F.col("_s.bits_longs").alias("bits_longs"),
             F.coalesce("_old_nb", F.lit(ub)).cast("long")
             .alias("n_bits"),
             F.coalesce("k", F.lit(uk)).cast("int").alias("k")))


def update_filters(new_keys: DataFrame, filters: DataFrame,
                   n_partitions: int = DEFAULT_PARTITIONS,
                   capacity: int = DEFAULT_CAPACITY,
                   fpr: float = DEFAULT_FPR,
                   strategy: str = "native",
                   kind: str = "bloom") -> DataFrame:
    """Fold new SURT keys into the partition blobs; returns the full
    next-generation filters table (one row per partition — partitions
    with no new keys pass their blob through unchanged).
    :func:`fold_keyed` is the same fold over already-hashed keys.

    ``strategy='native'`` (default) folds JVM-side with only the final
    per-partition blob serialization in Python;  ``'pandas'`` is the
    cogroup fold (numpy per partition), kept as the cross-check the
    parity property test runs both of.

    ``kind='cuckoo'`` always uses the cogroup fold: cuckoo insertion
    is an inherently sequential eviction walk, so there is no
    position-explode equivalent — but the fold still only ships the
    per-round DELTA through Arrow (one task per partition), and
    add_many canonicalizes each batch so blobs stay byte-deterministic
    across parallelism (tested)."""
    keyed = with_hash_cols(new_keys.select("surt_key"), n_partitions)
    return fold_keyed(keyed, filters, n_partitions, capacity, fpr,
                      strategy, kind)


def fold_keyed(keyed: DataFrame, filters: DataFrame,
               n_partitions: int = DEFAULT_PARTITIONS,
               capacity: int = DEFAULT_CAPACITY,
               fpr: float = DEFAULT_FPR,
               strategy: str = "native",
               kind: str = "bloom") -> DataFrame:
    """:func:`update_filters` over keys that already carry ``pid``,
    ``h1`` and ``h2`` (:func:`probe_keyed`'s output)."""
    if strategy == "native" and kind != "cuckoo":
        return _fold_native(keyed, filters, n_partitions, capacity, fpr)

    def fold(kpdf: pd.DataFrame, fpdf: pd.DataFrame) -> pd.DataFrame:
        if len(fpdf) > 0:
            pid = int(fpdf["partition_id"].iloc[0])
            bf = _filter_from_bytes(bytes(fpdf["filter_blob"].iloc[0]))
        else:
            pid = int(kpdf["pid"].iloc[0])
            bf = _sized_filter(kind, capacity, fpr)
        if len(kpdf) > 0:
            bf.add_many(kpdf["h1"].to_numpy(), kpdf["h2"].to_numpy())
        if isinstance(bf, CuckooFilter):
            n_bits, k = bf.n_buckets * 64, 0
        else:
            n_bits, k = bf.n_bits, bf.k
        return pd.DataFrame({
            "partition_id": [pid],
            "filter_blob": [bf.to_bytes()],
            "n_items": [bf.n_items],
            "bits_longs": [bf.to_longs()],
            "n_bits": [n_bits],
            "k": [k],
        })

    return (
        keyed.select(*_HASH_COLS).groupBy("pid")
        .cogroup(filters.groupBy("partition_id"))
        .applyInPandas(fold, schema=SEEN_FILTER_SCHEMA)
    )
