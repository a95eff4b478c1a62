"""Deterministic corpus sampling — the selection primitives a
training-data build runs between hygiene and mixing (hold-out carves,
ablation subsets, per-language balancing).  Randomness is replaced by
portable content hashing (md5 over a salt + the row id), so any
engine — and any rerun — reproduces the exact sample: a sample that
cannot be reproduced cannot be audited, and at 100 TB re-drawing one
is a full-corpus pass.

Two tiers, same spirit as the exact-vs-sketch split elsewhere in the
repo:

* :func:`stratified_sample` — EXACT per-stratum proportions via a
  hash-ordered ranking window: within each stratum the kept set is
  the first ``ceil(n * num / den)`` rows by md5 order.  ONE
  stratum-keyed exchange (both windows — rank and stratum size —
  share it).  The documented 10^10-row caveat: a stratum is one
  window partition, so a single stratum dominating the corpus
  serializes into few tasks — for corpus-scale strata use the hash
  tier below, which needs no exchange at all.
* :func:`hash_sample` — shuffle-free threshold sampling: keep a row
  iff the first 4 hex digits of its salted md5 compare below a
  threshold derived from ``rate_num / 65536``.  A pure projection
  (map-only at any scale); the achieved fraction is exact in
  expectation and binomially concentrated, not exact per stratum.

Both are Column-level specs simple enough for a DuckDB oracle to run
verbatim (md5 hex and lexicographic compare agree across engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sample_key_col(id_col: Column, salt: str) -> Column:
    """The portable per-row sampling key: lowercase md5 hex of
    ``salt || id``.  Distinct salts give independent samples; the
    same salt reproduces the same sample anywhere."""
    return F.md5(F.concat(F.lit(salt), id_col.cast("string")))


def stratified_sample(df: DataFrame, stratum_col: str,
                      id_col: str = "doc_id",
                      rate_num: int = 1, rate_den: int = 10,
                      salt: str = "sample") -> DataFrame:
    """Exact-proportion stratified sample: within each stratum keep
    the first ``ceil(n_stratum * rate_num / rate_den)`` rows ranked
    by (md5 key, id).  Returns the kept rows as ``(id, stratum,
    sample_rank, n_stratum)`` — rank and stratum size ride along so
    downstream mixing can weight without re-counting.

    Both windows (rank, size) partition on the stratum, so Catalyst
    plans ONE exchange; the ceil is the integer identity
    ``(n*num + den - 1) div den`` — no floats anywhere, which is what
    lets the oracle match row-for-row."""
    key = sample_key_col(F.col(id_col), salt)
    w_rank = Window.partitionBy(stratum_col).orderBy(
        key.asc(), F.col(id_col).asc())
    w_all = Window.partitionBy(stratum_col)
    ranked = df.select(
        F.col(id_col), F.col(stratum_col),
        F.row_number().over(w_rank).alias("sample_rank"),
        F.count(F.lit(1)).over(w_all).alias("n_stratum"))
    quota = F.expr(
        f"(n_stratum * {int(rate_num)} + {int(rate_den)} - 1) "
        f"div {int(rate_den)}")
    return (ranked.filter(F.col("sample_rank") <= quota)
            .select(id_col, stratum_col,
                    F.col("sample_rank").cast("int").alias("sample_rank"),
                    F.col("n_stratum").cast("long").alias("n_stratum")))


def hash_threshold(rate_num: int) -> str:
    """The 4-hex-digit threshold string for ``rate_num / 65536``:
    rows whose key prefix compares lexicographically below it are
    kept.  Lowercase hex compare is identical in every engine."""
    if not 0 <= int(rate_num) <= 65536:
        raise ValueError(f"rate_num {rate_num} outside [0, 65536]")
    return format(int(rate_num), "04x")


def hash_sample(df: DataFrame, id_col: str = "doc_id",
                rate_num: int = 6554, salt: str = "sample") -> DataFrame:
    """Shuffle-free deterministic sample at ``rate_num / 65536``
    (default ≈ 10%): keep a row iff the first 4 hex digits of its
    salted md5 key are below :func:`hash_threshold`.  A pure
    projection — map-only at 10^10 rows, and the kept set is a pure
    function of (salt, id) so independent jobs (or engines) agree on
    it without coordination."""
    key = sample_key_col(F.col(id_col), salt)
    return df.filter(
        F.substring(key, 1, 4) < F.lit(hash_threshold(rate_num)))


def weighted_sample(df: DataFrame, weight_col: str, n: int,
                    id_col: str = "doc_id",
                    salt: str = "wsample") -> DataFrame:
    """Weighted sampling WITHOUT replacement, Efraimidis–Spirakis
    A-ES (2006): every row draws a deterministic uniform
    ``u ∈ (0, 1]`` from its salted md5 and is ranked by the
    exponential key ``-ln(u) / w`` ascending (equivalent to ranking
    ``u^(1/w)`` descending); the first ``n`` rows are the sample.
    Inclusion probability is proportional to weight, the draw is a
    pure function of (salt, id) — reproducible and auditable on any
    engine, like everything else in this module.

    Keys round to 9 decimals before ranking (ties then break to the
    smaller id) so the SQL oracle's ln() agrees across engines —
    same convention as the tfidf/BM25 scores.

    Scale shape: the key is a map-only projection; the top-n is one
    global TopK (Spark's TakeOrderedAndProject — per-partition heaps
    + a single n-row merge, no full sort, no data-sized single
    partition).  Non-positive weights are excluded (their inclusion
    probability is 0 by definition).

    Returns ``(id, weight, sample_key, rank)``.
    """
    w = F.col(weight_col).cast("double")
    # 12 hex nibbles -> integer in [0, 2^48); +1 shifts to (0, 2^48]
    # so u is never 0 and ln(u) is finite
    u = ((F.conv(F.substring(sample_key_col(F.col(id_col), salt),
                             1, 12), 16, 10).cast("double") + F.lit(1.0))
         / F.lit(float(1 << 48)))
    key = F.round(-F.log(u) / w, 9)
    win = Window.orderBy(F.asc("sample_key"), F.asc(id_col))
    return (df.filter(w > 0)
            .select(F.col(id_col), w.alias("weight"),
                    key.alias("sample_key"))
            .withColumn("rank", F.row_number().over(win).cast("int"))
            .filter(F.col("rank") <= n))


def apportion(df: DataFrame, weight_col: str, budget: int,
              id_col: str = "host") -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of an integer
    ``budget`` across rows proportional to integer weights — the
    scheduler's fair-share primitive (N fetch slots across hosts
    proportional to pending-URL counts; token quotas across corpus
    sources in a mixing recipe).  Quotas are EXACT: they sum to
    ``budget``, each is within 1 of its real-valued share, and the
    whole computation is int64 arithmetic — no floats, so any engine
    reproduces it bit-for-bit.

    Each row gets ``base = (budget * w) div total`` and the
    ``budget - Σ base`` leftover units go to the largest remainders
    ``(budget * w) mod total`` (ties to the smaller id).  Returns
    ``(id, weight, quota)``.

    Scale shape: ``total`` and the leftover are one tiny driver
    aggregate each (two scalars); base/remainder are a map-only
    projection.  The leftover ranking is a global TopK of
    ``leftover`` rows (< n_rows by construction) — Spark plans
    per-partition heaps + one merge, not a global sort.  Keep
    ``budget * max(w)`` inside int64: with 10^10-URL hosts that
    bounds budget at ~10^8, which is the practical regime
    (per-round fetch slots ≪ corpus size).
    """
    w = F.col(weight_col).cast("long")
    total_row = df.agg(F.sum(w).alias("t")).first()
    total = int(total_row["t"] or 0)
    if total <= 0:
        raise ValueError("apportion: total weight must be positive")
    budget = int(budget)
    scaled = (F.lit(budget).cast("long") * w)
    base = F.expr(f"__ap_scaled div {total}")
    rem = F.pmod(F.col("__ap_scaled"), F.lit(total))
    with_base = (df.select(F.col(id_col), w.alias("weight"),
                           scaled.alias("__ap_scaled"))
                 .withColumn("__ap_base", base)
                 .withColumn("__ap_rem", rem))
    leftover = budget - int(
        with_base.agg(F.sum("__ap_base")).first()[0] or 0)
    win = Window.orderBy(F.desc("__ap_rem"), F.asc(id_col))
    return (with_base
            .withColumn("__ap_rk", F.row_number().over(win))
            .select(id_col, "weight",
                    (F.col("__ap_base")
                     + F.when(F.col("__ap_rk") <= leftover, 1)
                     .otherwise(0)).cast("long").alias("quota")))
