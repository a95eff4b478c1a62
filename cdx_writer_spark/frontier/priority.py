"""Deterministic priority frontier + per-host top-k selection.

Frontier ordering (north star: "host-rank + depth lexicographic key"):
within a host, fetch shallower pages first, then lexicographic SURT;
across hosts the key ranks higher-quality hosts first.  The ordering
is a **total order** over (host, depth, surt_key) — no partition-order
dependence, no un-ordered ``limit()`` — so the scheduled batch is
byte-identical at any parallelism (the two-cluster-size determinism
gate; tests run local[2] vs local[8] vs local[32]).

Scale notes: the window partitions by host, so the shuffle key is
``host``.  Hot hosts (crawl-hot-host skew) bound the window partition
at *frontier-pending-per-host* rows; AQE skew-split cannot split a
window partition, so for pathological hosts the loop first caps
per-host candidates with a cheap salted pre-aggregation: the same
window over ``(host, salt)`` with a higher cap, then the exact window
over the survivors — a two-level tournament that keeps every partition
under ~2× median.  The sandbox graph's hot hosts stay well inside one
task, so the pre-pass is gated by ``salt_threshold``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

SALT_BUCKETS = 16


def _order_cols():
    return [F.asc("depth"), F.asc("surt_key")]


def select_batch(candidates: DataFrame,
                 salt_threshold: int | None = None) -> DataFrame:
    """Per-host top-``budget_per_round`` by (depth, surt_key), with the
    global priority rank attached.  Input: politeness.apply_robots
    output (has ``budget_per_round``)."""
    if salt_threshold is not None:
        # two-level tournament for hot hosts: per-(host, salt) cap first
        salted = candidates.withColumn(
            "_salt", F.pmod(F.xxhash64("surt_key"), F.lit(SALT_BUCKETS)))
        w_pre = Window.partitionBy("host", "_salt").orderBy(*_order_cols())
        candidates = (
            salted.withColumn("_pre_rank", F.row_number().over(w_pre))
            .filter(F.col("_pre_rank") <= salt_threshold)
            .drop("_salt", "_pre_rank")
        )
    w = Window.partitionBy("host").orderBy(*_order_cols())
    return (
        candidates.withColumn("host_pos", F.row_number().over(w))
        .filter(F.col("host_pos") <= F.col("budget_per_round"))
    )
