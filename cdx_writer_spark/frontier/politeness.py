"""Per-host politeness: robots.txt rule cache + fetch budgets.

The robots corpus is a tiny per-host dimension table (real crawls: one
row per fetched robots.txt, refreshed on TTL).  It is **broadcast** —
the candidates side never shuffles for politeness:

* ``disallow`` — drop candidates whose URL path starts with the host's
  disallowed prefix (single-prefix model here; a list-valued column +
  ``exists()`` generalizes it).
* ``budget_per_round`` — the per-host token budget consumed by the
  priority selection (priority.py); hosts absent from the corpus get
  ``DEFAULT_BUDGET`` (crawl-delay unknown → default pacing).

This is the frontier's one robots model.  The crawl round
(loop._plan_round) and the benchmark's crawl replay and robots check
all consume this table, so a second matcher (robots.txt text parsing,
user-agent groups, longest match with * and $) would be code no crawl
runs.  A single-prefix Disallow is itself an RFC 9309 rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BUDGET = 8


def url_path_col(url) -> F.Column:
    """Path+query of a URL (everything after the authority)."""
    return F.regexp_replace(url, r"^[a-z]+://[^/]*", "")


def apply_robots(candidates: DataFrame, rules: DataFrame) -> DataFrame:
    """Candidates minus robots-disallowed URLs, plus a
    ``budget_per_round`` column.  ``rules``: (host, disallow_prefix,
    budget_per_round); broadcast hash join, no shuffle of candidates."""
    r = F.broadcast(
        rules.select("host", "disallow_prefix", "budget_per_round"))
    joined = candidates.join(r, "host", "left")
    allowed = (
        F.col("disallow_prefix").isNull()
        | ~url_path_col(F.col("url")).startswith(F.col("disallow_prefix"))
    )
    return (
        joined.filter(allowed)
        .withColumn("budget_per_round",
                    F.coalesce(F.col("budget_per_round"),
                               F.lit(DEFAULT_BUDGET)))
        .drop("disallow_prefix")
    )
