"""Window-family operators (__spark_entry__): physical-plan pins for
the shapes that make them survive 100 TB, plus the semantic edges the
sf0.01 oracle sweep can't isolate (window coverage, exact distinct
counts).

Scale contracts pinned here:

* hopping windows expand map-side (``Expand``, no self-join) and
  aggregate through ONE exchange with map-side partials;
* mixed exact-distinct aggregation runs Catalyst's two-phase
  (key, distinct-col) expansion with map-side partials — no
  single-reducer collapse.
"""

from __future__ import annotations

import pyspark.sql.functions as F

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- hopping windows ------------------------------------------------------------

def test_events_hopping_expand_one_exchange(spark):
    plan = _plan(entrymod.q_events_hopping(spark, SF))
    assert "Expand" in plan                       # map-side assignment
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan                # map-side partials
    assert "Python" not in plan


def test_events_hopping_every_event_in_exactly_two_windows(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n_events = ev.count()
    total = (entrymod.q_events_hopping(spark, SF)
             .agg(F.sum("n_events")).collect()[0][0])
    assert total == 2 * n_events
    # and every window is slide-aligned with the right width
    bad = (entrymod.q_events_hopping(spark, SF)
           .filter((F.col("win_start_us") % 300_000_000 != 0)
                   | (F.col("win_end_us") - F.col("win_start_us")
                      != 600_000_000)).count())
    assert bad == 0


# --- exact distinct -------------------------------------------------------------

def test_events_distinct_users_two_phase_plan(spark):
    plan = _plan(entrymod.q_events_distinct_users(spark, SF))
    # Catalyst's expansion: a (type, user) partial phase below the
    # final (type) aggregation — both with map-side partials
    assert "count(distinct user_id" in plan
    assert "partial_count" in plan
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Python" not in plan


def test_events_distinct_users_matches_brute(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    brute = {
        (r["event_type"]): r["n"]
        for r in ev.select("event_type", "user_id").distinct()
        .groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
        .collect()}
    got = {r["event_type"]: r["n_users"]
           for r in entrymod.q_events_distinct_users(spark, SF)
           .collect()}
    assert got == brute
