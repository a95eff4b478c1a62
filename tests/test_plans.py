"""Physical-plan audits: the optimizer behaviors SCALE.md claims must
actually appear in the executed plans (pushdown, pruning, broadcast,
whole-stage codegen)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cdx_writer_spark.job import CDXConfig, cdx_records
from cdx_writer_spark.pages_gen import bulk_rows
from cdx_writer_spark.schema import PAGES_SCHEMA

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    df = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
          .filter(F.col("lang") == "en").select("doc_id"))
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "EqualTo(lang,en)" in plan.replace(" ", "")


def test_column_pruning_on_narrow_format(spark, tmp_path):
    """--format 'N b' must not read text/lang from the pages scan
    (admission still needs html for the HTTP status, by design)."""
    p = str(tmp_path / "pages")
    spark.createDataFrame(bulk_rows(50), PAGES_SCHEMA).write.parquet(p)
    pages = spark.read.parquet(p)
    plan = _plan(cdx_records(pages, CDXConfig(format="N b")))
    scan = plan[plan.index("ReadSchema"):]
    scan_line = scan.splitlines()[0]
    assert "text" not in scan_line
    assert "lang" not in scan_line
    assert "url" in scan_line


def test_textstats_stays_in_codegen(spark):
    from cdx_writer_spark.functions import textstats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    df = docs.select(
        textstats.token_count_col(F.col("text")).alias("tc"),
        textstats.quality_score_col(F.col("text")).alias("q"))
    plan = _plan(df)
    # executedPlan toString marks whole-stage-codegen spans as "*(n)"
    assert "*(" in plan
    assert "ArrowEvalPython" not in plan  # no Python in the hot path


def test_dedup_is_partial_aggregated(spark):
    """exact_dedup must map-side combine (partial HashAggregate before
    the exchange) so only digests shuffle, never text."""
    from cdx_writer_spark.functions import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(dedup.exact_dedup(docs))
    pre_exchange = plan.split("Exchange")[-1]
    assert "HashAggregate" in pre_exchange  # partial agg below exchange
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_release_candidate_caches(spark):
    """Frames registered through persist_stage (the corpus
    queries' stage boundaries) are all unpersisted by
    release_stage_caches (a long-lived session must have a release
    path — Spark's CacheManager never GCs explicit persists)."""
    from pyspark import StorageLevel

    from cdx_writer_spark.functions import dedup

    dedup.release_stage_caches()  # drain anything earlier tests left
    frames = [dedup.persist_stage(spark.range(n)) for n in (10, 20)]
    assert all(f.storageLevel != StorageLevel.NONE for f in frames)
    assert dedup.release_stage_caches() == 2
    assert dedup.release_stage_caches() == 0
    assert all(f.storageLevel == StorageLevel.NONE for f in frames)


def test_http_split_returns_no_payload_bytes(spark):
    """The HTTP-split UDF must return the body OFFSET, never the body
    bytes: payload bytes returning Python->JVM through Arrow is an
    O(corpus bytes) serialization (measured 2.0x on 40KB bodies,
    docs/SCALE.md section 5).  The payload is sliced natively from
    `html` by job.cdx_flagged."""
    from pyspark.sql.types import BinaryType

    from cdx_writer_spark.job import cdx_flagged
    from cdx_writer_spark.udfs import _HTTP_SPLIT_TYPE

    assert not any(isinstance(f.dataType, BinaryType)
                   for f in _HTTP_SPLIT_TYPE.fields), \
        "http_split returns binary payload again"
    # and the flagged frame's payload is the native substring of html,
    # not a UDF output column: the slice appears as a Project expr
    pages = spark.createDataFrame(bulk_rows(50), PAGES_SCHEMA)
    plan = _plan(cdx_flagged(pages).select("payload"))
    assert "substring" in plan.lower(), plan[:2000]


def test_span_dedup_owner_exchange_is_narrow(spark):
    """The duplicate-span first-occurrence decision must exchange only
    (16-byte digest, id, index) with a map-side partial min — never
    the span text; text appears only on the reassembly-join side."""
    from cdx_writer_spark.functions import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(dedup.drop_duplicate_spans(docs, span_words=10))
    hash_exchanges = [
        ln for ln in plan.splitlines()
        if "Exchange hashpartitioning(_h#" in ln]
    assert hash_exchanges, plan
    for ln in hash_exchanges:
        assert "_span" not in ln and "text#" not in ln
    # partial aggregation before the owner exchange
    first_agg = plan.split("Exchange hashpartitioning(_h#")[0]
    assert "partial_min" in first_agg or "HashAggregate" in first_agg


def test_c4_and_chunking_are_shuffle_free_codegen(spark):
    """The per-document hygiene projections (C4 line filter,
    fixed-context chunking) must stay embarrassingly parallel: zero
    exchanges, zero Python nodes, one Generate per split."""
    from cdx_writer_spark.functions import textstats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for df in (textstats.c4_line_filter(docs),
               textstats.chunk_documents(docs, chunk_tokens=32,
                                         stride=24)):
        plan = _plan(df)
        assert "Exchange" not in plan
        assert "Python" not in plan
        assert plan.count("Generate") == 1


def test_dsir_bucket_tables_broadcast_no_python(spark):
    """DSIR's distribution tables are n_buckets-row aggregates that
    must reach the scoring join as broadcasts (never a shuffle of the
    corpus against them beyond the instance aggregation), with zero
    Python anywhere."""
    from cdx_writer_spark.functions import lm

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(lm.dsir_importance(docs, F.col("doc_id") % 7 == 0))
    assert "Python" not in plan
    assert plan.count("BroadcastExchange") >= 2  # bucket table + totals


def test_quality_mix_is_pure_projection(spark):
    from cdx_writer_spark.functions import lm

    scored = spark.createDataFrame(
        [(1, "head"), (2, "tail")], "doc_id long, bucket string")
    plan = _plan(lm.quality_mix(scored))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """SCALE.md's bucketing claim, proven: two tables bucketed AND
    sorted by the join key co-locate — the sort-merge join plans with
    ZERO Exchange (and zero Sort beyond what the bucket files carry).
    This is the 100 TB fact⋈fact shape: pay the shuffle once at write
    time, never per query."""
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = spark.range(2000).selectExpr(
            "id AS k", "id * 2 AS a")
        b = spark.range(2000).selectExpr(
            "id AS k", "id * 3 AS b")
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")
        (a.write.bucketBy(8, "k").sortBy("k")
         .option("path", str(tmp_path / "bkt_a")).saveAsTable("bkt_a"))
        (b.write.bucketBy(8, "k").sortBy("k")
         .option("path", str(tmp_path / "bkt_b")).saveAsTable("bkt_b"))
        j = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = _plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() == 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_inverted_index_and_cooccurrence_single_exchange(spark):
    """Both text-index ops aggregate behind ONE exchange with
    map-side partials; co-occurrence generates pairs in-array (no
    positions self-join — no Join node at all)."""
    from cdx_writer_spark.functions import textstats

    docs = spark.createDataFrame([(1, "a b c")],
                                 "doc_id long, text string")
    p1 = _plan(textstats.inverted_index(docs))
    assert p1.count("Exchange") == 1
    assert p1.index("HashAggregate") < p1.index("Exchange")
    p2 = _plan(textstats.term_cooccurrence(docs))
    assert p2.count("Exchange") == 1
    assert p2.index("HashAggregate") < p2.index("Exchange")
    assert "Join" not in p2
    assert "Python" not in p1 and "Python" not in p2


def test_sampling_plans(spark):
    """The stratified tier plans exactly ONE stratum-keyed exchange
    (rank + size windows share it); the hash tier is a pure filter —
    no exchange, no Python."""
    from cdx_writer_spark.functions import sampling

    docs = spark.createDataFrame([(1, "en")],
                                 "doc_id long, lang string")
    p1 = _plan(sampling.stratified_sample(docs, "lang"))
    assert p1.count("Exchange") == 1
    assert "Window" in p1
    p2 = _plan(sampling.hash_sample(docs))
    assert "Exchange" not in p2
    assert "Python" not in p2


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """A date/host-partitioned fact table joined to a filtered dim
    must plan a dynamicpruning subquery on the partition column — the
    runtime analog of static partition pruning: at 100 TB the scan
    reads only the partitions the (broadcast) dim side actually
    selects, without the query author naming them."""
    p = str(tmp_path / "fact")
    (spark.range(2000)
     .selectExpr("id", "id % 20 AS part_key")
     .write.partitionBy("part_key").parquet(p))
    fact = spark.read.parquet(p)
    dim = (spark.range(20)
           .selectExpr("id AS part_key", "id % 10 AS grp")
           .filter("grp = 0"))           # selects 2 of 20 partitions
    joined = fact.join(dim, "part_key").select("part_key", "id", "grp")
    # PartitionFilters is a metadata string truncated at 100 chars by
    # default — long expr ids in a shared session can cut the marker
    # mid-token, so widen the limit for the assertion
    old = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = _plan(joined)
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    assert "dynamicpruningexpression" in plan.lower(), plan
    # semantics: only part_key 0 and 10 survive
    got = sorted({r.part_key for r in joined.collect()})
    assert got == [0, 10]


def test_linear_classifier_broadcasts_weights(spark):
    """The (bucket, weight) table must reach the feature-instance
    stream as a BroadcastHashJoin — at 100 TB the instances are
    corpus-sized and must NEVER shuffle against a 1024-row model —
    and the per-doc margin must be one partial-agged exchange."""
    from cdx_writer_spark.functions import lm

    docs = spark.createDataFrame(
        [(1, "a b c")], "doc_id long, text string")
    plan = _plan(lm.linear_quality_scores(
        docs, lm.hashed_weights(spark, 64), n_buckets=64))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    # one aggregation exchange (doc key), map-side partials
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_wet_records_add_no_exchange(spark):
    """WET record assembly is a projection over the extraction — it
    must add NO exchange and NO Python evaluation beyond the
    filtered-extraction shape it builds on (the record concat
    references `text` three times, so this also pins Catalyst's
    common-UDF dedup: the multiple references must NOT multiply the
    ArrowEvalPython nodes past the filter+project pair every
    extraction query carries)."""
    from pyspark.sql import functions as F

    from cdx_writer_spark.functions import extract
    from cdx_writer_spark.pages_gen import bulk_rows
    from cdx_writer_spark.schema import PAGES_SCHEMA

    pages = spark.createDataFrame(bulk_rows(20), PAGES_SCHEMA)
    base = _plan(extract.extract_text(pages)
                 .filter(F.col("text").isNotNull())
                 .select("url", "text"))
    wet = _plan(extract.wet_records(pages))
    assert wet.count("Exchange") == base.count("Exchange"), wet
    assert wet.count("ArrowEvalPython") == base.count(
        "ArrowEvalPython"), (wet.count("ArrowEvalPython"),
                             base.count("ArrowEvalPython"))


def test_kn_counts_exchange_inventory(spark):
    """KN continuation counts: every aggregation partial-aggs
    map-side (the corpus-sized explode collapses before its
    exchange), the assembly joins are equi-joins of the three
    vocabulary-sized aggregates (same cardinality on every side —
    a shuffle join is the RIGHT plan there; what must never appear
    is an unkeyed join), and nothing crosses into Python."""
    from cdx_writer_spark.functions import lm

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c")], "doc_id long, text string")
    out = lm.kn_continuation_counts(docs)
    plan = _plan(out)
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Python" not in plan
    # exchange inventory: pair-distinct, unigram agg, left/right
    # type aggs + the join alignments — bounded, never corpus-keyed
    # beyond the documented set
    assert plan.count("Exchange hashpartitioning") <= 8, plan


def test_sorted_sink_plan_rebuild_reuses_projection(spark, monkeypatch):
    """The CDX projection's Columns are built once per (config,
    SparkContext): building the sorted sink's plan again for the same
    config only applies them, a few hundred py4j gateway commands
    where a fresh build sends thousands.  No Spark action runs.  Only
    this thread's commands count: py4j's finalizer thread sends the
    deletes of earlier garbage whenever it runs."""
    import threading

    from py4j.clientserver import ClientServerConnection
    from pyspark import SparkContext

    from cdx_writer_spark import job, sink

    pages = spark.createDataFrame(bulk_rows(20), PAGES_SCHEMA)
    cfg = CDXConfig(all_records=True)

    def build():
        lines, _, _ = sink._lines_with_observation(pages, cfg)
        return lines.select("cdx_line").orderBy("cdx_line")

    build()
    sent = [0]
    real = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        sent[0] += threading.get_ident() == me
        return real(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    build()
    monkeypatch.undo()
    assert 0 < sent[0] <= 400

    # pandas-UDF Columns capture their SparkContext: a new context is
    # a new memo key, so a restarted session rebuilds the projection
    key = job.projection_key(cfg)
    assert job.projection_key(cfg) == key
    monkeypatch.setattr(SparkContext, "_active_spark_context", object())
    assert job.projection_key(cfg) != key
