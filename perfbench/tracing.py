"""The traced run: per-layer metrics from spans, the event log and
driver-side kernel timings.

Spans are recorded here, around the calls the benchmark makes into each
layer; the program itself is not instrumented.  Each span sets its id as
the Spark job description, so the event-log folder (``eventlog.py``)
can group task, stage and SQL-node metrics by span.  Spans and the
folded rows are written to ``perfbench/.runs/`` when the run ends.

Layer spans (per workload):

* ``job``           — the same sink / crawl call the untraced run times;
* ``job_per_file``  — ``sink.write_per_file_cdx`` on the same archives;
* ``warc_noop``     — ``read_warc`` into Spark's ``noop`` sink;
* ``records_noop``  — ``job.cdx_records`` of the same source into ``noop``;
  the prefix-run deltas give ``job.self_s`` (records − source) and each
  sink's ``self_s`` (sink job − records);
* ``scan_noop``     — a parquet pages table (written from the archives
  in ``pages_to_parquet``) into ``noop``: the ``io`` layer;
* crawl replays     — ``politeness.apply_robots`` + ``priority.select_batch``,
  ``seen.flag_maybe_seen`` and ``seen.update_filters`` on each committed
  round's state, plus the same probe/fold with ``filter_kind='cuckoo'``
  and ``probe_strategy='cogroup'`` (diagnostics).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

import checks
import eventlog
import proctree
import run

KEEP_RUNS = 6


class Tracer:
    """Records spans and tags the Spark jobs submitted inside them."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def span(self, name: str) -> "_Span":
        return _Span(self, name)

    def total(self, name: str) -> float:
        return sum(s["end_ms"] - s["start_ms"] for s in self.spans
                   if s["name"] == name) / 1000.0

    def walls(self, name: str) -> list[float]:
        return [(s["end_ms"] - s["start_ms"]) / 1000.0 for s in self.spans
                if s["name"] == name]

    def ids(self, name: str) -> list[str]:
        return [s["id"] for s in self.spans if s["name"] == name]


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self):
        t = self.t
        parent = t._stack[-1]["id"] if t._stack else None
        self.rec = {"id": "%s:%d" % (t.run_id, len(t.spans)),
                    "name": self.name, "parent": parent, "run": t.run_id,
                    "start_ms": time.time() * 1000.0, "end_ms": None}
        t.spans.append(self.rec)
        t._stack.append(self.rec)
        t.sc.setJobDescription(self.rec["id"])
        return self.rec

    def __exit__(self, *exc):
        t = self.t
        self.rec["end_ms"] = time.time() * 1000.0
        t._stack.pop()
        t.sc.setJobDescription(t._stack[-1]["id"] if t._stack else None)
        return False


def noop(df) -> None:
    """Run a frame to completion without writing it anywhere."""
    df.write.format("noop").mode("overwrite").save()


def _per_job(values: list[float]) -> float:
    return statistics.mean(values) if values else 0.0


# --- driver-side kernels ----------------------------------------------


def _time_each(fn, items) -> float:
    """Mean microseconds per item of ``fn`` over ``items`` (one core)."""
    if not items:
        return 0.0
    t0 = time.perf_counter()
    for x in items:
        fn(x)
    return (time.perf_counter() - t0) * 1e6 / len(items)


def _payloads(rows) -> list[bytes]:
    out = []
    for html in rows:
        if html and html.startswith(b"HTTP"):
            i = html.find(b"\r\n\r\n")
            out.append(html[i + 4:] if i >= 0 else b"")
    return out


def cdx_kernels(wl) -> dict:
    """``archive_to_rows``, ``surt_key`` and ``parse_meta_tags`` on the
    workload's own inputs, timed on the driver."""
    from cdx_writer_spark.canonicalize import surt_key
    from cdx_writer_spark.udfs import parse_meta_tags
    from cdx_writer_spark.warc_source import archive_to_rows

    blobs = []
    for p in sorted(glob.glob(os.path.join(wl.dir, "warc", "*"))):
        with open(p, "rb") as fh:
            blobs.append((p, fh.read()))
    t0 = time.perf_counter()
    rows = [r for p, b in blobs for r in archive_to_rows(p, b)]
    out = {"warc_source.split_us_per_record":
           (time.perf_counter() - t0) * 1e6 / max(1, len(rows))}
    urls = [r["url"] for r in rows if r["url"]]
    htmls = [r["html"] for r in rows if r["record_type"] == "response"]
    out["canonicalize.surt_us_per_url"] = _time_each(surt_key, urls)
    out["udfs.meta_us_per_payload"] = _time_each(parse_meta_tags,
                                                 _payloads(htmls))
    return out


# --- the traced run ---------------------------------------------------


def traced_run(wl, work: str, seconds: float, deadline: float) -> dict:
    run_id = "%s-%d-%d" % (wl.name, wl.seed, os.getpid())
    log_dir = os.path.join(work, "eventlog")
    with proctree.PeakRss() as rss:
        spark = run.start_session(work, log_dir)
        tracer = Tracer(spark, run_id)
        try:
            loop = run.Loop(wl, spark, work, rss)
            with tracer.span("warmup"):
                warm = loop.warmup()
            if not warm:
                return run.summarize(wl, loop, {
                    k: run.metric(0.0, u) for k, u in sorted(UNITS.items())})
            if wl.name == "crawl_rounds":
                loop.keep = os.path.join(work, "state")
            loop.until(seconds, deadline, lambda: tracer.span("job"))
            layers = LAYERS[wl.name](wl, spark, tracer, work, loop)
        finally:
            spark.stop()
    fold = eventlog.fold(log_dir, tracer.spans)
    metrics = dict(ZERO)
    metrics.update(spark_metrics(fold, tracer))
    metrics.update(layers.finish(fold))
    rate = run.median(loop.rates)
    metrics["trace.records_per_s"] = rate
    save_run(run_id, tracer, fold, metrics)
    return run.summarize(wl, loop, {
        k: run.metric(v, UNITS[k]) for k, v in sorted(metrics.items())})


def spark_metrics(fold, tracer) -> dict:
    jobs = tracer.ids("job")
    per = {k: _per_job([fold.tasks[j][k] for j in jobs])
           for k in ("exec_cpu_ns", "gc_ms", "jobs", "stages", "tasks",
                     "tasks_failed")}
    return {"spark.exec_cpu_s": per["exec_cpu_ns"] / 1e9,
            "spark.gc_s": per["gc_ms"] / 1e3,
            "spark.jobs": per["jobs"], "spark.stages": per["stages"],
            "spark.tasks": per["tasks"],
            "spark.tasks_failed": per["tasks_failed"]}


def _node(fold, spans, kind, metric) -> float:
    """Per-job mean of one SQL-node metric over ``spans``."""
    return _per_job([fold.nodes[s][(kind, metric)] for s in spans])


class CdxLayers:
    """Source, UDF, projection and sink layers of the CDX path.

    Besides the timed sorted-sink jobs, the traced run drives the
    per-file sink once on the same archives (checked against the
    oracle like every job), and scans a parquet pages table written
    from them, so every CDX layer is measured on one workload."""

    def __init__(self, wl, spark, tracer, work, loop):
        from cdx_writer_spark.job import cdx_records
        from cdx_writer_spark.sink import write_per_file_cdx

        self.wl, self.tracer = wl, tracer
        pages = os.path.join(work, "pages")
        with tracer.span("pages_to_parquet"):
            wl.source(spark).write.parquet(pages)
        with tracer.span("warc_noop"):
            noop(wl.source(spark))
        with tracer.span("scan_noop"):
            noop(spark.read.parquet(pages))
        with tracer.span("records_noop"):
            noop(cdx_records(wl.source(spark), wl.cfg()))

        def per_file(spark, out):
            stats = write_per_file_cdx(wl.source(spark), out, wl.cfg())
            return {"records": stats["num_records_included"],
                    "stats": stats}

        def check(out, result):
            checks.check_per_file(out, result["stats"],
                                  wl.meta["expected_per_file"])

        loop.one(tracer.span("job_per_file"), per_file, check)
        self.kernels = cdx_kernels(wl)

    def finish(self, fold) -> dict:
        wl, tr = self.wl, self.tracer
        jobs, pf = tr.ids("job"), tr.ids("job_per_file")
        n = float(wl.meta["n_input"])
        times = [t for j in jobs for t in fold.task_times[j]["Scan"]]
        projection = tr.total("records_noop") - tr.total("warc_noop")
        m = dict(self.kernels)
        m.update({
            "warc_source.py_run_s": _node(
                fold, jobs, "MapInPandas", "time to run Python workers") / 1e3,
            "warc_source.py_bytes_in": _node(
                fold, jobs, "MapInPandas", "data sent to Python workers") / n,
            "warc_source.py_bytes_out": _node(
                fold, jobs, "MapInPandas",
                "data returned from Python workers") / n,
            "warc_source.scan_tasks": len(times) / max(1, len(jobs)),
            "warc_source.task_skew": (
                max(times) / statistics.median(times)
                if times and statistics.median(times) > 0 else 0.0),
            "warc_source.source_s": tr.total("warc_noop"),
            "udfs.py_run_s": _node(fold, jobs, "ArrowEvalPython",
                                   "time to run Python workers") / 1e3,
            # workers start once, in the warm-up: count the whole run
            "udfs.py_start_s": sum(
                fold.nodes[s][("ArrowEvalPython",
                               "time to start Python workers")]
                for s in tr.ids("warmup") + jobs) / 1e3,
            "udfs.py_bytes_in_per_record": _node(
                fold, jobs, "ArrowEvalPython",
                "data sent to Python workers") / n,
            "udfs.py_bytes_out_per_record": _node(
                fold, jobs, "ArrowEvalPython",
                "data returned from Python workers") / n,
            "udfs.rows_per_input_row": _python_passes(fold, jobs, n),
            "udfs.rows_per_input_row.per_file": _python_passes(fold, pf, n),
            "job.codegen_s": _node(fold, jobs, "WholeStageCodegen",
                                   "duration") / 1e3,
            "job.self_s": projection,
            "job.admitted_ratio": (
                wl.meta["expected"]["stats"]["num_records_included"]
                / wl.meta["expected"]["stats"]["num_records_processed"]),
            "io.scan_bytes": _node(fold, tr.ids("scan_noop"), "Scan",
                                   "size of files read") / n,
            "io.scan_s": tr.total("scan_noop"),
            "sink.sorted.cache_bytes": _per_job(
                [fold.cache_bytes[j] for j in jobs]),
        })
        upstream = tr.total("records_noop")
        for sink, name in (("sink.sorted.", "job"),
                           ("sink.per_file.", "job_per_file")):
            spans, walls = tr.ids(name), tr.walls(name)
            m.update({
                sink + "shuffle_bytes": _node(
                    fold, spans, "Exchange", "shuffle bytes written") / n,
                sink + "sort_s": _node(fold, spans, "Sort",
                                       "sort time") / 1e3,
                sink + "spill_bytes": _per_job(
                    [fold.tasks[j]["spill_bytes"] for j in spans]),
                sink + "commit_s": (
                    _node(fold, spans, "WriteCommand", "job commit time")
                    + _node(fold, spans, "WriteCommand", "task commit time"))
                / 1e3,
                sink + "files": _node(fold, spans, "WriteCommand",
                                      "number of written files"),
                sink + "self_s": _per_job(walls) - upstream if walls else 0.0,
            })
        return m


def _python_passes(fold, spans, n: float) -> float:
    """Rows through the Arrow UDF boundary per input row and per UDF
    node: 1.0 is one Python pass; a recomputed projection reads 2.0."""
    nodes = max((len(fold.signatures[s]["ArrowEvalPython"]) for s in spans),
                default=0)
    if not nodes:
        return 0.0
    return _node(fold, spans, "ArrowEvalPython",
                 "number of output rows") / (n * nodes)


class CrawlLayers:
    """Replays the frontier layers on each committed round's state."""

    def __init__(self, wl, spark, tracer, work, loop):
        from cdx_writer_spark.frontier import politeness, priority
        from cdx_writer_spark.frontier import seen as seenmod
        from cdx_writer_spark.frontier.loop import _round_dir, latest_round
        from pyspark.sql import functions as F

        self.wl, self.tracer = wl, tracer
        state = os.path.join(work, "state")
        cfg = wl.cfg()
        web, _, rules = wl.frames(spark)
        with tracer.span("loop.prepare_web"):
            noop(web.repartition("surt_key").sortWithinPartitions("surt_key"))
        self.pending = self.polite = 0
        last = latest_round(state)
        kw = dict(n_partitions=cfg.n_partitions)
        # the loop's own probe arguments: 'auto' resolves from the
        # configured geometry and k is static, so no peek job runs
        probe = {kind: dict(kw, kind=kind, state_bytes=seenmod
                            .filter_state_bytes(kind, cfg.filter_capacity,
                                                cfg.filter_fpr,
                                                cfg.n_partitions))
                 for kind in ("bloom", "cuckoo")}
        probe["bloom"]["static_k"] = seenmod.BloomFilter.sized_for(
            cfg.filter_capacity, cfg.filter_fpr).k
        n_cands = 0
        for r in range(1, last + 1):
            prev = _round_dir(state, r - 1)
            frontier = spark.read.parquet(os.path.join(prev, "frontier"))
            filters = spark.read.parquet(os.path.join(prev, "filters"))
            pending = frontier.filter(F.col("state") == "pending")
            polite = politeness.apply_robots(pending, rules)
            with tracer.span("priority.schedule"):
                noop(priority.select_batch(polite,
                                           salt_threshold=cfg.salt_threshold))
            with tracer.span("politeness.count"):
                self.pending += pending.count()
                self.polite += polite.count()
            # materialised once, outside the probe spans, so each probe
            # span times the probe alone
            cands = _candidates(spark, web, os.path.join(
                _round_dir(state, r), "scheduled"), cfg.max_depth,
                os.path.join(work, "candidates-%d" % r))
            n_cands += cands.count()
            new = spark.read.parquet(os.path.join(_round_dir(state, r),
                                                  "seen"))
            with tracer.span("seen.probe"):
                noop(seenmod.flag_maybe_seen(
                    cands, filters, strategy=cfg.probe_strategy,
                    **probe[cfg.filter_kind]))
            with tracer.span("seen.fold"):
                noop(seenmod.update_filters(
                    new, filters, capacity=cfg.filter_capacity,
                    fpr=cfg.filter_fpr, strategy=cfg.fold_strategy,
                    kind=cfg.filter_kind, **kw))
            with tracer.span("seen.cogroup_probe"):
                noop(seenmod.flag_maybe_seen(cands, filters,
                                             strategy="cogroup",
                                             **probe[cfg.filter_kind]))
            cuckoo = os.path.join(work, "cuckoo-%d" % r)
            with tracer.span("seen.cuckoo_build"):
                seen_upto = spark.read.parquet(*[
                    os.path.join(_round_dir(state, i), "seen")
                    for i in range(r)])
                seenmod.update_filters(
                    seen_upto, seenmod.empty_filters(
                        spark, cfg.n_partitions, cfg.filter_capacity,
                        cfg.filter_fpr, kind="cuckoo"),
                    capacity=cfg.filter_capacity, fpr=cfg.filter_fpr,
                    kind="cuckoo", **kw).write.parquet(cuckoo)
            ck = spark.read.parquet(cuckoo)
            with tracer.span("seen.cuckoo_probe"):
                noop(seenmod.flag_maybe_seen(cands, ck, **probe["cuckoo"]))
            with tracer.span("seen.cuckoo_fold"):
                noop(seenmod.update_filters(
                    new, ck, capacity=cfg.filter_capacity,
                    fpr=cfg.filter_fpr, kind="cuckoo", **kw))
        self.rounds = last
        self.round_metrics = _round_metrics(state)
        if n_cands != self.round_metrics["candidates_in"]:
            raise RuntimeError(
                "replayed %d probe candidates, the crawl probed %d"
                % (n_cands, self.round_metrics["candidates_in"]))
        self.filter_bytes = _filter_bytes(os.path.join(
            _round_dir(state, last), "filters"))

    def finish(self, fold) -> dict:
        tr, R = self.tracer, max(1, self.rounds)
        rm = self.round_metrics
        new = rm["new_keys"]
        fp = rm["maybe_seen"] - (rm["candidates_in"] - new)
        py_in = sum(v for s in tr.ids("seen.fold")
                    for (k, metric), v in fold.nodes[s].items()
                    if metric == "data sent to Python workers")
        m = {
            "frontier.priority.schedule_s": tr.total("priority.schedule") / R,
            "frontier.politeness.dropped_ratio": (
                1.0 - self.polite / self.pending if self.pending else 0.0),
            "frontier.seen.probe_s": tr.total("seen.probe") / R,
            "frontier.seen.fold_s": tr.total("seen.fold") / R,
            "frontier.seen.fold_py_bytes": py_in / R,
            "frontier.seen.filter_state_bytes": self.filter_bytes,
            "frontier.seen.maybe_seen_ratio": (
                rm["maybe_seen"] / rm["candidates_in"]
                if rm["candidates_in"] else 0.0),
            "frontier.seen.false_positive_ratio": fp / new if new else 0.0,
            "frontier.seen.cogroup_probe_s":
                tr.total("seen.cogroup_probe") / R,
            "frontier.seen.cuckoo_probe_s": tr.total("seen.cuckoo_probe") / R,
            "frontier.seen.cuckoo_fold_s": tr.total("seen.cuckoo_fold") / R,
            "frontier.loop.prepare_web_s": tr.total("loop.prepare_web"),
        }
        m.update(_round_costs(fold, tr, self.rounds))
        return m


def _candidates(spark, web, scheduled_dir: str, max_depth: int,
                path: str):
    """A round's probe candidates, written to ``path`` and read back:
    the distinct outlink keys of the pages the round fetched, at their
    least depth, with their page rows from the web table (every outlink
    of the generated graph is one of its pages)."""
    from pyspark.sql import functions as F

    batch = spark.read.parquet(scheduled_dir).select("surt_key", "depth")
    links = (batch.join(web.select("surt_key", "outlink_surts"), "surt_key")
             .select(F.explode("outlink_surts").alias("surt_key"),
                     (F.col("depth") + 1).alias("depth"))
             .filter(F.col("depth") <= max_depth)
             .groupBy("surt_key").agg(F.min("depth").alias("depth")))
    (links.join(web.select("surt_key", "url", "host", "host_rank"),
                "surt_key")
     .write.parquet(path))
    return spark.read.parquet(path)


def _round_metrics(state: str) -> dict:
    """Totals over rounds >= 1 of the loop's own ``metrics/`` tables."""
    import pyarrow.parquet as pq

    tot = {"candidates_in": 0, "maybe_seen": 0, "new_keys": 0}
    for d in glob.glob(os.path.join(state, "round_*", "metrics")):
        t = pq.read_table(d).to_pydict()
        for i, rnd in enumerate(t["round"]):
            if rnd >= 1 and t["partition_id"][i] >= 0:
                for k in tot:
                    tot[k] += t[k][i] or 0
    return tot


def _filter_bytes(filters_dir: str) -> float:
    import pyarrow.parquet as pq

    blobs = pq.read_table(filters_dir, columns=["filter_blob"]).column(0)
    return float(sum(len(b.as_py() or b"") for b in blobs))


def _round_costs(fold, tracer, rounds: int) -> dict:
    """Per-round costs of the traced crawl jobs from their write
    executions, grouped by round directory and table."""
    jobs = set(tracer.ids("job"))
    by_round: dict[int, list[dict]] = {}
    for w in fold.writes:
        if w["span"] not in jobs:
            continue
        parts = w["path"].rstrip("/").split("/")
        if len(parts) < 2 or not parts[-2].startswith("round_"):
            continue
        w = dict(w, round=int(parts[-2].split("_")[1]), table=parts[-1])
        by_round.setdefault(w["round"], []).append(w)
    n_jobs = max(1, len(jobs))
    walls, commit, written, shuffle = [], 0.0, 0.0, 0.0
    for r in sorted(by_round):
        ws = by_round[r]
        if r >= 1 and (r - 1) in by_round:
            # a round runs from the previous round's last write to its own
            walls.append((max(w["end"] for w in ws)
                          - max(w["end"] for w in by_round[r - 1])) / 1e3)
        if r >= 1:
            for w in ws:
                m = w["metrics"]
                commit += (m.get("job commit time", 0)
                           + m.get("task commit time", 0)) / 1e3
                written += m.get("written output", 0)
                shuffle += m.get("Exchange.shuffle bytes written", 0)
    per_round = max(1, rounds) * n_jobs
    spill = _per_job([fold.tasks[j]["spill_bytes"] for j in jobs])
    return {"frontier.loop.round_s": statistics.mean(walls) if walls else 0.0,
            "frontier.loop.commit_s": commit / per_round,
            "frontier.loop.checkpoint_bytes": written / per_round,
            "frontier.loop.shuffle_bytes": shuffle / per_round,
            "frontier.loop.spill_bytes": spill / max(1, rounds)}


LAYERS = {"warc_sorted": CdxLayers, "crawl_rounds": CrawlLayers}


def save_run(run_id: str, tracer: Tracer, fold, metrics: dict) -> None:
    """Spans and folded rows of this run, next to the last few runs'."""
    os.makedirs(run.RUNS, exist_ok=True)
    rows = [{"span": s, "kind": k, "metric": m, "value": v}
            for s, d in fold.nodes.items() for (k, m), v in d.items()]
    rows += [{"span": s, "kind": "tasks", "metric": m, "value": v}
             for s, d in fold.tasks.items() for m, v in d.items()]
    with open(os.path.join(run.RUNS, "trace-%s.json" % run_id), "w") as fh:
        json.dump({"spans": tracer.spans, "rows": rows,
                   "writes": fold.writes, "metrics": metrics}, fh)
    old = sorted(glob.glob(os.path.join(run.RUNS, "trace-*.json")),
                 key=os.path.getmtime)
    for stale in old[:-KEEP_RUNS]:
        os.remove(stale)


# name -> unit of every per-layer metric; all are reported on every
# workload, and a layer the workload does not touch reads 0
UNITS = {
    "warc_source.py_run_s": "s", "warc_source.py_bytes_in": "B/rec",
    "warc_source.py_bytes_out": "B/rec", "warc_source.scan_tasks": "count",
    "warc_source.task_skew": "ratio",
    "warc_source.split_us_per_record": "us", "warc_source.source_s": "s",
    "udfs.py_run_s": "s", "udfs.py_start_s": "s",
    "udfs.py_bytes_in_per_record": "B/rec",
    "udfs.py_bytes_out_per_record": "B/rec",
    "udfs.rows_per_input_row": "ratio",
    "udfs.rows_per_input_row.per_file": "ratio",
    "canonicalize.surt_us_per_url": "us", "udfs.meta_us_per_payload": "us",
    "job.codegen_s": "s", "job.self_s": "s", "job.admitted_ratio": "ratio",
    "io.scan_bytes": "B/rec", "io.scan_s": "s",
    "sink.sorted.shuffle_bytes": "B/rec", "sink.sorted.sort_s": "s",
    "sink.sorted.spill_bytes": "B", "sink.sorted.cache_bytes": "B",
    "sink.sorted.commit_s": "s", "sink.sorted.files": "count",
    "sink.sorted.self_s": "s",
    "sink.per_file.shuffle_bytes": "B/rec", "sink.per_file.sort_s": "s",
    "sink.per_file.spill_bytes": "B", "sink.per_file.commit_s": "s",
    "sink.per_file.files": "count", "sink.per_file.self_s": "s",
    "frontier.priority.schedule_s": "s",
    "frontier.politeness.dropped_ratio": "ratio",
    "frontier.seen.probe_s": "s", "frontier.seen.fold_s": "s",
    "frontier.seen.fold_py_bytes": "B",
    "frontier.seen.filter_state_bytes": "B",
    "frontier.seen.maybe_seen_ratio": "ratio",
    "frontier.seen.false_positive_ratio": "ratio",
    "frontier.seen.cogroup_probe_s": "s",
    "frontier.seen.cuckoo_probe_s": "s", "frontier.seen.cuckoo_fold_s": "s",
    "frontier.loop.round_s": "s", "frontier.loop.commit_s": "s",
    "frontier.loop.checkpoint_bytes": "B",
    "frontier.loop.shuffle_bytes": "B", "frontier.loop.spill_bytes": "B",
    "frontier.loop.prepare_web_s": "s",
    "spark.exec_cpu_s": "s", "spark.gc_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "trace.records_per_s": "1/s",
}
ZERO = {k: 0.0 for k in UNITS}
