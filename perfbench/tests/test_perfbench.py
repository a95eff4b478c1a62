"""Tests of the benchmark itself, on tiny inputs.

    python -m pytest perfbench/tests -q

They check that the generator is deterministic, that a corrupted CDX
line and a duplicated crawl URL each count as a failed job (in the
timed loop and in the warm-up), and that a
traced run folds its own event log into every named per-layer metric.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import checks  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import proctree  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

SEED = 4242


@pytest.fixture(autouse=True)
def tiny(monkeypatch, tmp_path):
    """Small inputs, and caches/run records under the test's tmp dir."""
    monkeypatch.setattr(workloads, "WARC_RECORDS", 240)
    monkeypatch.setattr(workloads, "WARC_FILES", 3)
    monkeypatch.setattr(workloads, "WEB_PAGES", 3000)
    monkeypatch.setattr(workloads, "WEB_HOSTS", 60)
    monkeypatch.setattr(workloads, "WEB_SEEDS", 120)
    monkeypatch.setattr(gen, "CACHE", str(tmp_path / "cache"))
    monkeypatch.setattr(run, "RUNS", str(tmp_path / "runs"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [run.ROOT] + [p for p in os.environ.get("PYTHONPATH", "")
                      .split(os.pathsep) if p and p != run.ROOT])


@pytest.fixture
def session(tmp_path):
    spark = run.start_session(str(tmp_path / "work"), None)
    yield spark
    spark.stop()


def test_generator_is_deterministic(tmp_path):
    a = gen.make_warcs(7, str(tmp_path / "a"), 50, 2)
    b = gen.make_warcs(7, str(tmp_path / "b"), 50, 2)
    assert a == b
    for name in os.listdir(tmp_path / "a"):
        assert (tmp_path / "a" / name).read_bytes() == \
            (tmp_path / "b" / name).read_bytes()
    # one single-stream member with three records, sharing V/S fields
    members = {}
    for r in a:
        members.setdefault((r["warc_file"], r["offset"]), []).append(r)
    assert any(len(v) == 3 for v in members.values())


def _corrupt_first_line(out: str) -> None:
    part = sorted(glob.glob(os.path.join(out, "part-*")))[0]
    with open(part, "rb") as fh:
        data = bytearray(fh.read())
    data[0] = ord("#") if data[0] != ord("#") else ord("$")
    with open(part, "wb") as fh:
        fh.write(bytes(data))


def _duplicate_a_url(out: str) -> None:
    import pyarrow.parquet as pq

    d = os.path.join(out, "round_00001", "scheduled")
    t = pq.read_table(d)
    pq.write_table(t.slice(0, 1), os.path.join(d, "part-dup.parquet"))


@pytest.mark.parametrize("name,tamper", [
    ("warc_sorted", _corrupt_first_line),
    ("crawl_rounds", _duplicate_a_url),
])
def test_bad_output_counts_as_failure(session, tmp_path, name, tamper):
    wl = workloads.WORKLOADS[name](SEED)
    with proctree.PeakRss() as rss:
        clean = run.Loop(wl, session, str(tmp_path / "clean"), rss)
        assert clean.one()
        bad = run.Loop(wl, session, str(tmp_path / "bad"), rss)

        check = wl.check

        def tampered_check(out, result):
            tamper(out)
            check(out, result)

        assert not bad.one(check=tampered_check)
        # warm-up jobs are checked too
        wl.check = tampered_check
        warm = run.Loop(wl, session, str(tmp_path / "warm"), rss)
        assert not warm.warmup()
    assert (bad.attempted, bad.failed) == (1, 1)
    assert (warm.attempted, warm.failed, warm.rates) == (1, 1, [])
    result = run.summarize(wl, bad, {})
    assert result["correct"] is False and result["failed"] == 1


def test_crawl_check_rejects_budget_and_robots(tmp_path):
    rows = [(1, "site0.example.com", 1, "k%d" % i, "http://site0.example."
             "com/p/%d" % i, i + 1) for i in range(3)]
    rules = {"site0.example.com": (None, 2)}
    with pytest.raises(checks.CheckFailed, match="budget"):
        _check_rows(tmp_path, rows, rules)
    rules = {"site0.example.com": ("/p/1", 8)}
    with pytest.raises(checks.CheckFailed, match="robots"):
        _check_rows(tmp_path, rows, rules)


def _check_rows(tmp_path, rows, rules):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "state" / "round_00001" / "scheduled"
    d.mkdir(parents=True, exist_ok=True)
    cols = list(zip(*rows))
    pq.write_table(pa.table({
        "round": pa.array(cols[0], pa.int32()), "host": cols[1],
        "depth": pa.array(cols[2], pa.int32()), "surt_key": cols[3],
        "url": cols[4], "host_pos": pa.array(cols[5], pa.int32()),
    }), str(d / "part-0.parquet"))
    return checks.check_crawl(str(tmp_path / "state"), rules, len(rows))


CDX_KINDS = {"MapInPandas", "ArrowEvalPython", "Exchange", "Sort",
             "InMemoryTableScan", "Scan", "WholeStageCodegen",
             "WriteCommand"}


def _traced(name, tmp_path):
    wl = workloads.WORKLOADS[name](SEED)
    work = str(tmp_path / "work")
    os.makedirs(work)
    result = tracing.traced_run(wl, work, 1, time.perf_counter() + 170)
    saved = glob.glob(os.path.join(run.RUNS, "trace-%s-*.json" % name))
    assert len(saved) == 1
    with open(saved[0]) as fh:
        return result, json.load(fh)


def _values(result):
    assert set(result["metrics"]) == set(tracing.UNITS)
    return {k: v["value"] for k, v in result["metrics"].items()}


def test_traced_cdx_run_folds_every_layer(tmp_path):
    result, saved = _traced("warc_sorted", tmp_path)
    assert result["correct"] and result["failed"] == 0
    kinds = {r["kind"] for r in saved["rows"]}
    assert CDX_KINDS <= kinds, CDX_KINDS - kinds
    names = {s["name"] for s in saved["spans"]}
    assert {"job", "job_per_file", "warc_noop", "records_noop",
            "scan_noop"} <= names
    v = _values(result)
    for k in ("warc_source.py_run_s", "warc_source.py_bytes_in",
              "warc_source.scan_tasks", "warc_source.split_us_per_record",
              "udfs.py_bytes_in_per_record", "io.scan_bytes",
              "sink.sorted.shuffle_bytes", "sink.sorted.files",
              "sink.per_file.shuffle_bytes", "sink.per_file.files",
              "spark.jobs", "spark.tasks", "canonicalize.surt_us_per_url"):
        assert v[k] > 0, k
    assert v["udfs.rows_per_input_row"] > 0
    assert v["udfs.rows_per_input_row.per_file"] > 0
    assert all(v[k] == 0 for k in v if k.startswith("frontier."))


def test_traced_crawl_run_folds_every_layer(tmp_path):
    result, saved = _traced("crawl_rounds", tmp_path)
    assert result["correct"] and result["failed"] == 0
    tables = {w["path"].rstrip("/").split("/")[-1] for w in saved["writes"]}
    assert {"frontier", "seen", "filters", "scheduled", "metrics"} <= tables
    v = _values(result)
    for k in ("frontier.priority.schedule_s", "frontier.seen.probe_s",
              "frontier.seen.fold_s", "frontier.seen.filter_state_bytes",
              "frontier.seen.cuckoo_probe_s", "frontier.seen.cogroup_probe_s",
              "frontier.loop.round_s", "frontier.loop.checkpoint_bytes",
              "frontier.loop.prepare_web_s", "spark.jobs"):
        assert v[k] > 0, k
    assert all(v[k] == 0 for k in v
               if k.startswith(("warc_source.", "sink.", "udfs.", "io.")))


def test_fold_attributes_threaded_jobs_by_time():
    spans = eventlog.Spans([
        {"id": "r:0", "name": "job", "start_ms": 100, "end_ms": 200},
        {"id": "r:1", "name": "inner", "start_ms": 120, "end_ms": 150},
    ])
    assert spans.resolve("r:0", 130) == "r:0"
    assert spans.resolve(None, 130) == "r:1"
    assert spans.resolve(None, 180) == "r:0"
    assert spans.resolve("unrelated", 300) is None
