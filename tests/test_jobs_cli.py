"""Ship-path tests: the --py-files artifact and the spark-submit jobs.

The north rule requires the whole job to ship via
``spark-submit --py-files``.  Three gates:

* ``scripts/package.py`` builds a DETERMINISTIC zip (byte-identical on
  rebuild) containing the full package;
* the zip imports from a CLEAN interpreter (cwd outside the repo, repo
  not on sys.path) — proving the artifact is self-contained;
* ``jobs/cdx_job.py`` runs end-to-end under real ``spark-submit
  --py-files <zip>`` from outside the repo, and its sorted CDX output
  is byte-identical to the pure-Python row oracle's.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import package as packager  # scripts/package.py


def test_pyfiles_zip_is_deterministic_and_complete(tmp_path):
    z1 = packager.build(str(tmp_path / "a.zip"))
    z2 = packager.build(str(tmp_path / "b.zip"))
    assert open(z1, "rb").read() == open(z2, "rb").read()
    import zipfile
    names = zipfile.ZipFile(z1).namelist()
    assert "cdx_writer_spark/__init__.py" in names
    assert "cdx_writer_spark/functions/extract.py" in names
    assert "cdx_writer_spark/frontier/loop.py" in names
    assert not any("__pycache__" in n for n in names)


def test_pyfiles_zip_imports_from_clean_interpreter(tmp_path):
    z = packager.build(str(tmp_path / "app.zip"))
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import cdx_writer_spark.job, cdx_writer_spark.frontier.loop, "
        "cdx_writer_spark.functions.extract; "
        "print('zipimport-ok', cdx_writer_spark.job.__file__)" % z)
    r = subprocess.run([sys.executable, "-c", code], cwd=str(tmp_path),
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
    assert "zipimport-ok" in r.stdout
    assert "app.zip" in r.stdout  # loaded from the zip, not the repo


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_cdx_job_via_spark_submit_pyfiles(spark, tmp_path):
    from cdx_writer_spark.oracle import oracle_cdx
    from cdx_writer_spark.pages_gen import bulk_rows
    from cdx_writer_spark.schema import PAGES_SCHEMA

    rows = bulk_rows(150)
    pages_dir = str(tmp_path / "pages.parquet")
    spark.createDataFrame(rows, PAGES_SCHEMA).write.parquet(pages_dir)

    z = packager.build(str(tmp_path / "app.zip"))
    job = str(tmp_path / "cdx_job.py")  # run from OUTSIDE the repo so
    shutil.copy(os.path.join(REPO, "jobs", "cdx_job.py"), job)
    out = str(tmp_path / "out_cdx")
    stats_file = str(tmp_path / "stats.json")
    env = dict(os.environ,
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    env.pop("PYTHONPATH", None)  # the zip must be the only source
    r = subprocess.run(
        ["spark-submit", "--master", "local[4]", "--py-files", z,
         job, pages_dir, out, "--stats-file", stats_file, "--cpus", "4"],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=420,
        env=env)
    assert r.returncode == 0, r.stderr[-4000:]

    files = sorted(p for p in glob.glob(os.path.join(out, "*"))
                   if not os.path.basename(p).startswith("_SUCCESS")
                   and not p.endswith(".crc"))
    got = []
    for p in files:
        got += open(p).read().splitlines()
    assert got[0].startswith(" CDX N b a m s k r M S V g")

    expected, exp_stats = oracle_cdx(
        sorted(rows, key=lambda x: (x["warc_file"], x["offset"])),
        all_records=False)
    assert got[1:] == sorted(expected)
    assert json.load(open(stats_file)) == exp_stats


def test_corpus_job_via_spark_submit_pyfiles(spark, tmp_path):
    """The corpus-build ship path end-to-end: a spark-submit run from
    OUTSIDE the repo (zip is the only package source) must produce
    byte-identical rows to the in-process web_corpus_pipeline query
    and a stats file whose counters agree with the output."""
    import __spark_entry__ as entrymod
    from cdx_writer_spark.webview import pages_from_documents

    sf = "/root/testdata/sf0.001"
    pages_dir = str(tmp_path / "pages.parquet")
    pages_from_documents(spark, sf).write.parquet(pages_dir)

    z = packager.build(str(tmp_path / "app.zip"))
    job = str(tmp_path / "corpus_job.py")
    shutil.copy(os.path.join(REPO, "jobs", "corpus_job.py"), job)
    out = str(tmp_path / "out_corpus")
    stats_file = str(tmp_path / "corpus_stats.json")
    env = dict(os.environ,
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    env.pop("PYTHONPATH", None)
    r = subprocess.run(
        ["spark-submit", "--master", "local[4]", "--py-files", z,
         job, pages_dir, out, "--stats-file", stats_file,
         "--cpus", "4"],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=420,
        env=env)
    assert r.returncode == 0, r.stderr[-4000:]

    got = sorted(map(tuple, spark.read.parquet(out)
                     .select("doc_id", "url", "clean_text",
                             "n_spans", "n_kept").collect()))
    want = sorted(map(tuple, entrymod.q_web_corpus_pipeline(
        spark, sf).select("doc_id", "url", "clean_text",
                          "n_spans", "n_kept").collect()))
    assert got == want and len(got) > 0

    stats = json.load(open(stats_file))
    assert stats["clean_docs"] == len(got)
    assert stats["admitted"] == len(got)
    assert stats["spans_kept"] <= stats["spans_total"]
    assert stats["extracted"] >= stats["admitted"]


def test_corpus_job_hygiene_flags(spark, tmp_path):
    """--decontaminate-against + --pii-scrub: the opt-in hygiene
    stages drop eval-overlapping documents and carry PII counts into
    the output schema (plain-python run, repo-path fallback)."""
    from pyspark.sql import functions as F

    from cdx_writer_spark.webview import pages_from_documents

    sf = "/root/testdata/sf0.001"
    pages_dir = str(tmp_path / "pages.parquet")
    pages_from_documents(spark, sf).write.parquet(pages_dir)
    eval_dir = str(tmp_path / "eval.parquet")
    (spark.read.parquet(f"{sf}/documents.parquet")
     .filter(F.col("doc_id") % 7 == 0)
     .select("doc_id", "text").write.parquet(eval_dir))

    out = str(tmp_path / "out_corpus")
    stats_file = str(tmp_path / "stats.json")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "corpus_job.py"),
         pages_dir, out, "--stats-file", stats_file, "--cpus", "4",
         "--decontaminate-against", eval_dir, "--pii-scrub"],
        capture_output=True, text=True, timeout=420)
    assert r.returncode == 0, r.stderr[-4000:]

    stats = json.load(open(stats_file))
    assert stats["decontaminated"] > 0
    assert stats["clean_docs"] == stats["admitted"] - \
        stats["decontaminated"]
    got = spark.read.parquet(out)
    assert {"n_email", "n_ssn", "n_phone", "n_ipv4"} <= set(got.columns)
    assert got.count() == stats["clean_docs"]


def test_corpus_job_selection_flags(spark, tmp_path):
    """--quality-mix + --dsir-target: the model-based selection tier
    runs on the CLEAN corpus — perplexity tiers + deterministic mix
    first, DSIR top-quartile against a target table second — and the
    stats counters agree with the written output."""
    from pyspark.sql import functions as F

    from cdx_writer_spark.webview import pages_from_documents

    sf = "/root/testdata/sf0.001"
    pages_dir = str(tmp_path / "pages.parquet")
    pages_from_documents(spark, sf).write.parquet(pages_dir)
    target_dir = str(tmp_path / "target.parquet")
    (spark.read.parquet(f"{sf}/documents.parquet")
     .filter(F.col("doc_id") % 11 == 0)
     .select("doc_id", "text").write.parquet(target_dir))

    out = str(tmp_path / "out_corpus")
    stats_file = str(tmp_path / "stats.json")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "corpus_job.py"),
         pages_dir, out, "--stats-file", stats_file, "--cpus", "4",
         "--quality-mix", "1000,500,125", "--dsir-target", target_dir],
        capture_output=True, text=True, timeout=420)
    assert r.returncode == 0, r.stderr[-4000:]

    stats = json.load(open(stats_file))
    assert 0 < stats["mix_kept"] <= stats["mix_scored"]
    assert stats["mix_scored"] == stats["admitted"]
    assert stats["mix_unscored"] >= 0
    assert 0 < stats["dsir_kept"] <= stats["mix_kept"]
    # clean_docs keeps its hygiene meaning; downsampling is separate
    assert stats["clean_docs"] == stats["admitted"]
    got = spark.read.parquet(out)
    # tier audit columns ride the output; only selected rows land
    assert {"bucket", "ppl"} <= set(got.columns)
    assert got.count() == stats["dsir_kept"] == stats["selected_docs"]
    assert set(r["bucket"] for r in got.select("bucket")
               .distinct().collect()) <= {"head", "middle", "tail"}


def test_corpus_job_holdout_split(spark, tmp_path):
    """--holdout-out: the final corpus splits into a deterministic
    eval carve + train remainder — disjoint, exhaustive, and counted
    in the stats."""
    from cdx_writer_spark.webview import pages_from_documents

    sf = "/root/testdata/sf0.001"
    pages_dir = str(tmp_path / "pages.parquet")
    pages_from_documents(spark, sf).write.parquet(pages_dir)

    out = str(tmp_path / "train_corpus")
    hold = str(tmp_path / "holdout_corpus")
    stats_file = str(tmp_path / "stats.json")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "corpus_job.py"),
         pages_dir, out, "--stats-file", stats_file, "--cpus", "4",
         "--holdout-out", hold, "--holdout-permille", "200"],
        capture_output=True, text=True, timeout=420)
    assert r.returncode == 0, r.stderr[-4000:]

    stats = json.load(open(stats_file))
    train_ids = {row["doc_id"] for row in
                 spark.read.parquet(out).select("doc_id").collect()}
    hold_ids = {row["doc_id"] for row in
                spark.read.parquet(hold).select("doc_id").collect()}
    assert stats["holdout_docs"] == len(hold_ids) > 0
    assert not (train_ids & hold_ids)
    assert len(train_ids) + len(hold_ids) == stats["clean_docs"]
    # ~20% carve, binomially loose bounds
    frac = len(hold_ids) / (len(train_ids) + len(hold_ids))
    assert 0.08 <= frac <= 0.35


def test_wet_job_via_spark_submit_pyfiles(spark, tmp_path):
    """The WET-derivative ship path end-to-end: a spark-submit run
    from OUTSIDE the repo must land per-archive WET parts whose
    records are byte-identical to the in-process operator's, with a
    stats file agreeing with the output."""
    from cdx_writer_spark.functions.extract import wet_records
    from cdx_writer_spark.webview import pages_from_documents

    sf = "/root/testdata/sf0.001"
    pages_dir = str(tmp_path / "pages.parquet")
    pages_from_documents(spark, sf).write.parquet(pages_dir)

    z = packager.build(str(tmp_path / "app.zip"))
    job = str(tmp_path / "wet_job.py")
    shutil.copy(os.path.join(REPO, "jobs", "wet_job.py"), job)
    out = str(tmp_path / "out_wet")
    stats_file = str(tmp_path / "wet_stats.json")
    env = dict(os.environ,
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable)
    env.pop("PYTHONPATH", None)
    r = subprocess.run(
        ["spark-submit", "--master", "local[4]", "--py-files", z,
         job, pages_dir, out, "--stats-file", stats_file,
         "--cpus", "4"],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=420,
        env=env)
    assert r.returncode == 0, r.stderr[-4000:]

    batch = wet_records(pages_from_documents(spark, sf)).collect()
    blob = "".join(
        open(f, newline="").read()
        for f in glob.glob(os.path.join(out, "warc_file=*", "part-*")))
    assert blob.count("WARC/1.0\r\n") == len(batch)
    for rec in batch[:5]:
        assert rec["wet_record"] in blob

    stats = json.load(open(stats_file))
    assert stats["n_records"] == len(batch)
    assert stats["text_octets"] == sum(
        r["content_length"] for r in batch)
    assert stats["n_archives"] == len(
        {r["warc_file"] for r in batch})


def test_crawl_index_job_runs_rounds(tmp_path):
    """The crawl job end-to-end on a small synthetic web (the probe
    strategy resolves from the filter geometry): exit 0 and one JSON
    summary per round."""
    state = str(tmp_path / "crawl_state")
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "crawl_index_job.py"),
         "--state-dir", state, "--pages", "2000", "--seeds", "20",
         "--rounds", "2", "--cpus", "2"],
        capture_output=True, text=True, timeout=420)
    assert r.returncode == 0, r.stderr[-4000:]
    summaries = [json.loads(ln) for ln in r.stdout.splitlines()
                 if ln.startswith("{")]
    assert [s["round"] for s in summaries] == [1, 2]
    assert all(s["scheduled"] > 0 for s in summaries)
