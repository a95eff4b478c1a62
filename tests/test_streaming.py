"""Incremental WET: the availableNow drain behind ``wet_job
--incremental`` must emit exactly the batch operator's records."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_wet_stream_matches_batch_and_is_incremental(spark, tmp_path):
    """Streaming WET generation drained in two increments must emit
    exactly the batch operator's records (content-derived ids make
    the comparison byte-level), and the second drain must process
    only the delta."""
    import glob
    import os

    from cdx_writer_spark.functions.extract import (
        run_wet_stream, wet_records,
    )
    from cdx_writer_spark.webview import pages_from_documents

    sf = "/root/testdata/sf0.001"
    land = str(tmp_path / "landing")
    out = str(tmp_path / "wet")
    ckpt = str(tmp_path / "ckpt")
    pages = pages_from_documents(spark, sf)
    a = pages.filter(F.col("doc_id") % 2 == 0)
    b = pages.filter(F.col("doc_id") % 2 == 1)

    def read_uris():
        uris = []
        for f in glob.glob(os.path.join(out, "warc_file=*", "part-*")):
            for ln in open(f):
                if ln.startswith("WARC-Target-URI: "):
                    uris.append(ln.split(": ", 1)[1].strip())
        return sorted(uris)

    a.write.mode("append").parquet(land)
    run_wet_stream(spark, land, out, ckpt)
    first = read_uris()
    assert first

    b.write.mode("append").parquet(land)
    run_wet_stream(spark, land, out, ckpt)
    got = read_uris()
    assert len(got) > len(first)

    batch = wet_records(pages).collect()
    assert got == sorted(r["url"] for r in batch)
    # byte-level: every batch record body appears in the landed parts
    blob = "".join(
        open(f, newline="").read()      # keep CRLF verbatim
        for f in glob.glob(os.path.join(out, "warc_file=*", "part-*")))
    assert blob.count("WARC/1.0\r\n") == len(batch)
    for r in batch[:5]:
        assert r["wet_record"] in blob
