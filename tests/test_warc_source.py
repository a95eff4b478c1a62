"""WARC source: synthesized .warc / .warc.gz archives must round-trip
through read_warc into PAGES_SCHEMA rows with reference-equal offsets,
sizes and CDX output."""

from __future__ import annotations

import gzip

from cdx_writer_spark import warc_source
from cdx_writer_spark.job import CDXConfig, cdx_lines


def _warc_record(rtype: str, url: str | None, date: str, body: bytes,
                 extra: dict | None = None) -> bytes:
    head = [f"WARC/1.0"]
    head.append(f"WARC-Type: {rtype}")
    if url is not None:
        head.append(f"WARC-Target-URI: {url}")
    head.append(f"WARC-Date: {date}")
    for k, v in (extra or {}).items():
        head.append(f"{k}: {v}")
    head.append(f"Content-Length: {len(body)}")
    raw = ("\r\n".join(head) + "\r\n\r\n").encode("latin1") + body
    return raw + b"\r\n\r\n"


def _http(body: bytes, status: str = "200 OK") -> bytes:
    return (f"HTTP/1.1 {status}\r\nContent-Type: text/html\r\n\r\n"
            .encode("latin1") + body)


RECORDS = [
    _warc_record("warcinfo", None, "2011-02-18T23:32:56Z",
                 b"software: test\r\n",
                 {"Content-Type": "application/warc-fields"}),
    _warc_record("response", "http://www.example.com/a",
                 "2011-02-18T23:32:57Z", _http(b"<html>hello</html>"),
                 {"Content-Type": "application/http; msgtype=response"}),
    _warc_record("response", "http://www.example.com/b",
                 "2019-11-18T12:56:03.123456Z",
                 _http(b"<html>microseconds</html>"),
                 {"Content-Type": "application/http; msgtype=response"}),
    _warc_record("request", "http://www.example.com/a",
                 "2011-02-18T23:32:57Z", b"GET /a HTTP/1.1\r\n\r\n",
                 {"Content-Type": "application/http; msgtype=request"}),
    _warc_record("revisit", "http://www.example.com/a",
                 "2011-02-18T23:33:00Z", b"",
                 {"Content-Type": "application/http; msgtype=response",
                  "WARC-Payload-Digest": "sha1:ABC234",
                  "WARC-Profile": "http://netpreserve.org/warc/1.0/"
                                  "revisit/identical-payload-digest"}),
]


def _write_archives(tmp_path):
    plain = tmp_path / "test.warc"
    plain.write_bytes(b"".join(RECORDS))
    gz = tmp_path / "test2.warc.gz"
    # member-per-record + one empty member (empty-gzips fixture shape)
    members = [gzip.compress(r) for r in RECORDS[:3]]
    members.insert(2, gzip.compress(b""))
    gz.write_bytes(b"".join(members))
    return plain, gz


def test_gzip_member_offsets(tmp_path):
    _, gz = _write_archives(tmp_path)
    data = gz.read_bytes()
    members = list(warc_source.split_gzip_members(data))
    assert len(members) == 4
    # offsets are exact prefix sums of compressed sizes
    pos = 0
    for off, size, _raw in members:
        assert off == pos
        pos += size
    assert pos == len(data)
    assert members[2][2] == b""       # the empty member


def test_read_warc_rows(spark, tmp_path):
    _write_archives(tmp_path)
    df = warc_source.read_warc(spark, str(tmp_path))
    rows = {(r.warc_file, r.offset): r for r in df.collect()}
    # 5 parsed records from the plain file + 3 from the gz (empty
    # member skipped)
    assert len(rows) == 8
    plain = sorted((k, v) for k, v in rows.items()
                   if k[0] == "test.warc")
    assert [v.record_type for _, v in plain] == [
        "warcinfo", "response", "response", "request", "revisit"]
    r1 = plain[1][1]
    assert r1.url == "http://www.example.com/a"
    assert r1.raw_date == "2011-02-18T23:32:57Z"
    assert bytes(r1.html).startswith(b"HTTP/1.1 200 OK")
    assert r1.warc_headers["WARC-Type"] == "response"
    # offsets strictly increasing per file, first at 0
    offs = [k[1] for k, _ in plain]
    assert offs[0] == 0 and offs == sorted(offs)


def test_warc_cdx_end_to_end(spark, tmp_path):
    """Default-mode CDX over the parsed archive: the request record is
    dropped, dates normalize (incl. microsecond truncation), digests
    strip the sha1: prefix."""
    _write_archives(tmp_path)
    pages = warc_source.read_warc(spark, str(tmp_path))
    lines = [r.cdx_line for r in
             cdx_lines(pages, CDXConfig(), sort=True).collect()]
    assert len(lines) == 5  # 2 resp + 1 revisit (plain) + 2 resp (gz)
    assert all(" 20110218233257 " in l or " 20191118125603 " in l
               or " 20110218233300 " in l for l in lines)
    revisit = [l for l in lines if " warc/revisit " in l]
    assert len(revisit) == 1 and " ABC234 " in revisit[0]
    assert not any(" warc/request " in l for l in lines)


def test_reference_arc_fixture_parity(spark, tmp_path):
    """End-to-end byte parity on a REAL reference ARC file: read
    16_digit_date.arc.gz through the distributed source + CDX pipeline
    and compare with the reference's golden output (harvested from
    /root/reference/tests/test_small_warcs.py:14, --all-records)."""
    import os
    import shutil

    import pytest

    src = "/root/reference/tests/small_warcs/16_digit_date.arc.gz"
    if not os.path.exists(src):
        pytest.skip("reference fixtures not present")
    d = tmp_path / "arcs"
    d.mkdir()
    shutil.copy(src, d / "16_digit_date.arc.gz")

    pages = warc_source.read_warc(spark, str(d))
    got = [r.cdx_line for r in cdx_lines(
        pages, CDXConfig(all_records=True), sort=False).collect()]
    expected = [
        "filedesc://INA-HISTORICAL-2000-GROUP-ACS-20100812000000-00001"
        ".arc 20100812000000 filedesc://INA-HISTORICAL-2000-GROUP-ACS-"
        "20100812000000-00001.arc warc/filedesc - "
        "VXEDWGPHSNERWHDOUD6YWRWNT4ZOLEX4 - - 168 0 16_digit_date.arc.gz",
        "com,afp)/home/img/es.gif 20000823054100 "
        "http://www.afp.com:80/home/img/es.gif image/gif 200 "
        "FL5ZDSVRACUUD2GUCKOWWY6LPPLR7TSJ - - 936 168 "
        "16_digit_date.arc.gz",
    ]
    assert got == expected
    # default mode: the filedesc record is not admitted
    got_default = [r.cdx_line for r in cdx_lines(
        pages, CDXConfig(), sort=False).collect()]
    assert got_default == expected[1:]


def test_single_stream_gzip_emits_all_records(tmp_path):
    """A .warc.gz whose ONE gzip member contains the whole archive
    (single-stream gzip, which warctools reads record-by-record) must
    emit every record, not just the first; V/S fall back to the
    member's offset/size."""
    data = gzip.compress(b"".join(RECORDS))
    rows = list(warc_source.archive_to_rows("single.warc.gz", data))
    assert len(rows) == len(RECORDS)
    assert [r["record_type"] for r in rows] == [
        "warcinfo", "response", "response", "request", "revisit"]
    # member-level fallback: all records share the member's offset
    assert {r["offset"] for r in rows} == {0}
    urls = [r["url"] for r in rows]
    assert urls[1] == "http://www.example.com/a"
    assert urls[2] == "http://www.example.com/b"


def test_lone_lf_delimited_warc_parses_all_records(tmp_path):
    """Uncompressed WARCs with LF-only record separators (the
    reference's crlf_pattern tolerates \\r?\\n) must not truncate after
    the first record."""
    def lf_record(rtype: str, url: str, body: bytes) -> bytes:
        head = ["WARC/1.0", f"WARC-Type: {rtype}",
                f"WARC-Target-URI: {url}",
                "WARC-Date: 2011-02-18T23:32:56Z",
                f"Content-Length: {len(body)}"]
        return ("\n".join(head) + "\n\n").encode("latin1") + body + b"\n\n"

    recs = [lf_record("response", f"http://www.example.com/{i}",
                      _http(b"<html>%d</html>" % i)) for i in range(4)]
    rows = list(warc_source.archive_to_rows("lf.warc", b"".join(recs)))
    assert [r["url"] for r in rows] == [
        f"http://www.example.com/{i}" for i in range(4)]


def test_single_stream_records_get_file_order_ordinals(tmp_path):
    """Records of one multi-record member share the member offset (V
    fallback), so record_seq must supply the deterministic file-order
    tie-break the sort=False sinks sort by."""
    data = gzip.compress(b"".join(RECORDS))
    rows = list(warc_source.archive_to_rows("single.warc.gz", data))
    assert [r["record_seq"] for r in rows] == list(range(len(RECORDS)))
    assert {r["offset"] for r in rows} == {0}  # the tie record_seq breaks


def test_multi_record_member_residue_raises(tmp_path):
    """A multi-record member whose re-split leaves undecodable bytes
    (truncated/corrupt record mid-member) must raise like the corrupt-
    gzip path, not silently drop the tail records."""
    import pytest

    junk = b"WARC/1.0\r\nbroken-header-without-terminator"
    data = gzip.compress(b"".join(RECORDS[:3]) + junk)
    with pytest.raises(ValueError, match="unparseable record data"):
        list(warc_source.archive_to_rows("resid.warc.gz", data))


def test_corrupt_gzip_member_raises(tmp_path):
    """Trailing undecodable bytes after valid members raise (reference
    parity: ParseError on stream errors) instead of silently truncating
    the index."""
    import pytest

    good = gzip.compress(RECORDS[0])
    data = good + b"\x1f\x8bGARBAGE-NOT-A-MEMBER"
    members = list(warc_source.split_gzip_members(data))
    assert members[-1][2] is None  # corruption marker
    with pytest.raises(ValueError, match="corrupt gzip member"):
        list(warc_source.archive_to_rows("bad.warc.gz", data))


def test_truncated_final_gzip_member_raises():
    """A final member cut before its end-of-stream marker is corrupt,
    not a short record: the split marks it and the archive raises."""
    import pytest

    first, second = gzip.compress(RECORDS[0]), gzip.compress(RECORDS[1])
    data = first + second[:len(second) // 2]
    members = list(warc_source.split_gzip_members(data))
    assert [m[:2] for m in members] == [
        (0, len(first)), (len(first), len(data) - len(first))]
    assert members[0][2] == RECORDS[0]
    assert members[-1][2] is None  # corruption marker
    with pytest.raises(ValueError, match="corrupt gzip member"):
        list(warc_source.archive_to_rows("cut.warc.gz", data))


def test_gzip_split_is_linear(monkeypatch):
    """Each member's decoder reads at most one chunk past the member's
    end, so the bytes fed to all decoders stay within the archive size
    plus one chunk per member (a split that hands each decoder the whole
    remainder is quadratic in the member count), and the yields are
    unchanged."""
    import zlib

    members = [gzip.compress(RECORDS[i % len(RECORDS)] + b"%d" % i)
               for i in range(300)]
    members.insert(7, gzip.compress(b""))  # tolerated empty member
    members.append(gzip.compress(b"x" * (5 * warc_source._GZIP_CHUNK)))
    data = b"".join(members)

    fed = [0]
    real = zlib.decompressobj

    class Counting:
        def __init__(self, *args, **kwargs):
            self._d = real(*args, **kwargs)

        def decompress(self, chunk):
            fed[0] += len(chunk)
            return self._d.decompress(chunk)

        def __getattr__(self, name):
            return getattr(self._d, name)

    monkeypatch.setattr(warc_source.zlib, "decompressobj", Counting)
    got = list(warc_source.split_gzip_members(data))
    offsets = [sum(map(len, members[:i])) for i in range(len(members))]
    assert got == [(off, len(m), gzip.decompress(m))
                   for off, m in zip(offsets, members)]
    assert fed[0] <= len(data) + len(members) * warc_source._GZIP_CHUNK
