"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(workload, seed)``: the generator
owns its own ``random.Random(seed)`` and writes files once per seed
under ``perfbench/.cache/<workload>-<seed>/``.  The program under test
only ever reads those files, so a program change cannot change its own
inputs.

The expected outputs are built here too, from the generator's own rows:

* ``warc_sorted``: the rows handed to ``oracle.oracle_cdx`` carry the
  offsets and sizes of the gzip members this module wrote, never values
  read back through ``warc_source``.
* ``crawl_rounds``: the robots rules and per-host budgets the invariant
  checks need (``checks.check_crawl``).
"""

from __future__ import annotations

import base64
import bisect
import hashlib
import json
import os
import random
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

_WORDS = ("index", "about", "news", "article", "product", "search",
          "page", "item", "view", "static", "archive", "blog", "docs",
          "shop", "help", "contact", "team", "press", "story", "video")
_TLDS = ("com", "org", "net", "de", "fr", "co.uk", "io", "edu")
_STATUS = ("200 OK",) * 12 + ("404 Not Found", "301 Moved Permanently",
                              "302 Found", "500 Internal Server Error")
_CTYPES = ("text/html",) * 8 + ("text/html; charset=utf-8",
                                "application/json", "text/plain",
                                "image/png")
_ROBOTS_META = ("", "", "", "", "", "", "", "", "", "noindex",
                "nofollow", "noarchive", "noindex, nofollow")


def _b32_sha1(b: bytes) -> str:
    return base64.b32encode(hashlib.sha1(b).digest()).decode("ascii")


def gzip_member(data: bytes) -> bytes:
    """One gzip member (mtime 0, so bytes depend on ``data`` only)."""
    c = zlib.compressobj(6, zlib.DEFLATED, 31)
    return c.compress(data) + c.flush()


def _zipf_sampler(rnd: random.Random, n: int, s: float):
    """Draw indexes in [0, n) with P(i) ∝ 1/(i+1)^s."""
    cdf, acc = [], 0.0
    for i in range(n):
        acc += 1.0 / (i + 1) ** s
        cdf.append(acc)
    return lambda: min(n - 1, bisect.bisect_left(cdf, rnd.random() * acc))


def _html(rnd: random.Random, text: list[str], title: str,
          n_words: int) -> bytes:
    """HTML whose paragraphs are random slices of the word stream."""
    meta = rnd.choice(_ROBOTS_META)
    tag = ('<meta name="robots" content="%s">' % meta) if meta else ""
    paras = []
    left = n_words
    while left > 0:
        k = min(left, rnd.randrange(20, 80))
        o = rnd.randrange(len(text) - k)
        paras.append("<p>%s</p>" % " ".join(text[o:o + k]))
        left -= k
    return ("<html><head><title>%s</title>%s</head><body>%s</body></html>"
            % (title, tag, "".join(paras))).encode("latin1")


def _http_block(status: str, ctype: str, payload: bytes) -> bytes:
    head = "HTTP/1.1 %s\r\nContent-Type: %s\r\nContent-Length: %d\r\n" \
           "Server: bench\r\n\r\n" % (status, ctype, len(payload))
    return head.encode("latin1") + payload


def _warc_record(headers: list[tuple[str, str]], block: bytes) -> bytes:
    lines = ["WARC/1.0"] + ["%s: %s" % kv for kv in headers]
    lines.append("Content-Length: %d" % len(block))
    return ("\r\n".join(lines) + "\r\n\r\n").encode("latin1") + block \
        + b"\r\n\r\n"


def _record(rnd: random.Random, text: list[str], url: str, i: int):
    """One archive record: (type, content type, date, headers, block).
    About 30% carry no ``WARC-Payload-Digest``, so the indexer computes
    SHA-1 itself for those.  The mixes here are assumed, not measured;
    README.md ("Traffic model") says which layer each one weights."""
    ts = "2011-%02d-%02dT%02d:%02d:%02dZ" % (
        1 + i % 12, 1 + i % 28, i % 24, i % 60, (i * 7) % 60)
    kind = rnd.random()
    payload = _html(rnd, text, url.rsplit("/", 1)[-1] or "home",
                    rnd.randrange(60, 240))
    if kind < 0.86:
        rtype, ctype = "response", "application/http; msgtype=response"
        block = _http_block(rnd.choice(_STATUS), rnd.choice(_CTYPES),
                            payload)
    elif kind < 0.92:
        rtype, ctype = "revisit", "application/http; msgtype=response"
        block = b""
    elif kind < 0.97:
        rtype, ctype = "request", "application/http; msgtype=request"
        block = ("GET /%s HTTP/1.1\r\nHost: x\r\n\r\n" % i).encode()
    else:
        rtype, ctype = "resource", "text/css"
        block = payload
    headers = [("WARC-Type", rtype), ("WARC-Target-URI", url),
               ("WARC-Date", ts),
               ("WARC-Record-ID", "<urn:uuid:%032x>" % rnd.getrandbits(128)),
               ("Content-Type", ctype)]
    if rtype == "revisit" or rnd.random() < 0.7:
        headers.append(("WARC-Payload-Digest", "sha1:" + _b32_sha1(payload)))
    return rtype, ctype, ts, headers, block


def _url(rnd: random.Random, host_of) -> str:
    h = host_of()
    host = "www.site%d.%s" % (h, _TLDS[h % len(_TLDS)])
    if h % 9 == 4:
        host = host.upper()
    depth = rnd.randrange(1, 5)
    path = "/".join(rnd.choice(_WORDS) for _ in range(depth))
    qs = ""
    if rnd.random() < 0.3:
        qs = "?id=%d&ref=%s" % (rnd.randrange(10 ** 6), rnd.choice(_WORDS))
        if rnd.random() < 0.2:
            qs += "&jsessionid=%032X" % rnd.getrandbits(128)
    scheme = "https" if rnd.random() < 0.2 else "http"
    return "%s://%s/%s%s" % (scheme, host, path, qs)


def _page_row(url, rtype, ctype, ts, headers, block, warc_file, offset,
              size, seq) -> dict:
    """The PAGES_SCHEMA row ``warc_source`` must produce for a record."""
    hmap = dict(headers)
    hmap["Content-Length"] = str(len(block))
    return {
        "url": url, "warc_ts": None, "raw_date": ts, "record_type": rtype,
        "content_type": ctype, "html": block, "text": None, "lang": None,
        "warc_headers": hmap, "content_length": len(block),
        "compressed_size": size, "offset": offset, "warc_file": warc_file,
        "record_seq": seq,
    }


# --- warc_sorted -------------------------------------------------------


def make_warcs(seed: int, out_dir: str, n_records: int,
               n_files: int) -> list[dict]:
    """Write ``n_files`` record-per-member ``.warc.gz`` archives holding
    ``n_records`` records; return the page rows in file order.

    File 0 also holds one single-stream member with three records
    (their V/S fields are the member's) and one empty member."""
    rnd = random.Random(seed)
    host_of = _zipf_sampler(rnd, max(20, n_records // 40), 1.1)
    text = rnd.choices(_WORDS, k=8192)
    os.makedirs(out_dir, exist_ok=True)
    rows: list[dict] = []
    per_file = [n_records // n_files + (f < n_records % n_files)
                for f in range(n_files)]
    i = 0
    for f, count in enumerate(per_file):
        name = "bench-%05d-%03d.warc.gz" % (seed % 100000, f)
        offset, seq, chunks = 0, 0, []
        info = ("software: perfbench\r\nformat: WARC File Format 1.0\r\n"
                ).encode()
        members = [[(["warcinfo", "application/warc-fields",
                       "2011-01-01T00:00:00Z",
                       [("WARC-Type", "warcinfo"),
                        ("WARC-Date", "2011-01-01T00:00:00Z"),
                        ("WARC-Filename", name),
                        ("Content-Type", "application/warc-fields")],
                       info], None)]]
        for _ in range(count):
            url = _url(rnd, host_of)
            rec = _record(rnd, text, url, i)
            members.append([(list(rec), url)])
            i += 1
        if f == 0 and len(members) > 8:
            # single-stream member: three records share one gzip member
            members[3:6] = [members[3] + members[4] + members[5]]
            members.insert(5, [])  # an empty member
        for member in members:
            blob = gzip_member(b"".join(_warc_record(rec[3], rec[4])
                                        for rec, _ in member))
            for (rtype, ctype, ts, headers, block), url in member:
                rows.append(_page_row(url, rtype, ctype, ts, headers, block,
                                      name, offset, len(blob), seq))
                seq += 1
            chunks.append(blob)
            offset += len(blob)
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(b"".join(chunks))
    return rows


# --- crawl_rounds ------------------------------------------------------


def _host(h: int) -> str:
    return "site%d.example.com" % h


def _page_url(h: int, doc: int, sect: str) -> tuple[str, str]:
    """(url, surt_key) of page ``doc`` on host ``h``; the URLs are
    already canonical, so the SURT is a plain string build."""
    path = "/%s/%d" % (sect, doc)
    return ("http://%s%s" % (_host(h), path),
            "com,example,site%d)%s" % (h, path))


def make_webgraph(seed: int, out_dir: str, n_pages: int, n_hosts: int,
                  n_seeds: int, links_per_page: int = 5) -> dict:
    """Web-graph parquet (doc_id, url, surt_key, host, host_rank,
    outlinks, outlink_surts) with Zipf-skewed hosts, a robots table
    (host, disallow_prefix, budget_per_round) and a seeds table in
    FRONTIER_SCHEMA.  Returns the rules as {host: (prefix, budget)}.
    The graph shape and rules are assumed; see README.md ("Traffic
    model")."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rnd = random.Random(seed)
    host_of = _zipf_sampler(rnd, n_hosts, 1.1)
    hub_of = _zipf_sampler(rnd, max(1, n_pages // 50), 1.2)
    sects = ("p", "a", "blog", "docs")
    hosts = [host_of() for _ in range(n_pages)]
    urls, surts = [], []
    for d in range(n_pages):
        u, s = _page_url(hosts[d], d, sects[d % len(sects)])
        urls.append(u)
        surts.append(s)
    by_host: dict[int, list[int]] = {}
    for d, h in enumerate(hosts):
        by_host.setdefault(h, []).append(d)
    out_urls, out_surts = [], []
    for d in range(n_pages):
        links = []
        for _ in range(links_per_page):
            r = rnd.random()
            if r < 0.35:
                t = rnd.choice(by_host[hosts[d]])      # same host
            elif r < 0.6:
                t = hub_of()                           # hub pages
            else:
                t = rnd.randrange(n_pages)             # anywhere
            links.append(t)
        out_urls.append([urls[t] for t in links])
        out_surts.append([surts[t] for t in links])
    rank = [1.0 / (1.0 + h) for h in hosts]
    web_dir = os.path.join(out_dir, "web")
    os.makedirs(web_dir, exist_ok=True)
    n_parts = 4
    step = (n_pages + n_parts - 1) // n_parts
    for p in range(n_parts):
        sl = slice(p * step, (p + 1) * step)
        pq.write_table(pa.table({
            "doc_id": pa.array(range(n_pages)[sl], pa.int64()),
            "url": urls[sl], "surt_key": surts[sl],
            "host": [_host(h) for h in hosts[sl]], "host_rank": rank[sl],
            "outlinks": out_urls[sl], "outlink_surts": out_surts[sl],
        }), os.path.join(web_dir, "part-%05d.parquet" % p))
    # robots: every 5th host disallows one section prefix; budgets cycle
    # through 2/4/8/16 by host index
    rules = {}
    for h in range(n_hosts):
        prefix = ("/%s/%d" % (sects[h % len(sects)], 1 + h % 9)
                  if h % 5 == 0 else None)
        rules[_host(h)] = (prefix, (2, 4, 8, 16)[h % 4])
    pq.write_table(pa.table({
        "host": list(rules),
        "disallow_prefix": [v[0] for v in rules.values()],
        "budget_per_round": pa.array([v[1] for v in rules.values()],
                                     pa.int32()),
    }), os.path.join(out_dir, "robots.parquet"))
    seed_ids = sorted(rnd.sample(range(n_pages), n_seeds))
    pq.write_table(pa.table({
        "surt_key": [surts[d] for d in seed_ids],
        "url": [urls[d] for d in seed_ids],
        "host": [_host(hosts[d]) for d in seed_ids],
        "host_rank": [rank[d] for d in seed_ids],
        "depth": pa.array([0] * n_seeds, pa.int32()),
        "discovered_round": pa.array([0] * n_seeds, pa.int32()),
        "state": ["pending"] * n_seeds,
    }), os.path.join(out_dir, "seeds.parquet"))
    return rules


def load_json(path: str):
    with open(path) as fh:
        return json.load(fh)


def save_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)
