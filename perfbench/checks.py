"""Output checks, written independently of the program under test.

Each check reads the files a job wrote with plain Python (no Spark) and
compares them to expectations the generator derived from its own rows.
A mismatch raises :class:`CheckFailed`; the run loop counts the job as
failed.
"""

from __future__ import annotations

import glob
import hashlib
import os


class CheckFailed(AssertionError):
    pass


def lines_digest(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8") + b"\n")
    return h.hexdigest()


def _read_parts(directory: str) -> bytes:
    chunks = []
    for path in sorted(glob.glob(os.path.join(directory, "part-*"))):
        with open(path, "rb") as fh:
            chunks.append(fh.read())
    return b"".join(chunks)


def _digest(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def expected_sorted(lines: list[str], stats: dict, header: str) -> dict:
    ordered = sorted(lines, key=lambda s: s.encode("utf-8"))
    return {"sha": lines_digest(ordered), "n_lines": len(ordered),
            "stats": stats, "header": header}


def expected_per_file(lines: list[str], files: list[str], stats: dict
                      ) -> dict:
    """``lines``/``files`` are parallel lists in file order."""
    by_file: dict[str, list[str]] = {}
    for line, name in zip(lines, files):
        by_file.setdefault(name, []).append(line)
    return {"files": {k: lines_digest(v) for k, v in by_file.items()},
            "n_lines": len(lines), "stats": stats}


def _check_stats(got: dict, want: dict) -> None:
    if got != want:
        raise CheckFailed("stats %r != expected %r" % (got, want))


def check_sorted(out_dir: str, stats: dict, want: dict) -> None:
    """Globally sorted parts equal the oracle lines; header and stats."""
    _check_stats(stats, want["stats"])
    with open(os.path.join(out_dir, "_header"), encoding="utf-8") as fh:
        if fh.read() != want["header"] + "\n":
            raise CheckFailed("header differs")
    data = _read_parts(out_dir)
    n = data.count(b"\n")
    if n != want["n_lines"] or _digest(data) != want["sha"]:
        raise CheckFailed("sorted CDX differs from oracle (%d lines, "
                          "want %d)" % (n, want["n_lines"]))


def check_per_file(out_dir: str, stats: dict, want: dict) -> None:
    """One directory per archive, lines in file order, equal to the
    oracle's lines for that archive."""
    _check_stats(stats, want["stats"])
    prefix = "warc_file="
    got = {}
    for d in os.listdir(out_dir):
        if d.startswith(prefix):
            got[d[len(prefix):]] = _digest(
                _read_parts(os.path.join(out_dir, d)))
    if set(got) != set(want["files"]):
        raise CheckFailed("per-file outputs %d, want %d archives"
                          % (len(got), len(want["files"])))
    bad = sorted(k for k in got if got[k] != want["files"][k])
    if bad:
        raise CheckFailed("per-file CDX differs for %d archives, e.g. %s"
                          % (len(bad), bad[0]))


def crawl_rows(state_dir: str) -> list[tuple]:
    """Every scheduled row as (round, host, depth, surt_key, url,
    host_pos), in crawl order."""
    import pyarrow.parquet as pq

    rows = []
    for d in sorted(glob.glob(os.path.join(state_dir, "round_*",
                                           "scheduled"))):
        t = pq.read_table(d, columns=["round", "host", "depth", "surt_key",
                                      "url", "host_pos"]).to_pydict()
        rows.extend(zip(t["round"], t["host"], t["depth"], t["surt_key"],
                        t["url"], t["host_pos"]))
    rows.sort(key=lambda r: (r[0], r[1], r[2], r[3]))
    return rows


def crawl_digest(rows: list[tuple]) -> str:
    return lines_digest("\t".join(str(v) for v in r) for r in rows)


def check_crawl(state_dir: str, rules: dict, n_scheduled: int) -> str:
    """Crawl invariants; returns the crawl-order digest.

    * no ``surt_key`` is scheduled twice;
    * no host gets more than its ``budget_per_round`` in any round;
    * no URL whose path starts with its host's disallow prefix is
      scheduled;
    * the scheduled row count equals the count ``run_crawl`` reported.
    """
    rows = crawl_rows(state_dir)
    keys = [r[3] for r in rows]
    if len(set(keys)) != len(keys):
        raise CheckFailed("%d surt_keys scheduled more than once"
                          % (len(keys) - len(set(keys))))
    if len(rows) != n_scheduled:
        raise CheckFailed("%d scheduled rows on disk, run_crawl reported "
                          "%d" % (len(rows), n_scheduled))
    per_host_round: dict[tuple, int] = {}
    for rnd, host, _, _, url, _ in rows:
        prefix, budget = rules[host]
        n = per_host_round.get((rnd, host), 0) + 1
        if n > budget:
            raise CheckFailed("host %s over budget %d in round %d"
                              % (host, budget, rnd))
        per_host_round[(rnd, host)] = n
        path = url.split("://", 1)[1]
        path = path[path.find("/"):]
        if prefix is not None and path.startswith(prefix):
            raise CheckFailed("robots-disallowed URL scheduled: " + url)
    return crawl_digest(rows)
