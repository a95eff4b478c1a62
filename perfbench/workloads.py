"""The benchmark workloads, each driving shipped entry points.

A workload knows how to make its inputs for a seed (cached on disk),
warm a fresh session up, run one job, and check that job's output:

* ``warc_sorted``  — ``warc_source.read_warc`` → ``sink.write_sorted_cdx``
  (the traced run also drives ``sink.write_per_file_cdx`` on the same
  archives, see ``tracing.CdxLayers``);
* ``crawl_rounds`` — ``frontier.loop.run_crawl`` over a web-graph table.
"""

from __future__ import annotations

import glob
import os
import shutil

import checks
import gen

# Input sizes: as large as lets a whole run (input generation, set-up
# and the timed loop) stay near a minute at local[4], so that per-record
# work is as large a share of each job as that allows (README.md,
# "Input sizes").
WARC_RECORDS, WARC_FILES = 16000, 8
WEB_PAGES, WEB_HOSTS, WEB_SEEDS, CRAWL_ROUNDS = 120000, 6000, 6000, 2
# bump when a generator or size changes, so stale caches are not reused
INPUT_VERSION = 4
CACHE_KEEP = 3   # newest cached seeds kept per workload


def _cached(name: str, seed: int, sizes: tuple, build) -> tuple[str, dict]:
    """Inputs for (workload, seed, sizes): built once into a temp dir,
    renamed into place, and reused by later runs with the same key."""
    d = os.path.join(gen.CACHE, "%s-v%d-%s-%d" % (
        name, INPUT_VERSION, "x".join(map(str, sizes)), seed))
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        os.utime(d)
        return d, gen.load_json(meta_path)
    tmp = d + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = build(tmp)
    gen.save_json(os.path.join(tmp, "meta.json"), meta)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    old = sorted(glob.glob(os.path.join(gen.CACHE, "%s-v*" % name)),
                 key=os.path.getmtime)
    for stale in old[:-CACHE_KEEP]:
        shutil.rmtree(stale, ignore_errors=True)
    return d, meta


class Workload:
    name = ""
    unit = ""          # what records_per_s counts
    min_iters = 2      # timed jobs per run, whatever --seconds says
    job_s = 10.0       # seconds per warm job at local[4]: sizes the run
    warm_jobs = 1      # untimed (but checked) jobs in set-up

    def __init__(self, seed: int):
        self.seed = seed
        self.dir, self.meta = _cached(self.name, seed, self.sizes(),
                                      self.build)

    def sizes(self) -> tuple:
        raise NotImplementedError

    def build(self, d: str) -> dict:
        raise NotImplementedError

    def run(self, spark, out: str) -> dict:
        """One job; returns {'records': n, ...} for the check."""
        raise NotImplementedError

    def check(self, out: str, result: dict) -> None:
        raise NotImplementedError


class WarcSorted(Workload):
    name = "warc_sorted"
    unit = "lines"
    min_iters = 3
    job_s = 4.0

    def sizes(self) -> tuple:
        return WARC_RECORDS, WARC_FILES

    def build(self, d: str) -> dict:
        from cdx_writer_spark import oracle
        from cdx_writer_spark.job import cdx_header

        rows = gen.make_warcs(self.seed, os.path.join(d, "warc"),
                              WARC_RECORDS, WARC_FILES)
        # the oracle one row at a time, so each line keeps its archive:
        # rows come in file order, which is the per-file sink's order
        lines, files = [], []
        stats = dict.fromkeys(("num_records_processed",
                               "num_records_included",
                               "num_records_filtered"), 0)
        for r in rows:
            got, st = oracle.oracle_cdx([r])
            lines += got
            files += [r["warc_file"]] * len(got)
            for k in stats:
                stats[k] += st[k]
        return {"n_input": len(rows),
                "expected": checks.expected_sorted(lines, stats,
                                                   cdx_header()),
                "expected_per_file": checks.expected_per_file(
                    lines, files, stats)}

    def cfg(self):
        from cdx_writer_spark.job import CDXConfig

        return CDXConfig()

    def source(self, spark):
        from cdx_writer_spark.warc_source import read_warc

        return read_warc(spark, os.path.join(self.dir, "warc"))

    def run(self, spark, out: str) -> dict:
        from cdx_writer_spark.sink import write_sorted_cdx

        stats = write_sorted_cdx(self.source(spark), out, self.cfg())
        return {"records": stats["num_records_included"], "stats": stats}

    def check(self, out: str, result: dict) -> None:
        checks.check_sorted(out, result["stats"], self.meta["expected"])


# Crawl-order digests pinned per input size and seed, recorded from
# passing runs at local[4] (spot-checked at local[2]).  The order must
# not depend on parallelism or on changes that claim to keep behaviour,
# so any other digest for a pinned seed is a correctness failure.  The
# baseline seeds are pinned; on any other seed the jobs of a run
# (warm-up included) must still agree with each other.
PINNED_CRAWL_SHA = {
    (120000, 6000, 6000, 2): {
        0: "f229ce5586b20219cffdfd184ae2320009c1e8105a9bf47558e0a4bdb3974ca9",
        1: "970134c9cbe733ed39b1fd42919bbe38ddba71ec50723688c78bccd3851702d2",
        2: "727f3dd2fd3daf1b6f7325d20b74aaff72502292bffec70252be0797f4ff3f1e",
        3: "f35afc19c9ce846387c9673213c4a4fd4c7e7911548ecca64a96d08ff110d8d4",
        4: "70f5cdec7e9fde3840e769e081548db64cbb23ccf6ceac3301ddf0abfa591862",
        5: "893c4dc612a62c55fc10501a1d901d5cc5eaf75838b5050a955d2230135217e4",
        6: "9cb8b6e28155cc34b0bc3aeb88b161b861be7c23a4adcabbd63a2db477c30c4a",
        7: "79f2bde260582de255b58e7bfa2e6202bf5491332104f8e11f91d00772b316f6",
        8: "899c5286cf9847e22ed1657f1e2b40e50901aa967a4e3613a07af3a6b9205973",
        9: "6a61c69c156615f92d20768ae577791fbed3490b5ee1c28f92a0a66487396fc6",
        10: "07a8fedc951b1d0239ce8c73df67a33ba8f8081f9f7ce69bc2382b8100fd062e",
        401: "d7ca02bdb4f140665e98e4c09240025c2b73e3dd187e5973d8d05f618fabf945",
        402: "c943bbcde0e3e982b50fd9b0ee635c036446c9adaabc9d97803df75fcb75cfd8",
        403: "a7a916cb0047686b62e61f276a2b48ddbea701218146d5854467dc051f6ad766",
        404: "3f00fd814fda7ef733cb6aaca0250e2e9afd9f9fcd493fc50e4b30cb503d63d7",
        405: "74dbc8f4a71529d2ad97ef732f96b82e1f7e7fd02d47305a807a32fe9aac14fd",
        406: "7bb0c279a70e877de457311de2f485099e204e3f7fea2c69e0f903e7216a5d00",
        407: "cc3319eebdee8d4e9ab6d2ad354465003a829ebfca8a360370f713ddad70410c",
        408: "dcaed57d5a7b1aeee5f122bb409adf880b7fa560cc5005a40d34e327a345fa16",
        409: "579845f3e670544e3ac45abd1bdade60ee29e14cce7f39b1bff54f0135f9eed3",
        410: "af403a9a388bed93fc248c65d3bb87f8d4d8197d31cbdf4e9dc99494094eb1dd",
    },
}


class CrawlRounds(Workload):
    name = "crawl_rounds"
    unit = "urls"
    job_s = 13.0

    def __init__(self, seed: int):
        super().__init__(seed)
        self.rules = {h: tuple(v) for h, v in self.meta["rules"].items()}
        self.order_sha = None

    def sizes(self) -> tuple:
        return WEB_PAGES, WEB_HOSTS, WEB_SEEDS, CRAWL_ROUNDS

    def build(self, d: str) -> dict:
        rules = gen.make_webgraph(self.seed, d, WEB_PAGES, WEB_HOSTS,
                                  WEB_SEEDS)
        return {"n_input": WEB_PAGES, "rules": rules}

    def frames(self, spark):
        web = spark.read.parquet(os.path.join(self.dir, "web"))
        seeds = spark.read.parquet(os.path.join(self.dir, "seeds.parquet"))
        rules = spark.read.parquet(os.path.join(self.dir, "robots.parquet"))
        return web, seeds, rules

    def cfg(self):
        from cdx_writer_spark.frontier.loop import CrawlConfig

        return CrawlConfig()

    def run(self, spark, out: str) -> dict:
        from cdx_writer_spark.frontier.loop import run_crawl

        web, seeds, rules = self.frames(spark)
        summary = run_crawl(spark, web, out, CRAWL_ROUNDS, seeds=seeds,
                            rules=rules, cfg=self.cfg())
        return {"records": sum(s["scheduled"] for s in summary)}

    def check(self, out: str, result: dict) -> None:
        sha = checks.check_crawl(out, self.rules, result["records"])
        if self.order_sha is None:
            self.order_sha = sha
        elif sha != self.order_sha:
            raise checks.CheckFailed("crawl order differs between runs")
        pinned = PINNED_CRAWL_SHA.get(self.sizes(), {}).get(self.seed)
        if pinned is not None and sha != pinned:
            raise checks.CheckFailed("crawl order differs from the digest "
                                     "pinned for seed %d" % self.seed)


WORKLOADS = {w.name: w for w in (WarcSorted, CrawlRounds)}
