"""Benchmark entry point: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload warc_sorted --seed 1 \\
        --seconds 12 --trace 0

One client runs one job at a time on ``local[<cores>]``: the session is
started and warmed up (``setup_s``), then a fixed number of jobs, sized
to take about ``--seconds`` on a 4-core box, run back to back.  Every job's output is
checked; a job that raises or fails its check counts in ``failed``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on
Spark's event log, tags the jobs with benchmark spans and prints the
per-layer metrics instead (see ``tracing.py``).  The last line of stdout
is always one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import proctree  # noqa: E402
import workloads  # noqa: E402

WORK = os.path.join(HERE, ".work")
RUNS = os.path.join(HERE, ".runs")
# a run stops starting new jobs past this, whatever --seconds says
RUN_BUDGET_S = 120


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """An eighth of the box's memory (or cgroup limit), 1-4 GiB."""
    with open("/proc/meminfo") as fh:
        total = int(fh.readline().split()[1]) // 1024
    try:
        with open("/sys/fs/cgroup/memory.max") as fh:
            lim = fh.read().strip()
        if lim.isdigit():
            total = min(total, int(lim) >> 20)
    except OSError:
        pass
    return max(1024, min(4096, total // 8))


def start_session(work: str, event_log: str | None):
    """A local[<cores>] session whose scratch space stays under ``work``."""
    from pyspark.sql import SparkSession

    n = cores()
    local = os.path.join(work, "local")
    os.makedirs(local, exist_ok=True)
    jopts = '-Djava.io.tmpdir="%s" -XX:-UsePerfData -Dderby.system.home="%s"' % (
        local, local)
    b = (SparkSession.builder.master("local[%d]" % n)
         .appName("perfbench")
         .config("spark.driver.memory", "%dm" % driver_memory_mb())
         .config("spark.driver.extraJavaOptions", jopts)
         .config("spark.local.dir", local)
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.sql.shuffle.partitions", str(max(n, 8)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.logBlockUpdates.enabled", "true"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def end_jvm() -> None:
    """Shut down the JVM the sessions ran in and wait until it and the
    Python workers it forked have exited.  Only at process end: UDF
    objects built at import time stay bound to the first JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.perf_counter() + 30
    while proctree.descendants() and time.perf_counter() < deadline:
        time.sleep(0.1)


class Loop:
    """Closed loop: run a workload's job back to back, timing each job
    and checking its output outside the timed region."""

    def __init__(self, wl, spark, work: str, rss: proctree.PeakRss):
        self.wl, self.spark, self.work, self.rss = wl, spark, work, rss
        self.rates, self.cpu, self.peak = [], [], []
        self.attempted = self.failed = 0
        self.keep = None  # if set, the last job's output is moved here

    def one(self, span=None, job=None, check=None, timed=True) -> bool:
        """One job (the workload's own unless ``job``/``check`` are given)
        inside ``span``; returns whether it ran and passed its check.
        Only the workload's own ``timed`` jobs feed the medians."""
        timed = timed and job is None
        job, check = job or self.wl.run, check or self.wl.check
        out = os.path.join(self.work, "out-%d" % self.attempted)
        self.attempted += 1
        self.rss.reset()
        cpu0, t0 = proctree.cpu_seconds(), time.perf_counter()
        try:
            with span or contextlib.nullcontext():
                result = job(self.spark, out)
            dt = time.perf_counter() - t0
            cpu = proctree.cpu_seconds() - cpu0
            self.rss.sample()
            peak = self.rss.peak
            check(out, result)
        except checks.CheckFailed as e:
            self.failed += 1
            print("job %d FAILED its check: %s" % (self.attempted, e),
                  file=sys.stderr)
            return False
        except Exception:  # a failed job is a measured outcome
            self.failed += 1
            traceback.print_exc()
            return False
        finally:
            if self.keep and os.path.exists(out):
                shutil.rmtree(self.keep, ignore_errors=True)
                os.rename(out, self.keep)
            shutil.rmtree(out, ignore_errors=True)
        if timed:
            self.rates.append(result["records"] / dt)
            self.cpu.append(cpu)
            self.peak.append(peak)
        return True

    def warmup(self) -> bool:
        """The workload's untimed warm-up jobs, checked like every job;
        a failure there counts as a failed job and leaves nothing to
        time."""
        return all(self.one(timed=False) for _ in range(self.wl.warm_jobs))

    def until(self, seconds: float, deadline: float, span_fn=None) -> None:
        """Time a fixed number of jobs, sized to take about ``seconds``
        here.  A fixed count, not a time limit, because the JVM keeps
        speeding up for many jobs after the warm-up: under a time limit
        a faster run would reach further down that curve than a slower
        one, and the two would not be measuring the same jobs."""
        n = max(self.wl.min_iters, round(seconds / self.wl.job_s))
        for _ in range(n):
            if time.perf_counter() >= deadline:
                break
            self.one(span_fn() if span_fn else None)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test comes from the checkout root; fail before
    # any set-up when it is missing
    import cdx_writer_spark  # noqa: F401

    started = time.perf_counter()
    deadline = started + RUN_BUDGET_S
    work = os.path.join(WORK, "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "")
                        .split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(work, "local")
    try:
        wl = workloads.WORKLOADS[args.workload](args.seed)
        if args.trace:
            import tracing

            result = tracing.traced_run(wl, work, args.seconds, deadline)
        else:
            result = untraced_run(wl, work, args.seconds, deadline)
    finally:
        end_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def untraced_run(wl, work: str, seconds: float, deadline: float) -> dict:
    with proctree.PeakRss() as rss:
        t0 = time.perf_counter()
        spark = start_session(work, None)
        try:
            loop = Loop(wl, spark, work, rss)
            warm = loop.warmup()
            setup_s = time.perf_counter() - t0
            if warm:
                loop.until(seconds, deadline)
        finally:
            spark.stop()
    return summarize(wl, loop, {
        "records_per_s": metric(median(loop.rates), "1/s"),
        "cpu_s": metric(median(loop.cpu), "s"),
        "peak_rss_mb": metric(median(loop.peak) / 2 ** 20, "MB"),
        "setup_s": metric(setup_s, "s"),
    })


def summarize(wl, loop: Loop, metrics: dict) -> dict:
    ok = loop.attempted - loop.failed
    print("%s seed=%d local[%d]: %d jobs (%d ok, failed_frac=%.3f), median "
          "over %d jobs: %.1f %s/s, %.2f cpu-s/job, peak %.0f MB"
          % (wl.name, wl.seed, cores(), loop.attempted, ok,
             loop.failed / max(1, loop.attempted), len(loop.rates),
             median(loop.rates),
             wl.unit, median(loop.cpu), median(loop.peak) / 2 ** 20))
    print("  per-job %s/s: %s" % (wl.unit, " ".join(
        "%.0f" % r for r in loop.rates)))
    if getattr(wl, "order_sha", None):
        print("  crawl-order sha256: " + wl.order_sha)
    return {"correct": loop.failed == 0 and ok > 0,
            "attempted": loop.attempted, "failed": loop.failed,
            "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
