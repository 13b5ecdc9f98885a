"""Crawl-engine benchmark: one workload per run, closed loop, one crawl at a time.

    python3 perfbench/run.py --workload crawl_http_polite --seed 1 --seconds 15 --trace 0

Runs from the root of a source checkout.  Builds its inputs from
``--seed``, starts a ``local[nproc]`` session, warms up, then runs crawl
units one after another (at least two, and more while the next is
expected to end inside ``--seconds``), and checks every unit's output.
The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs one
traced unit with the Spark event log on, plus layer probes, and reports
the per-layer metrics.  ``DESIGN.md`` says what each workload stresses
and which layer metric should move which end-to-end metric.  Progress
and detail go to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from crawlunit import log, run_unit
from proctree import RssSampler, tree_pids

median = statistics.median

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
# Each reported timing is a median over the run's units, so one unit
# slowed by a burst of host CPU steal does not set it alone.
MIN_UNITS = 2
HEAP = "3g"  # driver = executors in local mode; fits a 4-core, 15 GB machine


def _prepare_environment() -> None:
    """Keep every file the run writes inside the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    sys.path.insert(0, ROOT)


def start_session(nproc: int, trace: bool):
    from inform_spark.session import get_spark

    conf = {
        "spark.driver.memory": HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # C1 only: the JVM reaches its steady speed within the warm-up, so
        # the one-minute run measures steady crawls (with C2, successive
        # crawls in one JVM kept getting faster: 19.6, 16.9, 14.9, 13.5 s).
        # A fixed-size heap (-Xms = -Xmx) makes resident memory follow the
        # work instead of the collector's heap-growth heuristics. No
        # perf-data file in /tmp; temp files stay in the work directory.
        "spark.driver.extraJavaOptions": f"-XX:TieredStopAtLevel=1 -Xms{HEAP} "
        "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{nproc}]",
        shuffle_partitions=nproc, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # start the Python worker pool now, so set-up steps time their own work
    spark.range(nproc, numPartitions=nproc).mapInPandas(
        lambda it: it, "id long"
    ).write.format("noop").mode("overwrite").save()
    return spark


def stop_session(spark, keep: set[int]) -> None:
    """Stop Spark, then wait until the JVM and the Python workers it
    started (every descendant of this process outside ``keep``) ended."""
    from pyspark import SparkContext

    started = set(tree_pids(keep)) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while started and time.monotonic() < deadline:
        started = {pid for pid in started if os.path.exists(f"/proc/{pid}")}
        time.sleep(0.1)
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def end_to_end(units, setup_s: float, peak_rss: int) -> dict:
    batches = [b for u in units for b in u.batch_s]
    m = {
        "setup_s": (setup_s, "s"),
        "pages_per_s": (median([u.pages / u.wall_s for u in units]), "pages/s"),
        "links_per_s": (median([u.links / u.wall_s for u in units]), "links/s"),
        "batch_s_p50": (median(batches), "s"),
        "first_batch_s": (median([u.first_batch_s for u in units]), "s"),
        "cpu_s_per_page": (median([u.cpu_s / u.pages for u in units]), "s/page"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
    }
    n = len(batches)
    # the highest percentile with at least ten samples above it
    pct = int(100 * (1 - 10 / n)) if n else 0
    tail = ""
    if pct > 50:
        tail = f", p{pct} {statistics.quantiles(batches, n=100)[pct - 1]:.3f} s"
    log(f"batch wall: p50 {m['batch_s_p50'][0]:.3f} s{tail}, n={n}; "
        f"{len(units)} units")
    return m


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    trace = bool(args.trace)
    t_start = time.monotonic()
    spark = start_session(nproc, trace)
    jvm_s = time.monotonic() - t_start
    workload = None
    try:
        workload = WORKLOADS[args.workload](spark, args.seed, WORK, nproc)
        with RssSampler(exclude=workload.exclude_pids) as rss:
            fixture = []
            for _ in range(SETUP_REPS):
                t = time.monotonic()
                workload.build_pages()
                fixture.append(time.monotonic() - t)
            once = workload.setup_once()
            setup = {"jvm_s": jvm_s, "fixture_s": median(fixture), **once}
            log(f"set-up {json.dumps({k: round(v, 3) for k, v in setup.items()})}")
            workload.warmup()
            log("warm-up done")
            exclude = workload.exclude_pids()
            if trace:
                from layers import traced_units

                units, layer = traced_units(workload, exclude)
            else:
                # closed loop: at least MIN_UNITS units, then another only
                # while it is expected to end inside the window
                units, t0 = [], time.monotonic()
                while len(units) < MIN_UNITS or (
                    time.monotonic() - t0 + units[-1].wall_s <= args.seconds
                ):
                    units.append(run_unit(workload, f"u{len(units)}", exclude))
        bad, notes = workload.check(units)
        attempted = sum(u.pages for u in units)
    finally:
        stop_session(spark, workload.exclude_pids() if workload else set())
        if workload is not None:
            workload.close()
    if trace:
        from layers import finish_layers

        metrics, problems = finish_layers(layer, setup, WORK)
        notes.extend(problems)
    else:
        metrics = end_to_end(units, sum(setup.values()), rss.peak)
    for n in notes:
        log(f"check: {n}")
    correct = bad == 0 and not notes
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": min(bad, attempted),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    _prepare_environment()
    try:
        code = main()
    except Exception:
        traceback.print_exc()
        code = 1
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    sys.exit(code)
