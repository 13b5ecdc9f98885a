"""The traced run: per-layer metrics from spans, probes and the event log.

One traced unit runs with the Spark event log on.  Its throughput is
reported as ``trace.pages_per_s``: the tracing overhead is its shortfall
against ``pages_per_s`` of the untraced (``--trace 0``) runs, which keep
the event log off.  Layer probes follow the traced unit:

- render: ``render_one`` on one thread, and the render UDF over the
  fixture's documents into a noop sink;
- bloom: a filter built over the traced unit's frontier, probed with URLs
  known to be new;
- httpfetch (HTTP workload only): ``http_fetch_stage`` over every
  robots-allowed page of the site into a noop sink.

Metrics of a layer the crawl does not exercise (HTTP counters of a
fixture crawl, bloom counters of a crawl without the filter) read 0.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from eventlog import fold
from crawlunit import log, run_unit
from tracing import Tracer, instrument
from workloads import noop_write

BLOOM_PROBE_ROWS = 50_000
RENDER_PROBE_PAGES = 60


def _dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


@contextmanager
def count_bloom_probes(counts: list):
    """Count each batch's bloom-probed candidates and the maybe-seen among
    them (one extra aggregate over the engine's persisted probe)."""
    from inform_spark.operators import bloom

    inner = bloom.bloom_partition

    def counted(df, flt, persist=False):
        maybe, fresh, probed = inner(df, flt, persist=persist)
        if probed is not None:
            r = probed.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("__maybe").cast("long")).alias("m"),
            ).collect()[0]
            counts.append((r["n"], r["m"] or 0))
        return maybe, fresh, probed

    bloom.bloom_partition = counted
    try:
        yield counts
    finally:
        bloom.bloom_partition = inner


def traced_units(workload, exclude: set[int]):
    layer: dict = {}
    tracer = Tracer()
    layer["tracer"] = tracer
    before: dict = {}

    def ready(engine):
        before["disk"] = _dir_usage(engine.checkpoint_dir)
        if hasattr(workload, "stats"):
            before["origin"] = workload.stats()

    with instrument(tracer), count_bloom_probes([]) as probes:
        unit = run_unit(workload, "traced", exclude, on_ready=ready)
    layer["probes"] = probes
    files, size = _dir_usage(unit.engine.checkpoint_dir)
    layer["disk"] = (files - before["disk"][0], size - before["disk"][1])
    if "origin" in before:
        after = workload.stats()
        layer["origin"] = (before["origin"], after)
    layer["unit"] = unit
    _render_probe(workload, tracer, layer)
    _bloom_probe(workload, unit, layer)
    if hasattr(workload, "fetch_probe"):
        t0 = time.monotonic()
        n = workload.fetch_probe()
        layer["fetch"] = (n, time.monotonic() - t0)
    return [unit], layer


def _render_probe(workload, tracer: Tracer, layer: dict) -> None:
    from inform_spark.operators.render import make_extract_render_udf, render_one

    docs = workload.docs()
    rows = docs[:RENDER_PROBE_PAGES]
    t0 = time.monotonic()
    for r in rows:
        with tracer.span("render_one"):
            render_one(r["url"], r["html"])
    layer["render_python"] = (len(rows), time.monotonic() - t0)

    doc_df = workload.pages.filter(
        F.col("content_type").contains("text/html") & F.col("html").isNotNull()
    )
    udf = make_extract_render_udf()
    e0, t0 = time.time(), time.monotonic()
    with tracer.span("render_udf"):
        noop_write(doc_df.select(udf(F.col("url"), F.col("html")).alias("r")))
    layer["render_udf"] = (len(docs), time.monotonic() - t0)
    layer["render_udf_window"] = (e0 * 1e3, time.time() * 1e3)


def _bloom_probe(workload, unit, layer: dict) -> None:
    from inform_spark.operators.bloom import ShardedBloom, bloom_partition

    engine = unit.engine
    cfg = engine.cfg
    flt = ShardedBloom.build(
        workload.spark, engine.frontier().select("url"),
        n_shards=cfg.bloom_shards, bits_per_shard=cfg.bloom_bits_per_shard,
        approx_count=engine.enqueued_total,
    )
    new = workload.spark.range(BLOOM_PROBE_ROWS).select(
        F.concat(
            F.lit(f"https://probe{workload.seed}.test/new/"), F.col("id").cast("string")
        ).alias("url")
    )
    _, _, probed = bloom_partition(new, flt, persist=True)
    t0 = time.monotonic()
    maybe = probed.agg(F.sum(F.col("__maybe").cast("long"))).collect()[0][0] or 0
    layer["bloom_probe"] = (BLOOM_PROBE_ROWS, time.monotonic() - t0, maybe)
    probed.unpersist()


def _batch_drift(batch_s: list[float]) -> float:
    k = max(1, len(batch_s) // 3)
    first, last = batch_s[:k], batch_s[-k:]
    return statistics.median(last) / statistics.median(first)


def finish_layers(layer: dict, setup: dict, work: str):
    """(metrics, problems) once the session has stopped and the event log
    is complete."""
    problems = []
    unit = layer["unit"]
    tracer: Tracer = layer["tracer"]
    logs = glob.glob(os.path.join(work, "eventlog", "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    sp = fold(logs[0], [(unit.t0_ms, unit.t1_ms)])
    udf_sp = fold(logs[0], [layer["render_udf_window"]])
    if udf_sp["python_total_s"] <= 0:
        problems.append("render UDF probe recorded no Python time")

    s = unit.summary
    b = max(s.batches, 1)
    ph = unit.phase_s
    lo, hi = unit.t0, unit.t1

    def span_total(name, where=None):
        return tracer.total(name, lo, hi, where)

    under_append = lambda x: tracer.parent_name(x) == "SnapshotTable.append"  # noqa: E731
    append_s = span_total("SnapshotTable.append_rows") + span_total(
        "manifest_write", under_append
    )
    probed = sum(n for n, _ in layer["probes"])
    maybe = sum(m for _, m in layer["probes"])
    n_probe, t_probe, fp = layer["bloom_probe"]
    if "origin" in layer:
        o0, o1 = layer["origin"]
        requests = o1["requests"] - o0["requests"]
        ok = o1["by_status"].get("200", 0) - o0["by_status"].get("200", 0)
        busy = o1["busy_s"] - o0["busy_s"]
        n_fetch, t_fetch = layer["fetch"]
    else:
        requests = ok = busy = n_fetch = 0
        t_fetch = 1.0
    n_py, t_py = layer["render_python"]
    n_udf, t_udf = layer["render_udf"]
    files, size = layer["disk"]

    m = {
        "crawl.fetch_render_s": (ph.get("fetch_render", 0.0), "s"),
        "crawl.discover_append_s": (
            ph.get("writes_discover", 0.0) + ph.get("frontier_append", 0.0), "s"),
        "crawl.plan_s": (ph.get("plan", 0.0), "s"),
        "crawl.commit_s": (ph.get("commit", 0.0), "s"),
        "crawl.bloom_lineage_s": (ph.get("bloom_lineage", 0.0), "s"),
        "crawl.setup_s": (ph.get("setup", 0.0), "s"),
        "crawl.batches": (s.batches, "count"),
        "crawl.pages_per_batch": (s.attempted / b, "pages"),
        "crawl.admit_ratio": (s.links_admitted / max(s.links_discovered, 1), "ratio"),
        "crawl.batch_drift": (_batch_drift(unit.batch_s), "ratio"),
        "httpfetch.pages_per_s": (n_fetch / t_fetch, "pages/s"),
        "httpfetch.requests": (requests, "count"),
        "httpfetch.retry_ratio": (requests / s.attempted if requests else 0.0, "ratio"),
        "httpfetch.error_ratio": ((requests - ok) / requests if requests else 0.0, "ratio"),
        "httpfetch.origin_busy_s": (busy, "s"),
        "render.python_pages_per_s": (n_py / t_py, "pages/s"),
        "render.udf_pages_per_s": (n_udf / t_udf, "pages/s"),
        "bloom.build_s": (span_total("ShardedBloom.build"), "s"),
        "bloom.probe_rows_per_s": (n_probe / t_probe, "rows/s"),
        "bloom.fp_rate": (fp / n_probe, "ratio"),
        "bloom.maybe_seen_ratio": (maybe / probed if probed else 0.0, "ratio"),
        "checkpoint.restore_s": (span_total("CrawlCheckpoint.restore"), "s"),
        "checkpoint.append_s": (append_s / b, "s"),
        "checkpoint.commit_s": (span_total("CrawlCheckpoint.commit") / b, "s"),
        "checkpoint.files_per_batch": (files / b, "files"),
        "checkpoint.bytes_per_page": (size / max(s.attempted, 1), "B"),
        "spark.jobs_per_batch": (sp["jobs"] / b, "count"),
        "spark.tasks_per_batch": (sp["tasks"] / b, "count"),
        "spark.executor_run_s": (sp["executor_run_s"], "s"),
        "spark.executor_cpu_s": (sp["executor_cpu_s"], "s"),
        "spark.gc_s": (sp["gc_s"], "s"),
        "spark.python_total_s": (sp["python_total_s"], "s"),
        "spark.python_boot_s": (sp["python_boot_s"], "s"),
        "spark.python_data_sent_bytes": (sp["python_data_sent_bytes"], "B"),
        "spark.python_data_received_bytes": (sp["python_data_received_bytes"], "B"),
        "spark.shuffle_read_bytes": (sp["shuffle_read_bytes"], "B"),
        "spark.shuffle_write_bytes": (sp["shuffle_write_bytes"], "B"),
        "spark.scan_bytes": (sp["scan_bytes"], "B"),
        "spark.spill_bytes": (sp["spill_bytes"], "B"),
        "spark.peak_exec_mem_bytes": (sp["peak_exec_mem_bytes"], "B"),
        "setup.jvm_s": (setup["jvm_s"], "s"),
        "setup.fixture_s": (setup["fixture_s"], "s"),
        "trace.pages_per_s": (s.attempted / unit.wall_s, "pages/s"),
    }
    log(f"render probe: {n_udf} pages, python {udf_sp['python_total_s']:.2f} s")
    log("spans " + json.dumps([
        [span.name, round(span.start - lo, 6), round(span.end - lo, 6), span.parent]
        for span in tracer.spans
    ]))
    return m, problems
