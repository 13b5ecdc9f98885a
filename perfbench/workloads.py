"""The crawl workloads and their output checks.

Each workload builds its inputs from the seed, warms up, then runs crawl
*units* one at a time (closed loop): one unit is one ``CrawlEngine.run``
on a fresh checkpoint directory.  ``check`` compares the units' outputs
with an independent expectation and returns how many pages failed it.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

from pyspark.sql import functions as F

from inform_spark.plans.crawl import BATCH_SHIFT, CrawlConfig, CrawlEngine
from inform_spark.schemas import ROBOTS
from inform_spark.sources.pages import host_name

import sitegen
from oracle import UNBOUNDED, host_oracle, span_tuples

HERE = os.path.dirname(os.path.abspath(__file__))


def noop_write(df) -> None:
    """Materialize every row and column (``count()`` lets Catalyst prune
    UDF projections; the noop sink does not)."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    HOSTS = PAGES = SCALE = 0  # site: hosts, pages per host, content scale

    def __init__(self, spark, seed: int, work: str, nproc: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.nproc = nproc
        self.hosts = sitegen.host_ids(seed, self.HOSTS)
        self.pages = None  # the cached fixture pages table

    def ckdir(self, tag: str) -> str:
        return os.path.join(self.work, f"ck-{self.name}-{tag}")

    def build_pages(self):
        """One repeatable set-up step: the cached pages table."""
        if self.pages is not None:
            self.pages.unpersist(blocking=True)
        self.pages = sitegen.pages_df(
            self.spark, self.hosts, self.PAGES, self.SCALE
        ).cache()
        noop_write(self.pages)

    def setup_once(self) -> dict:
        """Set-up that happens once per run; returns extra timings."""
        return {}

    def warmup(self) -> None:
        pass

    def engine(self, tag: str) -> tuple[CrawlEngine, dict]:
        """A fresh engine for one unit and the ``run`` keyword arguments."""
        raise NotImplementedError

    def check(self, units: list) -> tuple[int, list[str]]:
        raise NotImplementedError

    def docs(self) -> list[dict]:
        """The site's document pages (rows with an HTML body)."""
        rows = sitegen.site_rows(self.hosts, self.PAGES, self.SCALE)
        return [r for r in rows if r["html"] and "text/html" in r["content_type"]]

    def exclude_pids(self) -> set[int]:
        """Processes the workload started that are not the crawler."""
        return set()

    def close(self) -> None:
        pass


def seen_status(engine: CrawlEngine) -> dict[str, str]:
    return {r["url"]: r["status"] for r in engine.seen().select("url", "status").collect()}


class HttpPolite(Workload):
    """Loopback HTTP fetch under a politeness budget: fetch and per-batch
    fixed cost dominate, render is small."""

    name = "crawl_http_polite"
    HOSTS, PAGES, SCALE = 8, 16, 1
    # at most 25 pages per crawl-delay host and batch: the whole site
    # (at most 21 URLs a host) fits one batch
    BUDGET_MS = 50000

    def __init__(self, *a):
        super().__init__(*a)
        self.origin = None
        self.want_seen, self.want_spans = {}, {}
        for h in self.hosts:
            o = host_oracle(h, self.PAGES, self.SCALE)
            self.want_seen.update(o["seen"])
            self.want_spans.update(o["spans"])

    def setup_once(self) -> dict:
        from inform_spark.sources.httpfetch import fetch_robots_df

        t = time.monotonic()
        self.origin = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "origin.py"),
             str(self.hosts[0]), str(self.HOSTS), str(self.PAGES), str(self.SCALE)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        ports = json.loads(self.origin.stdout.readline())["ports"]
        self.origins = [f"http://127.0.0.1:{p}" for p in ports]
        rows = fetch_robots_df(self.spark, self.origins).collect()
        self.robots = self.spark.createDataFrame(rows, schema=ROBOTS)
        return {"origin_s": time.monotonic() - t}

    def exclude_pids(self) -> set[int]:
        return {self.origin.pid} if self.origin is not None else set()

    def stats(self) -> dict:
        self.origin.stdin.write("stats\n")
        self.origin.stdin.flush()
        return json.loads(self.origin.stdout.readline())

    def engine(self, tag):
        """Seeds: every URL the sequential crawl of the site records, in
        its order, so one batch fetches the whole site; the links it
        discovers are all seen already."""
        served = {f"https://{host_name(h)}": o for h, o in zip(self.hosts, self.origins)}
        seeds = []
        for url in self.want_seen:
            cut = url.index("/", len("https://"))
            seeds.append(served[url[:cut]] + url[cut:])
        cfg = CrawlConfig(
            seeds=seeds, limit=UNBOUNDED,
            max_queue_size=None, batch_wall_budget_ms=self.BUDGET_MS,
            fetch_mode="http", http_base_backoff_s=0.001,
        )
        return CrawlEngine(self.spark, None, self.robots, cfg, self.ckdir(tag)), {}

    def warmup(self) -> None:
        engine, _ = self.engine("warm")
        engine.run()

    def site_url(self, url: str) -> str:
        """The fixture URL of a page served by the origin."""
        origin = "/".join(url.split("/")[:3])
        h = self.hosts[self.origins.index(origin)]
        return f"https://site{h}.test{url[len(origin):]}"

    def check(self, units):
        """Every unit drains the site: its seen set (statuses included) and
        every document's span sequence equal the sequential oracle's, host
        by host; and no robots-disallowed path was ever requested."""
        notes, bad = [], 0
        want_seen, want_spans = self.want_seen, self.want_spans
        for i, u in enumerate(units):
            got_seen = {
                self.site_url(url): s for url, s in seen_status(u.engine).items()
            }
            n_bad = len(got_seen.keys() ^ want_seen.keys())
            n_bad += sum(
                1 for url, s in got_seen.items() if want_seen.get(url, s) != s
            )
            for r in u.engine.documents().select("url", "spans").collect():
                if span_tuples(r["spans"]) != want_spans.get(self.site_url(r["url"])):
                    n_bad += 1
            if n_bad:
                notes.append(f"unit {i}: {n_bad} pages differ from the oracle")
            bad += n_bad
        violations = self.stats()["violations"]
        if violations:
            bad += sum(u.pages for u in units)
            notes.append(f"robots-disallowed paths requested: {violations[:5]}")
        return bad, notes

    def fetch_probe(self) -> int:
        """``http_fetch_stage`` over every robots-allowed page of the site
        into a noop sink; returns the number of pages fetched."""
        from inform_spark.functions.robots import RobotsMatcher
        from inform_spark.sources.httpfetch import http_fetch_stage

        rows = []
        for h, origin in zip(self.hosts, self.origins):
            rb = sitegen.robots_rows([h])[0]
            allowed = RobotsMatcher(rb["disallow_prefixes"] if rb["exists"] else [])
            for r in sitegen.site_rows([h], self.PAGES, self.SCALE):
                target = "/" + r["url"].split("/", 3)[3]
                if allowed.is_allowed(target):
                    rows.append((origin + target, origin[7:], 0, len(rows), len(rows)))
        batch = self.spark.createDataFrame(
            rows, "url string, host string, depth int, frontier_offset long, "
            "parent_rank int",
        )
        noop_write(http_fetch_stage(batch, self.nproc, base_backoff_s=0.001))
        return len(rows)

    def close(self) -> None:
        if self.origin is None:
            return
        try:
            self.origin.stdin.write("quit\n")
            self.origin.stdin.close()
        except OSError:
            pass
        try:
            self.origin.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.origin.kill()
            self.origin.wait()
        self.origin = None


class ResumeFrontier(Workload):
    """Resume from a checkpoint seeded with a large far frontier."""

    name = "resume_frontier"
    HOSTS, PAGES, SCALE = 2, 130, 8
    FRONTIER, BATCH, BATCHES = 200_000, 60, 1

    def __init__(self, *a):
        super().__init__(*a)
        self.robots = sitegen.robots_df(self.spark, self.hosts)
        self.site_urls = [
            r["url"] for r in sitegen.site_rows(self.hosts, self.PAGES, 1)
        ]

    def config(self) -> CrawlConfig:
        """Seeds: the site's URLs plus far-frontier URLs that sort after
        them, FRONTIER in all; FIFO order is the sorted URL order."""
        far = self.spark.range(self.FRONTIER - len(self.site_urls)).select(
            F.concat(
                F.lit(f"https://zz{self.seed % 1000}-far"),
                (F.col("id") % 1024).cast("string"),
                F.lit(".test/p/"),
                F.col("id").cast("string"),
            ).alias("url")
        )
        seeds = self.pages.select("url").unionByName(far)
        return CrawlConfig(
            seeds=[], seeds_df=seeds, limit=UNBOUNDED, max_queue_size=None,
            use_bloom=True, batch_size=self.BATCH,
        )

    def setup_once(self) -> dict:
        """Seed the checkpoint within one uninterrupted run of BATCHES
        batches (the check's reference and the warm-up), then roll a copy
        back to the seeding commit: the start state of every timed resume."""
        self.cfg = self.config()
        self.reference = CrawlEngine(
            self.spark, self.pages, self.robots, self.cfg, self.ckdir("reference")
        )
        summary = self.reference.run(max_batches=self.BATCHES)
        self.seeded = self.ckdir("seeded")
        shutil.copytree(self.reference.checkpoint_dir, self.seeded)
        catalog = CrawlEngine(
            self.spark, self.pages, self.robots, self.cfg, self.seeded
        ).catalog
        catalog.rollback(1)
        catalog.vacuum()
        return {"seed_s": summary.extra["phase_s"]["setup"]}

    def engine(self, tag):
        path = self.ckdir(tag)
        shutil.copytree(self.seeded, path)
        return CrawlEngine(self.spark, self.pages, self.robots, self.cfg, path), {
            "resume": True, "max_batches": self.BATCHES,
        }

    @staticmethod
    def batches_of(engine: CrawlEngine):
        """(attempts rows by crawl rank, frontier rows admitted by the batches)."""
        tables = engine.catalog.tables
        attempts = sorted(
            tables["attempts"].read().collect(), key=lambda r: r["crawl_rank"]
        )
        admitted = sorted(
            tables["frontier"].read()
            .filter(F.col("frontier_offset") >= F.lit(1 << BATCH_SHIFT))
            .collect(),
            key=lambda r: r["frontier_offset"],
        )
        return attempts, admitted

    def check(self, units):
        """Each resumed unit equals the uninterrupted run batch for batch
        (every attempts column, and the frontier rows it admitted), and
        attempts the first BATCH x BATCHES seeds in sorted-URL order."""
        notes, bad = [], 0
        want_a, want_f = self.batches_of(self.reference)
        n = self.BATCH * self.BATCHES
        expected = sorted(self.site_urls)[:n]
        if [r["url"] for r in want_a] != expected:
            notes.append("the uninterrupted run left sorted-URL FIFO order")
            bad += n
        for i, u in enumerate(units):
            got_a, got_f = self.batches_of(u.engine)
            n_bad = sum(1 for g, w in zip(got_a, want_a) if g != w)
            n_bad += abs(len(got_a) - len(want_a))
            if got_f != want_f:
                notes.append(f"unit {i}: admitted frontier rows differ")
                n_bad = max(len(got_a), len(want_a))
            if n_bad:
                notes.append(f"unit {i}: {n_bad} attempts differ from the straight run")
            bad += n_bad
        return bad, notes


WORKLOADS = {w.name: w for w in (HttpPolite, ResumeFrontier)}
