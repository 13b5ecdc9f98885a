"""Benchmark inputs: the ``sources.pages`` synthetic site over a host-id range.

The seed picks the host-id range.  Host ids step by 60, the least common
multiple of the robots fixture's cycles (``h % 3``, ``h % 4``, ``h % 5``),
so every seed yields the same site shape and robots mix with different
words: the crawl graph is fixed, the page text varies.
"""

from __future__ import annotations

import pandas as pd

from inform_spark.schemas import ROBOTS
from inform_spark.sources.pages import (
    PAGES_COLS,
    generate_host_pages,
    generate_robots,
)

HOST_CYCLE = 60


def host_ids(seed: int, n_hosts: int) -> list[int]:
    first = HOST_CYCLE * (1 + seed % 100_000)
    return list(range(first, first + n_hosts))


def site_rows(hosts: list[int], pages_per_host: int, content_scale: int) -> list[dict]:
    rows = []
    for h in hosts:
        rows.extend(generate_host_pages(h, pages_per_host, None, content_scale))
    return rows


def pages_df(spark, hosts: list[int], pages_per_host: int, content_scale: int):
    """The pages table for ``hosts``, generated distributed (one task per
    slice of hosts), as ``sources.pages.pages_dataframe`` does for hosts
    ``0..n-1``; the wide/shallow graph (every leaf linked from its index)."""
    schema = (
        "url string, host string, status_code int, content_type string, "
        "html string, retries_needed int"
    )

    def gen(batches):
        for pdf in batches:
            for h in pdf["id"]:
                yield pd.DataFrame(
                    generate_host_pages(int(h), pages_per_host, None, content_scale),
                    columns=PAGES_COLS,
                )

    n_part = min(len(hosts), spark.sparkContext.defaultParallelism)
    return spark.range(hosts[0], hosts[-1] + 1, numPartitions=n_part).mapInPandas(
        gen, schema=schema
    )


def robots_rows(hosts: list[int]) -> list[dict]:
    return [generate_robots(h) for h in hosts]


def robots_df(spark, hosts: list[int]):
    rows = [
        (r["host"], r["exists"], r["disallow_prefixes"], r["crawl_delay_ms"])
        for r in robots_rows(hosts)
    ]
    return spark.createDataFrame(rows, schema=ROBOTS)
