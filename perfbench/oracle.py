"""Per-host sequential crawl oracle.

``reference_impl.crawl_sequential`` crawls one seed host at concurrency
one.  An engine crawl of many seed hosts that drains every host must agree
with it host by host: the same seen set with statuses and the same span
sequence for every document.
"""

from __future__ import annotations

from inform_spark.reference_impl import crawl_sequential
from inform_spark.sources.pages import generate_host_pages, generate_robots, host_name

UNBOUNDED = 10**9


def span_tuples(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def host_oracle(h: int, pages_per_host: int, content_scale: int) -> dict:
    pages = generate_host_pages(h, pages_per_host, None, content_scale)
    res = crawl_sequential(
        pages, [generate_robots(h)], f"https://{host_name(h)}/",
        limit=UNBOUNDED, max_queue_size=UNBOUNDED,
    )
    return {
        "seen": res.seen,
        "spans": {u: span_tuples(d["spans"]) for u, d in res.documents.items()},
    }
