"""One timed crawl unit and the benchmark's logging."""

from __future__ import annotations

import sys
import time

from proctree import tree_cpu_s


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def steal_share() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat:
    time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class Unit:
    """One timed crawl and what it produced."""

    def __init__(self, engine, summary, t0, t1, cpu_s, t0_ms, t1_ms):
        self.engine = engine
        self.summary = summary
        self.t0, self.t1 = t0, t1  # time.monotonic()
        self.wall_s = t1 - t0
        self.cpu_s = cpu_s
        self.t0_ms, self.t1_ms = t0_ms, t1_ms  # epoch, as in the event log
        self.pages = summary.attempted
        self.links = summary.links_discovered
        self.phase_s = summary.extra.get("phase_s", {})
        walls = [
            r["wall_ms"] / 1e3
            for r in sorted(
                engine.lineage().select("batch_id", "wall_ms").collect(),
                key=lambda r: r["batch_id"],
            )
        ]
        self.batch_s = [b - a for a, b in zip([0.0] + walls, walls)]
        self.first_batch_s = walls[0] if walls else self.wall_s


def run_unit(workload, tag: str, exclude: set[int], on_ready=None) -> Unit:
    """One crawl, timed from ``run()`` to its return.  ``on_ready`` is
    called with the engine just before the clock starts."""
    engine, kwargs = workload.engine(tag)
    if on_ready is not None:
        on_ready(engine)
    s0 = steal_share()
    c0, e0, t0 = tree_cpu_s(exclude), time.time(), time.monotonic()
    summary = engine.run(**kwargs)
    t1 = time.monotonic()
    e1, c1 = time.time(), tree_cpu_s(exclude)
    s1 = steal_share()
    unit = Unit(engine, summary, t0, t1, c1 - c0, e0 * 1e3, e1 * 1e3)
    steal = (s1[0] - s0[0]) / max(s1[1] - s0[1], 1)
    log(f"{tag}: {unit.pages} pages, {summary.batches} batches, {t1 - t0:.2f} s, "
        f"cpu {unit.cpu_s:.1f} s, steal {steal:.1%}, phases {unit.phase_s}")
    return unit
