"""Correctness gate: the Spark schedule must equal the oracle's.

``tests/oracle_sim.OracleSim`` is the executable spec of the crawl order.
The gate runs it once per workload and seed, outside any timed region,
and compares every emitted ``(seq, urlhash48, scheduled_time_ms)`` row.
"""

from __future__ import annotations

from perfbench.workloads import Workload

Row = tuple[int, int, int, int]   # (seq, round, urlhash48, scheduled_time_ms)


def oracle_schedule(w: Workload) -> tuple[list[Row], list[int]]:
    """The reference schedule after ``w.rounds`` rounds, and the raw URLs
    of each batch the crawl passes to enqueue: the seeds, then each
    round's outlinks."""
    from tests.oracle_sim import OracleSim

    sim = OracleSim(w.fix_dir, **w.oracle)
    batches = [sim.seed()["candidates"]]
    while sim.rnd < w.rounds and sim.frontier:
        sim.run_round()
        batches.append(sim.metrics[-1].get("candidates", 0))
    return [(e.seq, e.rnd, e.urlhash48, e.scheduled_time_ms)
            for e in sim.emitted], batches


def first_divergence(got: list[Row], want: list[Row]) -> tuple[int, str] | None:
    """None when the schedules are equal, else the round of the first
    differing row (every round from there on failed) and a description."""
    for g, w in zip(got, want):
        if (g[0], g[2], g[3]) != (w[0], w[2], w[3]):
            return min(g[1], w[1]), f"seq {w[0]}: got {g}, want {w}"
    if len(got) != len(want):
        extra = (got if len(got) > len(want) else want)[min(len(got), len(want))]
        return extra[1], f"{len(got)} rows emitted, oracle has {len(want)}"
    return None
