"""Summary arithmetic shared by the runner and its self-tests."""

from __future__ import annotations

import math
import statistics

TAIL_LADDER = (99.0, 95.0, 90.0, 75.0)
MIN_BEYOND = 10


def tail_percentile(n: int) -> float:
    """The highest percentile on the ladder with at least ten ops beyond
    it; the median when there are too few ops for any of them."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= MIN_BEYOND:
            return p
    return 50.0


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least p % of
    the values at or below it."""
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def item_medians(walls: list[float], items: list) -> dict:
    """Median wall of each item (query name, or the one GeoNames op)
    over its repeats in the run."""
    by_item: dict = {}
    for wall, item in zip(walls, items):
        by_item.setdefault(item, []).append(wall)
    return {item: statistics.median(w) for item, w in by_item.items()}


def summarize(walls: list[float], items: list, cpus: list[float], passed: int,
              setups: list[float], rss_mb: float) -> tuple[dict, dict]:
    """End-to-end metrics of one run, and context: the median, the tail,
    CPU seconds per op and the driver JVM's peak resident set.

    ``walls`` holds every attempted op's wall time and ``items`` the item
    each op ran; ``passed`` counts the ops that completed and passed the
    output check. Each item's wall is its median over the run's repeats,
    so one op slowed by a burst of load on a shared host does not move
    the figures. Op latency is the geometric mean of those medians: over a
    fixed mix of queries whose costs differ tenfold, a median across the
    mix jumps between neighbouring queries from run to run. Throughput is
    the items of one pass over their summed medians, scaled by the share
    of ops that passed. At the op counts a run affords the tail is often
    the median itself, and CPU per op and the peak resident set moved more
    between runs than the bounds allow (JIT and GC threads, the JVM's own
    heap-growth timing), so they are context."""
    medians = list(item_medians(walls, items).values())
    success = passed / len(walls)
    p_tail = tail_percentile(len(walls))
    return {
        "setup_s": (statistics.median(setups), "s"),
        "op_geomean_s": (statistics.geometric_mean(medians), "s"),
        "ops_per_s": (success * len(medians) / sum(medians), "1/s"),
        "success_rate": (success, "ratio"),
    }, {"ops": len(walls), "op_p50_s": statistics.median(walls),
        "op_tail_percentile": p_tail, "op_tail_s": percentile(walls, p_tail),
        "cpu_s_per_op": sum(cpus) / len(cpus), "peak_rss_mb": rss_mb}
