"""Workload menus, seeded cycle order and the statistics the benchmark reports.

Pure Python: importing this module starts no Spark session, so the
benchmark's own tests and the parent process can use it freely.
"""

from __future__ import annotations

import math
import random
import statistics
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: registry ids; every cycle runs each exactly once, in a seeded order
    menu: tuple[str, ...]
    #: warm-up cycles before timing, read off the measured per-cycle curve
    warmup_cycles: int
    #: typical warm cycle wall on a 4-core host; only sizes the timed window
    nominal_cycle_s: float


#: Vector kernel ops, measured on ``dashboard``. The IVF insert trains its
#: base model into the run's private artifact store on its first call, in
#: warm-up.
KERNEL_OPS = ("vec_knn_cosine", "vec_ivf_index_insert")

WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="dashboard",
            why=(
                "NOC console: panel refreshes over events and orders plus k-NN "
                "and IVF-insert lookups against a model trained per run"
            ),
            menu=(  # batch panels: planning plus scan/shuffle/aggregate execution
                "agg_hourly_events", "agg_count_distinct", "agg_percentile",
                "agg_rollup", "events_top_movers", "ts_counter_increase",
                "events_anomaly_mad", "fn_ip_subnet", "win_topk_group",
            ) + KERNEL_OPS,
            warmup_cycles=3,
            nominal_cycle_s=4.8,
        ),
        Workload(
            name="stream_ingest",
            why=(
                "each request drains the events stream: micro-batch lifecycle, "
                "RocksDB state commits, checkpoint I/O, Python stateful workers"
            ),
            menu=(
                "stream_tumbling", "stream_sliding", "stream_alert_threshold",
                "stream_dedup", "stream_stateful_counter", "stream_topk_talkers",
                "stream_gap_alert", "stream_counter_rate",
            ),
            warmup_cycles=1,
            nominal_cycle_s=10.5,
        ),
    )
}


#: every op is timed at least this often in a run
MIN_TIMED_CYCLES = 2


def timed_cycles(workload: Workload, seconds: float) -> int:
    """Fixed number of whole cycles that fills about ``seconds`` on the
    reference host, and at least ``MIN_TIMED_CYCLES``. A count, not a
    deadline: every run of one setting does identical work however fast
    the host is at the moment."""
    return max(MIN_TIMED_CYCLES, round(seconds / workload.nominal_cycle_s))


def cycle_orders(workload: Workload, seed: int, cycles: int) -> list[list[str]]:
    """Op order of each cycle. The seed only shuffles the order inside a
    cycle; every cycle holds each menu op exactly once."""
    rng = random.Random(seed)
    orders = []
    for _ in range(cycles):
        order = list(workload.menu)
        rng.shuffle(order)
        orders.append(order)
    return orders


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q`` %
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ranked = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(ranked) - 1e-9))
    return ranked[rank - 1]


def hd_percentile(values: list[float], q: float, grid: int = 4000) -> float:
    """Harrell-Davis estimate of the ``q`` percentile: a weighted mean of all
    order statistics, the weights being Beta(q(n+1), (1-q)(n+1)) mass over
    ``[(i-1)/n, i/n]``. A run's requests mix ops of quite different cost, so
    the one order statistic a rank-based percentile picks jumps between
    ops from run to run. In a simulation of the ``dashboard`` mix (11 ops,
    3 samples each, 8 % noise per request), this estimator's spread over
    runs was about 40 % smaller than the rank-based one at p50 and p90.
    The Beta mass is integrated numerically (midpoint rule), which needs
    no SciPy; ``log_norm`` keeps the terms from underflowing for large n."""
    if not values:
        raise ValueError("percentile of no samples")
    ranked = sorted(values)
    n = len(ranked)
    a, b = q / 100.0 * (n + 1), (1.0 - q / 100.0) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    weights = [0.0] * n
    for k in range(grid):
        x = (k + 0.5) / grid
        weights[min(n - 1, int(x * n))] += math.exp(
            log_norm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
    return sum(w * v for w, v in zip(weights, ranked)) / sum(weights)


def samples_beyond(values: list[float], q: float) -> int:
    """How many samples lie strictly above the nearest-rank ``q`` percentile."""
    cut = percentile(values, q)
    return sum(1 for v in values if v > cut)


def supported_percentile(n: int, min_beyond: int = 10) -> float:
    """Highest percentile that leaves at least ``min_beyond`` of ``n``
    samples beyond it (0 when ``n`` is too small for any)."""
    if n <= min_beyond:
        return 0.0
    return 100.0 * (n - min_beyond) / n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
