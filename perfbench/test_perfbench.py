"""The benchmark's own tests. Run from the repository root:

    python -m pytest perfbench/test_perfbench.py -q

The two tiny-scale smoke cases start Spark (about half a minute each).
"""

from __future__ import annotations

import collections
import json
import os
import random
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402
import workloads as wl  # noqa: E402
from spans import Span, covered  # noqa: E402


# ---- percentile rule ---------------------------------------------------------
def test_nearest_rank_percentile():
    values = [float(v) for v in range(1, 101)]
    assert wl.percentile(values, 50) == 50.0
    assert wl.percentile(values, 90) == 90.0
    assert wl.samples_beyond(values, 90) == 10
    assert wl.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        wl.percentile([], 50)


@pytest.mark.parametrize("n", [11, 20, 30, 45, 99, 100, 101, 250])
def test_supported_percentile_leaves_ten_beyond(n):
    rng = random.Random(n)
    values = [rng.random() for _ in range(n)]
    q = wl.supported_percentile(n)
    assert wl.samples_beyond(values, q) >= 10
    # and it is the highest such: one rank higher leaves fewer than ten
    assert wl.samples_beyond(values, q + 100.0 / n) < 10


def test_harrell_davis_percentile():
    assert wl.hd_percentile([1.0, 2.0, 3.0, 4.0, 5.0], 50) == pytest.approx(3.0)
    assert wl.hd_percentile([3.0], 90) == pytest.approx(3.0)
    assert wl.hd_percentile([2.0] * 7, 90) == pytest.approx(2.0)
    rng = random.Random(5)
    values = [rng.random() for _ in range(400)]
    assert wl.hd_percentile(values, 50) == pytest.approx(wl.median(values), abs=0.02)
    assert wl.hd_percentile(values, 90) == pytest.approx(wl.percentile(values, 90), abs=0.02)
    assert min(values) < wl.hd_percentile(values, 50) < wl.hd_percentile(values, 90) < max(values)
    with pytest.raises(ValueError):
        wl.hd_percentile([], 50)


def test_supported_percentile_too_few_samples():
    assert wl.supported_percentile(10) == 0.0
    assert wl.supported_percentile(100) == 90.0


# ---- seeded cycles -----------------------------------------------------------
@pytest.mark.parametrize("name", sorted(wl.WORKLOADS))
def test_every_seed_runs_the_same_op_multiset(name):
    w = wl.WORKLOADS[name]
    seen_orders = set()
    for seed in range(25):
        orders = wl.cycle_orders(w, seed, 3)
        assert len(orders) == 3
        for order in orders:
            assert collections.Counter(order) == collections.Counter(w.menu)
        seen_orders.add(tuple(orders[0]))
    assert len(seen_orders) > 1  # the seed does shuffle
    assert wl.cycle_orders(w, 7, 3) == wl.cycle_orders(w, 7, 3)


def test_timed_cycles_is_a_count_not_a_deadline():
    for w in wl.WORKLOADS.values():
        assert wl.timed_cycles(w, 0.1) == wl.MIN_TIMED_CYCLES
        assert wl.timed_cycles(w, 20) == wl.timed_cycles(w, 20)
        assert wl.timed_cycles(w, 10 * w.nominal_cycle_s) == 10


# ---- metric names and units --------------------------------------------------
def test_benchmark_json_lists_every_metric_with_its_unit():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == sorted(wl.WORKLOADS)
    assert spec["paths"] == ["perfbench"]


def _fake_result(n_timed: int = 20, traced: bool = False) -> dict:
    reqs = []
    for i in range(n_timed + 5):
        r = {"op": f"op{i % 5}", "phase": "timed" if i >= 5 else "warmup",
             "cycle": i // 5, "ok": True, "build_s": 0.2 + i / 100,
             "collect_s": 0.1, "wall_s": 0.3 + i / 100, "rows": 3}
        if traced:
            r["counts"] = {
                "jobs": 2, "stages": 3, "tasks": 8, "shuffle_bytes": 100,
                "input_bytes": 50, "executor_run_s": 0.1, "executor_gc_s": 0.0,
                "batches": i % 2, "trigger_s": 0.1, "state_rows": 7,
                "state_bytes": 64, **{f"drain_{k}_s": 0.01 for k in
                                      ("addBatch", "queryPlanning", "walCommit",
                                       "commitOffsets", "latestOffset")},
            }
            r["self_s"] = dict.fromkeys(("build", "collect", "batch", "job", "stage"), 0.01)
        reqs.append(r)
    return {
        "setup_s": 12.5, "registry_load_s": 0.5, "session_start_s": 6.0,
        "warmup_cycle_s": [9.0], "timed_cycle_s": [4.0] * 4, "requests": reqs,
        "memo_entries": 2, "python_rss_mb": 150.0, "driver_gc_s": 0.2,
        "heap_mb": 500.0,
    }


def test_every_metric_is_computed():
    res = _fake_result()
    e2e = run.end_to_end(res, attempted=25, correct=25)
    assert set(e2e) == set(run.END_TO_END)
    assert e2e["ok_ratio"] == 1.0 and all(v > 0 for v in e2e.values())
    layer = run.per_layer(_fake_result(traced=True), {"calibration_s": [0.2, 0.21],
                          "loadavg": 0.5}, {"dirs": 5, "bytes": 500}, (0, 0))
    assert set(layer) == set(run.PER_LAYER)
    assert layer["tmp.dirs_left_per_request"] == 5 / 25


# ---- spans -------------------------------------------------------------------
def test_self_time_subtracts_the_union_of_children():
    parent = Span("build", 0.0, 10.0)
    parent.children = [Span("job", 1.0, 4.0), Span("job", 3.0, 5.0), Span("job", 9.0, 12.0)]
    assert covered(0.0, 10.0, parent.children) == pytest.approx(5.0)
    assert parent.self_time() == pytest.approx(5.0)


# ---- inputs ------------------------------------------------------------------
@pytest.mark.parametrize("data", sorted(os.listdir(run.DATA_ROOT)))
def test_bundled_data_holds_every_table_the_menus_read(data):
    from storm_netmonitor_spark import registry

    data_dir = os.path.join(run.DATA_ROOT, data)
    tables = {f[:-len(".parquet")] for f in os.listdir(data_dir)}
    registry.load_all()
    for w in wl.WORKLOADS.values():
        for op in w.menu:
            sql = registry.resolve_oracle(op, data_dir)
            for t in ("region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"):
                if re.search(rf"\b{t}\b", sql):
                    assert t in tables, (op, t)


# ---- temp hygiene ------------------------------------------------------------
def test_cleanup_touches_only_what_the_run_created(tmp_path, monkeypatch):
    shared, private = tmp_path / "shm", tmp_path / "private"
    shared.mkdir()
    private.mkdir()
    foreign = shared / "nm_ckpt_other"  # another process's live checkpoint
    foreign.mkdir()
    log = str(tmp_path / "created.txt")
    monkeypatch.setattr(worker.tempfile, "mkdtemp", worker.tempfile.mkdtemp)
    worker.record_mkdtemp(log)
    ours = worker.tempfile.mkdtemp(prefix="nm_ckpt_", dir=str(shared))
    gone = worker.tempfile.mkdtemp(prefix="nm_dedup_", dir=str(shared))
    os.rmdir(gone)  # cleaned up by the engine itself: not a leak
    other = worker.tempfile.mkdtemp(prefix="spark-", dir=str(shared))
    staged = private / "nm_stream_src_x"  # made by an executor-side worker
    staged.mkdir()
    left = run.created_by_run(log, str(private))
    assert left == sorted([ours, str(staged)])
    assert str(foreign) not in left and other not in left


# ---- end to end --------------------------------------------------------------
def _bench(*extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("name,trace", [("dashboard", "0"), ("stream_ingest", "1")])
def test_tiny_scale_smoke_every_oracle_green(name, trace):
    p = _bench("--workload", name, "--trace", trace, "--data", "sf0.001",
               "--cycles", "1", "--warmup-cycles", "0")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] == len(wl.WORKLOADS[name].menu)
    units = run.PER_LAYER if trace == "1" else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == units
    if trace == "0":
        assert out["metrics"]["ok_ratio"]["value"] == 1.0


def test_fails_without_the_engine_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _bench("--workload", "dashboard", "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
