"""Benchmark entry point: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the repository root. The run

1. computes the oracle answers for the bundled input tables in
   ``perfbench/data/`` (cached in ``.perfbench_work/`` after the first run);
2. starts ``worker.py`` in a fresh process with a private artifact store,
   temp dir and Spark local dir, and the repository on ``PYTHONPATH`` so
   executor-side Python workers can import the engine;
3. reads back every request's timing and answer check;
4. measures, then deletes, the ``nm_*`` directories the run created and
   left behind;
5. prints diagnostics, then as the last line one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (and writes the run's spans to ``.perfbench_work/traces/``). See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

import workloads as wl  # noqa: E402

#: The engine's seed-42 test tables that the menus read, copied unchanged.
#: sf0.01 (10,000 events) is what the runs measure; sf0.001 is for the
#: benchmark's own smoke test.
DATA_ROOT = os.path.join(HERE, "data")
DATA = "sf0.01"
#: The whole command must finish within this many seconds.
RUN_LIMIT_S = 175.0
TMP_PREFIX = "nm_"

END_TO_END = {
    "setup_s": "s",
    "request_s_p50": "s",
    "request_s_p90": "s",
    "requests_per_s": "1/s",
    "ok_ratio": "ratio",
}
PER_LAYER = {
    "registry.load_s": "s",
    "session.start_s": "s",
    "warmup.first_cycle_s": "s",
    "warmup.last_cycle_s": "s",
    "operators.build_s_p50": "s",
    "operators.collect_s_p50": "s",
    "spark.jobs_per_request": "count",
    "spark.stages_per_request": "count",
    "spark.tasks_per_request": "count",
    "shuffle.bytes_per_request": "bytes",
    "input.bytes_per_request": "bytes",
    "result.rows_per_request": "count",
    "kernels.request_s_p50": "s",
    "drain.batches_per_request": "count",
    "drain.add_batch_s_p50": "s",
    "drain.query_planning_s_p50": "s",
    "drain.wal_commit_s_p50": "s",
    "drain.commit_offsets_s_p50": "s",
    "drain.latest_offset_s_p50": "s",
    "drain.overhead_s_p50": "s",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "artifact.entries_created": "count",
    "artifact.bytes": "bytes",
    "memo.entries": "count",
    "tmp.dirs_left_per_request": "count",
    "tmp.bytes_left_per_request": "bytes",
    "executor.run_s_per_request": "s",
    "executor.gc_s_per_request": "s",
    "driver.gc_s": "s",
    "driver.heap_mb_end": "MB",
    "python.rss_mb_end": "MB",
    "self.build_s_p50": "s",
    "self.collect_s_p50": "s",
    "self.batch_s_p50": "s",
    "self.job_s_p50": "s",
    "self.stage_s_p50": "s",
    "traced.request_s_p50": "s",
    "host.calibration_s": "s",
    "host.loadavg": "load",
}


def calibration_s() -> float:
    """Fixed-work host probe: a 3M-iteration pure-Python loop."""
    t = time.perf_counter()
    acc = 0
    for i in range(3_000_000):
        acc += i & 7
    return time.perf_counter() - t


def _du(path: str) -> int:
    if os.path.islink(path) or not os.path.isdir(path):
        return os.lstat(path).st_size
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except FileNotFoundError:
                pass
    return total


def _nm_entries(d: str) -> set[str]:
    try:
        return {os.path.join(d, n) for n in os.listdir(d) if n.startswith(TMP_PREFIX)}
    except FileNotFoundError:
        return set()


def _remove(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass


def created_by_run(created_log: str, private_tmp: str) -> list[str]:
    """The ``nm_*`` entries this run made that still exist: every path the
    worker's ``tempfile.mkdtemp`` returned (the engine's checkpoint dirs go
    to the shared ``/dev/shm``), plus anything ``nm_*`` in the run's
    private temp dir (where executor-side workers stage). Entries made by
    other processes in the shared dirs are never counted or touched."""
    try:
        with open(created_log) as fh:
            made = [line.rstrip("\n") for line in fh if line.strip()]
    except FileNotFoundError:
        made = []
    made = [p for p in made
            if os.path.basename(p).startswith(TMP_PREFIX) and os.path.lexists(p)]
    return sorted(set(made) | _nm_entries(private_tmp))


def _stop(proc: subprocess.Popen) -> None:
    """Kill the worker's whole process group (Python, JVM, Python workers)
    and wait until every member has exited. The result file is already
    written, and everything the JVM's shutdown hooks would delete lives in
    the run directory, which is removed afterwards; SIGKILL spares every
    run the JVM's ~2 s graceful shutdown."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    end = time.time() + 10
    while time.time() < end:
        try:
            os.killpg(proc.pid, 0)  # raises once the group is empty
        except ProcessLookupError:
            return
        time.sleep(0.05)


def spark_cpus() -> int:
    """Task slots for ``local[N]``: half the cores the benchmark may use.
    The other half is left to the JVM's compiler and GC threads, the
    client and the Python workers, so a busy neighbour on a shared host
    slows a run less. At these input sizes a request runs no faster with
    all cores (4-core host, a 13-op dashboard cycle after warm-up: about
    6.2 s at local[2], 6.5 s at local[4])."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def run_worker(root: str, run_dir: str, cfg: dict, deadline: float) -> None:
    env = dict(os.environ)
    cpus = spark_cpus()
    tmp = os.path.join(run_dir, "tmp")
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        NM_ARTIFACT_DIR=os.path.join(run_dir, "artifacts"),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        # keep the JVM's temp files in the run directory (java.io.tmpdir for
        # Spark and RocksDB, no hsperfdata file in the system temp dir) and
        # its GC and JIT thread pools as small as the task slots
        JAVA_TOOL_OPTIONS=(
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:ParallelGCThreads={cpus} "
            "-XX:ConcGCThreads=1 -XX:CICompilerCount=2"
        ),
        # one BLAS/OpenMP thread per Python process (driver and workers)
        OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1",
        # the same str/bytes hashing (set and dict order) in every run
        PYTHONHASHSEED="0",
    )
    for d in ("artifacts", "tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d), mode=0o700)
    cfg_path = os.path.join(run_dir, "config.json")
    cfg["spawned_at"] = time.time()
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            _stop(proc)  # also reaps anything the worker left in its group
    if proc.returncode != 0 or not os.path.exists(cfg["result"]):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"worker failed (exit {proc.returncode}):\n{tail}")


def end_to_end(res: dict, attempted: int, correct: int) -> dict:
    timed = [r for r in res["requests"] if r["phase"] == "timed" and "wall_s" in r]
    walls = [r["wall_s"] for r in timed]
    return {
        "setup_s": res["setup_s"],
        "request_s_p50": wl.hd_percentile(walls, 50),
        "request_s_p90": wl.hd_percentile(walls, 90),
        "requests_per_s": len(walls) / sum(walls),
        "ok_ratio": correct / attempted,
    }


def per_layer(res: dict, host: dict, leak: dict, artifacts: tuple[int, int]) -> dict:
    timed = [r for r in res["requests"] if r["phase"] == "timed" and "wall_s" in r]
    n = len(timed)
    counts = [r["counts"] for r in timed]

    def mean(key: str) -> float:
        return sum(c[key] for c in counts) / n

    drains = [(r, r["counts"]) for r in timed if r["counts"]["batches"]]

    def drain_p50(key: str) -> float:
        return wl.median([c[key] for _, c in drains]) if drains else 0.0

    def self_p50(key: str) -> float:
        return wl.median([r["self_s"][key] for r in timed])

    return {
        "registry.load_s": res["registry_load_s"],
        "session.start_s": res["session_start_s"],
        "warmup.first_cycle_s": res["warmup_cycle_s"][0] if res["warmup_cycle_s"] else 0.0,
        "warmup.last_cycle_s": res["warmup_cycle_s"][-1] if res["warmup_cycle_s"] else 0.0,
        "operators.build_s_p50": wl.median([r["build_s"] for r in timed]),
        "operators.collect_s_p50": wl.median([r["collect_s"] for r in timed]),
        "spark.jobs_per_request": mean("jobs"),
        "spark.stages_per_request": mean("stages"),
        "spark.tasks_per_request": mean("tasks"),
        "shuffle.bytes_per_request": mean("shuffle_bytes"),
        "input.bytes_per_request": mean("input_bytes"),
        "result.rows_per_request": sum(r["rows"] for r in timed) / n,
        "kernels.request_s_p50": wl.median(
            [r["wall_s"] for r in timed if r["op"] in wl.KERNEL_OPS]),
        "drain.batches_per_request": mean("batches"),
        "drain.add_batch_s_p50": drain_p50("drain_addBatch_s"),
        "drain.query_planning_s_p50": drain_p50("drain_queryPlanning_s"),
        "drain.wal_commit_s_p50": drain_p50("drain_walCommit_s"),
        "drain.commit_offsets_s_p50": drain_p50("drain_commitOffsets_s"),
        "drain.latest_offset_s_p50": drain_p50("drain_latestOffset_s"),
        "drain.overhead_s_p50": (
            wl.median([r["build_s"] - c["trigger_s"] for r, c in drains]) if drains else 0.0
        ),
        "state.rows_total": mean("state_rows"),
        "state.memory_bytes": mean("state_bytes"),
        "artifact.entries_created": artifacts[0],
        "artifact.bytes": artifacts[1],
        "memo.entries": res["memo_entries"],
        "tmp.dirs_left_per_request": leak["dirs"] / len(res["requests"]),
        "tmp.bytes_left_per_request": leak["bytes"] / len(res["requests"]),
        "executor.run_s_per_request": mean("executor_run_s"),
        "executor.gc_s_per_request": mean("executor_gc_s"),
        "driver.gc_s": res["driver_gc_s"],
        "driver.heap_mb_end": res["heap_mb"],
        "python.rss_mb_end": res["python_rss_mb"],
        "self.build_s_p50": self_p50("build"),
        "self.collect_s_p50": self_p50("collect"),
        "self.batch_s_p50": self_p50("batch"),
        "self.job_s_p50": self_p50("job"),
        "self.stage_s_p50": self_p50("stage"),
        "traced.request_s_p50": wl.hd_percentile([r["wall_s"] for r in timed], 50),
        "host.calibration_s": max(host["calibration_s"]),
        "host.loadavg": host["loadavg"],
    }


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # smaller settings for the benchmark's own smoke test
    ap.add_argument("--data", default=DATA, choices=sorted(os.listdir(DATA_ROOT)),
                    help=argparse.SUPPRESS)
    ap.add_argument("--cycles", type=int, help=argparse.SUPPRESS)
    ap.add_argument("--warmup-cycles", type=int, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    t_start = time.time()
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "storm_netmonitor_spark"))
            and os.path.isfile(os.path.join(root, "tests", "parity.py"))):
        print("perfbench: run from the repository root (engine sources not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import oracle

    workload = wl.WORKLOADS[args.workload]
    warm = workload.warmup_cycles if args.warmup_cycles is None else args.warmup_cycles
    cycles = args.cycles or wl.timed_cycles(workload, args.seconds)
    orders = wl.cycle_orders(workload, args.seed, warm + cycles)

    work = os.path.join(root, ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    data_dir = os.path.join(DATA_ROOT, args.data)
    expected = oracle.expected_answers(data_dir, list(workload.menu), work)

    run_dir = os.path.join(work, f"run-{os.getpid()}-{int(t_start)}")
    os.makedirs(run_dir)
    host = {"calibration_s": [calibration_s()], "loadavg": os.getloadavg()[0]}
    expected_path = os.path.join(run_dir, "expected.json")
    with open(expected_path, "w") as fh:
        json.dump(expected, fh)
    cfg = {
        "root": root, "workload": workload.name, "seed": args.seed,
        "trace": bool(args.trace), "data_dir": data_dir, "orders": orders,
        "warmup_cycles": warm, "expected": expected_path,
        "result": os.path.join(run_dir, "result.json"),
        "spans": os.path.join(run_dir, "spans.json"),
        "created": os.path.join(run_dir, "created.txt"),
    }
    try:
        run_worker(root, run_dir, cfg, t_start + RUN_LIMIT_S)
        with open(cfg["result"]) as fh:
            res = json.load(fh)
        host["calibration_s"].append(calibration_s())
        left = created_by_run(cfg["created"], os.path.join(run_dir, "tmp"))
        leak = {"dirs": len(left), "bytes": sum(_du(p) for p in left)}
        art_dir = os.path.join(run_dir, "artifacts")
        artifacts = (len(os.listdir(art_dir)), _du(art_dir))
        if args.trace:
            traces = os.path.join(work, "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(cfg["spans"], os.path.join(
                traces, f"{workload.name}-seed{args.seed}-{int(t_start)}.json"))
    finally:
        for p in created_by_run(cfg["created"], os.path.join(run_dir, "tmp")):
            _remove(p)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(res["requests"])
    correct = sum(1 for r in res["requests"] if r["ok"])
    for r in res["requests"]:
        if not r["ok"]:
            print(f"FAILED {r['op']} ({r['phase']} cycle {r['cycle']}): {r.get('error')}")
    walls = [r["wall_s"] for r in res["requests"] if r["phase"] == "timed" and "wall_s" in r]
    if not walls:
        print("perfbench: no timed request completed", file=sys.stderr)
        return 1
    per_op: dict[str, list[float]] = {}
    for r in res["requests"]:
        if r["phase"] == "timed" and "wall_s" in r:
            per_op.setdefault(r["op"], []).append(r["wall_s"])
    print(json.dumps({
        "workload": workload.name, "seed": args.seed, "timed_cycles": cycles,
        "warmup_cycles": warm, "timed_requests": len(walls),
        "samples_beyond_p90": wl.samples_beyond(walls, 90),
        "highest_supported_percentile": round(wl.supported_percentile(len(walls)), 1),
        "warmup_cycle_s": [round(x, 3) for x in res["warmup_cycle_s"]],
        "timed_cycle_s": [round(x, 3) for x in res["timed_cycle_s"]],
        "host_calibration_s": [round(x, 4) for x in host["calibration_s"]],
        "host_loadavg": host["loadavg"], "tmp_left": leak,
        "op_p50_s": {op: round(wl.median(v), 3) for op, v in sorted(per_op.items())},
        "run_wall_s": round(time.time() - t_start, 1),
    }))
    if args.trace:
        values = per_layer(res, host, leak, artifacts)
        units = PER_LAYER
    else:
        values = end_to_end(res, attempted, correct)
        units = END_TO_END
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    print(json.dumps({
        "correct": correct == attempted, "attempted": attempted,
        "failed": attempted - correct, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
