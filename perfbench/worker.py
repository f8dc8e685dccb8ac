"""One benchmark run inside a fresh process: session start, warm-up, the
timed cycles, and the answer check of every request.

Started by ``run.py``, which passes a JSON config path and reads back a JSON
result file; it is not meant to be run by hand. The engine is driven only
through its public call, ``registry.QUERIES[op](spark, data_dir)`` followed
by ``.collect()``, by one client that sends the next request after the
previous one returned.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
import traceback


def _rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def record_mkdtemp(log_path: str) -> None:
    """Append every directory ``tempfile.mkdtemp`` makes in this process to
    ``log_path``, so the parent deletes exactly what this run created (the
    engine puts checkpoint dirs in the shared ``/dev/shm``). Behaviour is
    unchanged; each write is flushed at once so a crashed run is covered."""
    made = tempfile.mkdtemp
    log = open(log_path, "a", buffering=1)

    def mkdtemp(*args, **kwargs):
        path = made(*args, **kwargs)
        log.write(os.path.abspath(path) + "\n")
        return path

    tempfile.mkdtemp = mkdtemp


def main(config_path: str) -> None:
    with open(config_path) as fh:
        cfg = json.load(fh)
    record_mkdtemp(cfg["created"])
    sys.path.insert(0, cfg["root"])
    from oracle import canonical
    from spans import Span, Tracer

    with open(cfg["expected"]) as fh:
        expected: dict[str, str] = json.load(fh)

    t = time.perf_counter()
    from storm_netmonitor_spark import io as nm_io, registry
    from storm_netmonitor_spark.session import get_spark

    registry.load_all()
    registry_load_s = time.perf_counter() - t
    t = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    session_start_s = time.perf_counter() - t
    spark.sparkContext.setLogLevel("ERROR")
    tracer = Tracer(spark) if cfg["trace"] else None

    data_dir = cfg["data_dir"]
    requests: list[dict] = []
    spans: list[dict] = []
    check_s = 0.0  # the benchmark's own answer checking, kept out of setup_s

    def request(op: str, phase: str, cycle: int) -> dict:
        nonlocal check_s
        traced = tracer is not None and phase == "timed"
        if traced:
            tracer.begin()
        rec = {"op": op, "phase": phase, "cycle": cycle, "ok": False}
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            df = registry.QUERIES[op](spark, data_dir)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
        except Exception as exc:  # a failed request is counted, the run goes on
            rec["error"] = "".join(traceback.format_exception_only(exc)).strip()[-2000:]
            return rec
        rec.update(build_s=t1 - t0, collect_s=t2 - t1, wall_s=t2 - t0, rows=len(rows))
        c0 = time.perf_counter()
        got = canonical(df.columns, rows)
        rec["ok"] = got == expected.get(op) or (
            op in expected and json.loads(got) == json.loads(expected[op])
        )
        if not rec["ok"]:
            rec["error"] = f"answer differs from the oracle ({len(rows)} rows)"
        check_s += time.perf_counter() - c0
        if traced:
            root = Span("request", w0, w0 + rec["wall_s"],
                        attrs={"workload": cfg["workload"], "op": op,
                               "seed": cfg["seed"], "cycle": cycle, "phase": phase})
            root.children = [Span("build", w0, w0 + rec["build_s"]),
                             Span("collect", w0 + rec["build_s"], w0 + rec["wall_s"])]
            rec["counts"] = tracer.finish(root)
            rec["self_s"] = {
                "build": root.children[0].self_time(),
                "collect": root.children[1].self_time(),
                "batch": sum(s.self_time() for c in root.children for s in c.children
                             if s.name == "micro-batch"),
                "job": sum(j.self_time() for c in root.children for s in c.children
                           for j in ([s] if s.name == "job" else s.children)),
                "stage": sum(st.dur for c in root.children for s in c.children
                             for j in ([s] if s.name == "job" else s.children)
                             for st in j.children),
            }
            spans.append(root.to_json())
        return rec

    warm_walls = []
    orders = cfg["orders"]
    n_warm = cfg["warmup_cycles"]
    for cycle, order in enumerate(orders[:n_warm]):
        c0 = time.perf_counter()
        requests.extend(request(op, "warmup", cycle) for op in order)
        warm_walls.append(time.perf_counter() - c0)
    setup_s = time.time() - cfg["spawned_at"] - check_s

    gc0 = tracer.driver_gc_s() if tracer else 0.0
    timed_walls = []
    for cycle, order in enumerate(orders[n_warm:], start=n_warm):
        c0 = time.perf_counter()
        requests.extend(request(op, "timed", cycle) for op in order)
        timed_walls.append(time.perf_counter() - c0)

    result = {
        "setup_s": setup_s,
        "registry_load_s": registry_load_s,
        "session_start_s": session_start_s,
        "warmup_cycle_s": warm_walls,
        "timed_cycle_s": timed_walls,
        "requests": requests,
        "memo_entries": len(nm_io._SESSION_MEMO),
        "python_rss_mb": _rss_mb(),
    }
    if tracer:
        result.update(driver_gc_s=tracer.driver_gc_s() - gc0, heap_mb=tracer.heap_mb())
    with open(cfg["result"], "w") as fh:
        json.dump(result, fh)
    if tracer:
        with open(cfg["spans"], "w") as fh:
            json.dump(spans, fh)


if __name__ == "__main__":
    code = 0
    try:
        main(sys.argv[1])
    except BaseException:
        traceback.print_exc()
        code = 1
    sys.stdout.flush()
    sys.stderr.flush()
    # Exit at once: the parent stops the JVM with the rest of the process
    # group, so a graceful spark.stop() would only add seconds to every run.
    os._exit(code)
