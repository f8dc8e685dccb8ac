"""Expected answers: each menu op's DuckDB oracle over the benchmark data,
canonicalized the way ``tests/parity.py`` does (columns sorted by name,
cells canonicalized, rows sorted) and serialized to one JSON string.

Computed once per (data fingerprint, oracle SQL) and cached in the work
directory, so the runs after the first only read a file.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb


def canonical(cols, rows) -> str:
    from tests.parity import canon_rows

    return json.dumps([sorted(cols), canon_rows(list(cols), rows)])


def data_fingerprint(data_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(data_dir, name), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name)
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def expected_answers(data_dir: str, ops: list[str], cache_dir: str) -> dict[str, str]:
    """``{op: canonical answer}`` for every op of ``ops``; raises KeyError
    for an op without a registered oracle."""
    from storm_netmonitor_spark import registry

    registry.load_all()
    fp = data_fingerprint(data_dir)
    cache_path = os.path.join(cache_dir, f"expected-{fp}.json")
    try:
        with open(cache_path) as fh:
            cache = json.load(fh)
    except FileNotFoundError:
        cache = {}
    out: dict[str, str] = {}
    con = None
    try:
        for op in ops:
            sql = registry.resolve_oracle(op, data_dir)
            key = hashlib.sha256(sql.encode()).hexdigest()[:16]
            hit = cache.get(op)
            if hit is None or hit["sql"] != key:
                con = con or _connect(data_dir)
                cur = con.execute(sql)
                hit = cache[op] = {
                    "sql": key,
                    "answer": canonical([d[0] for d in cur.description], cur.fetchall()),
                }
            out[op] = hit["answer"]
    finally:
        if con is not None:
            con.close()
    tmp = f"{cache_path}.{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(cache, fh)
    os.replace(tmp, cache_path)
    return out
