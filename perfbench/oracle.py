"""Value hashes for the curation checks: the registry's DuckDB oracle SQL
against the same generated files the engine reads.

``canon``/``vhash`` are the benchmark's own copy of the correctness gate's
order-insensitive value hash (``tools/driver_sim.py``); importing that
script would start a Spark session of its own.
"""

from __future__ import annotations

import hashlib
import json
import math
import os


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def vhash(cols, rows) -> str:
    """Hash of a result independent of row order and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:12]


def oracle_hashes(sf_dir: str, sqls: dict[str, str]) -> dict[str, tuple[int, str]]:
    """(row count, value hash) of each oracle query over ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings", "events"):
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.isdir(p):
                p = os.path.join(p, "*.parquet")
            elif not os.path.exists(p):
                continue
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        out = {}
        for name, sql in sqls.items():
            rel = con.sql(sql)
            rows = rel.fetchall()
            out[name] = (len(rows), vhash(list(rel.columns), rows))
        return out
    finally:
        con.close()


def cached_hashes(sf_dir: str, sqls: dict[str, str]) -> dict[str, tuple[int, str]]:
    """``oracle_hashes``, kept beside the generated tables: the same seed
    gives the same tables, so their oracle answers are computed once."""
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()[:16]
    path = os.path.join(sf_dir, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return {q: tuple(v) for q, v in json.load(f).items()}
    out = oracle_hashes(sf_dir, sqls)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out
