"""DuckDB oracle digests for the benchmark's output checks.

Each registered query carries a DuckDB ``oracle`` SQL over the same parquet
tables. Their digests over the fixture files are computed once and
committed in ``oracle_digests.json`` beside this file, keyed by a
fingerprint of those files (the slowest oracles take minutes each). They
check the read-only workloads and the first measured pass of
``sync_queue``; its later passes, which read ``events`` as the previous
writes left it, recompute their oracles live.

Recompute the committed digests after a fixture or oracle change:

    python3 perfbench/oracles.py
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
COMMITTED = os.path.join(HERE, "oracle_digests.json")


def table_source(sf_dir: str, name: str) -> str:
    """DuckDB scan source of a table: the fixture's single parquet file,
    or every part file once the program has rewritten it as a directory."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    return os.path.join(path, "*.parquet") if os.path.isdir(path) else path


def connect(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute("SET memory_limit = '4GB'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_source(sf_dir, t)}'")
    return con


def fingerprint(sf_dir: str, tables: tuple[str, ...]) -> str:
    h = hashlib.sha256()
    for t in tables:
        h.update(t.encode())
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def load_committed(sf_dir: str, tables: tuple[str, ...]) -> dict[str, str]:
    """Committed digests for the fixtures in ``sf_dir``; raises when they
    were computed for other files."""
    with open(COMMITTED) as f:
        data = json.load(f)
    fp = fingerprint(sf_dir, tables)
    if data["fingerprint"] != fp:
        raise RuntimeError(
            f"fixtures in {sf_dir} (fingerprint {fp[:12]}) differ from the ones "
            f"the committed oracle digests were computed on "
            f"({data['fingerprint'][:12]}); run python3 perfbench/oracles.py"
        )
    return data["digests"]


def main() -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    from hive_backend_spark.catalog import DEFAULT_SF_DIR, TABLES
    from hive_backend_spark.registry import all_queries

    from workloads import COMMITTED_ORACLE_QUERIES
    from stats import digest

    specs = all_queries()
    con = connect(DEFAULT_SF_DIR, TABLES)
    digests = {}
    for name in COMMITTED_ORACLE_QUERIES:
        t0 = time.perf_counter()
        rel = con.sql(specs[name].oracle)
        digests[name] = digest(rel.columns, rel.fetchall())
        print(f"{name}: {time.perf_counter() - t0:.1f}s {digests[name]}", file=sys.stderr)
    with open(COMMITTED, "w") as f:
        json.dump(
            {"fingerprint": fingerprint(DEFAULT_SF_DIR, TABLES), "digests": digests},
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")


if __name__ == "__main__":
    main()
