"""Expected results of every output the benchmark checks.

The expected rows come from the DuckDB oracles in ``ORACLE_REGISTRY``,
run over the input tables in ``perfbench/data`` (copies of the sf0.1
``customer``, ``documents`` and ``embeddings`` tables). They are recorded
once in ``expected.json``, because the ``corpus_semantic_pipeline``
oracle alone runs for minutes. Re-record with:

    python3 perfbench/expected.py

Rows are compared with the one comparator the repository has,
``norm``/``value_hash`` from ``scripts/drive_contract.py``: full-precision
``repr`` of every cell, order-insensitive over rows.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = os.path.join(HERE, "data")
EXPECTED_PATH = os.path.join(HERE, "expected.json")
RECORD_COMMAND = "python3 perfbench/expected.py"

# every registered query whose result the workloads check
CHECKED_QUERIES = [
    "churn_stats",
    "churn_rate_by_contract",
    "churn_rate_by_subscription",
    "age_histogram",
    "age_filter_topn",
    "churn_risk_summary",
    "corpus_dedup_pipeline",
    "corpus_semantic_pipeline",
]
TABLES = ["customer", "documents", "embeddings"]


def comparator():
    """``(norm, value_hash)`` from ``scripts/drive_contract.py``.

    That script puts its own checkout path first on ``sys.path`` and
    imports ``__spark_entry__`` when it is imported, so the package and the
    entry module are imported from this checkout first and ``sys.path`` is
    restored afterwards."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401  (cache this checkout's copy)

    saved = list(sys.path)
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    try:
        import drive_contract
    finally:
        sys.path[:] = saved
    return drive_contract.norm, drive_contract.value_hash


def load() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def record_entry(rows: list[tuple], cols: list[str]) -> dict:
    norm, value_hash = comparator()
    return {
        "columns": list(cols),
        "n_rows": len(rows),
        "hash": value_hash(rows, cols),
        "rows": sorted([norm(v) for v in r] for r in rows),
    }


def record() -> dict:
    import duckdb

    from bigdata_group4_app_spark.registry import ORACLE_REGISTRY

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(DATA_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    out = {"command": RECORD_COMMAND, "queries": {}}
    for name in CHECKED_QUERIES:
        t0 = time.perf_counter()
        tbl = con.execute(ORACLE_REGISTRY[name]).arrow()
        rows = [tuple(r.values()) for r in tbl.to_pylist()]
        entry = record_entry(rows, tbl.schema.names)
        entry["oracle_s"] = round(time.perf_counter() - t0, 1)
        out["queries"][name] = entry
        print(f"{name}: {entry['n_rows']} rows in {entry['oracle_s']} s", flush=True)
    return out


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    result = record()
    with open(EXPECTED_PATH, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
        f.write("\n")
