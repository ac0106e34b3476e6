"""Seed invariance: a seed changes only row order, batch assignment and
replay positions, so every expected result holds for every seed."""

import os

import duckdb
import pytest

import expected as expected_mod
import workloads as wl

SEEDS = (1, 7)


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    out = {}
    for seed in SEEDS:
        work = str(tmp_path_factory.mktemp(f"seed{seed}"))
        out[seed] = wl.write_inputs(["churn_app", "corpus_stream"], seed, work)
    return out


def test_dashboard_oracles_match_recorded_results_for_every_seed(inputs):
    from bigdata_group4_app_spark.registry import ORACLE_REGISTRY

    recorded = expected_mod.load()["queries"]
    orders = set()
    for seed, inp in inputs.items():
        con = duckdb.connect()
        path = os.path.join(inp.sf_dir, "customer.parquet")
        con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{path}')")
        orders.add(tuple(r[0] for r in con.execute("SELECT c_custkey FROM customer LIMIT 20").fetchall()))
        for name in wl.DASHBOARD_QUERIES:
            tbl = con.execute(ORACLE_REGISTRY[name]).arrow()
            rows = [tuple(r.values()) for r in tbl.to_pylist()]
            entry = expected_mod.record_entry(rows, tbl.schema.names)
            assert entry["hash"] == recorded[name]["hash"], (seed, name)
    assert len(orders) == len(SEEDS), "seeds must change the row order"


def test_upload_risk_buckets_are_seed_invariant(inputs):
    from bigdata_group4_app_spark.functions.expressions import risk_bucket_sql
    from bigdata_group4_app_spark.ml.scoring import churn_probability_sql

    want = {k: wl.UPLOAD_REPLICAS * v for k, v in wl.expected_risk_counts(expected_mod.load()).items()}
    for inp in inputs.values():
        con = duckdb.connect()
        con.execute(f"CREATE VIEW upload AS SELECT * FROM read_csv_auto('{inp.upload_csv}', header=true)")
        got = dict(
            con.execute(
                f"SELECT {risk_bucket_sql(churn_probability_sql())} AS risk, count(*) "
                "FROM upload GROUP BY risk"
            ).fetchall()
        )
        assert got == want
        n, ids = con.execute('SELECT count(*), count(DISTINCT "CustomerID") FROM upload').fetchone()
        assert n == ids == sum(want.values())


def test_stream_batches_partition_the_corpus_for_every_seed(inputs):
    import pyarrow.parquet as pq

    all_ids = set(pq.read_table(os.path.join(expected_mod.DATA_DIR, "documents.parquet")).column("doc_id").to_pylist())
    assignments = set()
    for seed, inp in inputs.items():
        batches = [set(pq.read_table(p).column("doc_id").to_pylist()) for p in inp.batch_paths]
        assert len(batches) == wl.STREAM_BATCHES
        assert set().union(*batches) == all_ids
        assert sum(map(len, batches)) == len(all_ids) == inp.n_docs
        assert all(batches)
        assignments.add(tuple(sorted(batches[0]))[:20])
        assert len(inp.replays) == wl.STREAM_REPLAYS
        for step, batch in inp.replays:
            assert 1 <= step < wl.STREAM_BATCHES and 0 <= batch <= step
    assert len(assignments) == len(SEEDS), "seeds must change the batch assignment"
