"""Domain value oracles (``tests/oracles/``): every entry runs the real
pipeline code in Spark and a from-scratch DuckDB SQL derivation of the
same output, and the two must agree on column names, row count and the
order-insensitive value hash."""

import importlib
import os

import pytest

from tests.oracles import ORACLES, TPCH_DIR, normalized_rows, value_hash

for _mod in (
    "domain_oracle", "force_rf", "gene_header", "indel_haplo", "junction",
    "junction_haplo", "minus_strand", "peptide_board", "peptide_grid",
    "shim_board", "start_codon", "threeexon", "threeexon_haplo",
):
    importlib.import_module(f"tests.oracles.{_mod}")


@pytest.fixture(scope="module")
def duck():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    yield con
    con.close()


def assert_same_result(s_cols, s_rows, d_cols, d_rows):
    assert sorted(s_cols) == sorted(d_cols), "column names differ"
    assert len(s_rows) == len(d_rows), f"rows: spark {len(s_rows)}, duckdb {len(d_rows)}"
    if value_hash(s_cols, s_rows) != value_hash(d_cols, d_rows):
        s_set = set(normalized_rows(s_cols, s_rows))
        d_set = set(normalized_rows(d_cols, d_rows))
        pytest.fail(
            f"value hash differs; spark-only {sorted(s_set - d_set)[:3]}, "
            f"duckdb-only {sorted(d_set - s_set)[:3]}"
        )


@pytest.fixture(scope="module")
def results(spark, duck):
    """name -> (spark columns, spark rows, duckdb columns, duckdb rows),
    computed once per oracle."""
    cache = {}

    def get(name):
        if name not in cache:
            cache[name] = run_both(spark, duck, name)
        return cache[name]

    return get


def run_both(spark, duck, name):
    fn, sql, tables = ORACLES[name]
    if tables:
        if not os.path.isdir(TPCH_DIR):
            pytest.skip(f"TPC-H tables not found at {TPCH_DIR}")
        for t in tables:
            duck.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{TPCH_DIR}/{t}.parquet')"
            )
    sdf = fn(spark, TPCH_DIR)
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
    res = duck.execute(sql)
    d_cols, d_rows = [c[0] for c in res.description], res.fetchall()
    return s_cols, s_rows, d_cols, d_rows


def test_all_oracles_registered():
    assert len(ORACLES) == 19


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_domain_oracle(results, name):
    s_cols, s_rows, d_cols, d_rows = results(name)
    assert d_rows, "oracle returned no rows: the check would be vacuous"
    assert_same_result(s_cols, s_rows, d_cols, d_rows)


def test_harness_catches_corrupted_spark_output(results):
    s_cols, s_rows, d_cols, d_rows = results("domain_provar_snp_oracle")
    assert_same_result(s_cols, s_rows, d_cols, d_rows)
    # one Spark-side row dropped
    with pytest.raises(AssertionError, match="rows: spark"):
        assert_same_result(s_cols, s_rows[1:], d_cols, d_rows)
    # one value changed, row count kept
    changed = [("X",) + tuple(s_rows[0][1:])] + s_rows[1:]
    with pytest.raises(pytest.fail.Exception, match="value hash differs"):
        assert_same_result(s_cols, changed, d_cols, d_rows)
