"""Oracle parity: every query with a DuckDB twin returns the same answer on
both engines at sf0.01 — row count, column names and an order-insensitive
value hash. One query: ``pytest tests/test_oracle_parity.py -k <name>``.

The queries run under Spark's default SQL confs: the module unsets every
conf that ``get_session`` tunes (and restores them afterwards), so a query
that only passes with AQE, Arrow, a broadcast threshold, a partition count
or a pinned time zone fails here rather than on a plain session.
"""

from __future__ import annotations

import hashlib
import importlib
import os

import duckdb
import pandas as pd
import pytest

from conftest import _SLOW_TESTS, SF_CORRECT
from learn_hbase_spark import queries as Q
from learn_hbase_spark.schemas import TESTDATA_TABLES

# The SQL confs get_session sets.
_TUNED_CONFS = (
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.shuffle.partitions",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.session.timeZone",
)

# The queries without a DuckDB twin, each with the pytest checks that stand
# in for its oracle. approx_profile's estimates are also value-checked by
# its full-oracle tolerance twin approx_profile_bounds; the sketch-valued
# query itself stays rows-only.
_ROWS_ONLY_CHECKS = {
    "simhash_fingerprints": [
        "tests/test_llm_ops.py::test_simhash_close_for_near_dups",
        "tests/test_llm_ops.py::test_simhash_md5_deterministic_and_near",
    ],
    "approx_profile": [
        "tests/test_sketches.py::test_approx_distinct_within_rsd",
        "tests/test_sketches.py::test_approx_quantiles_near_exact",
    ],
    "hll_sketch_rollup": [
        "tests/test_sketches.py::test_hll_rollup_tolerance_and_merge_consistency",
        "tests/test_sketches.py::test_hll_merge_law_partitioning_invariant",
    ],
}


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # canonical dtypes: timestamps → iso strings, floats stay floats
    out = {}
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = s.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_bool_dtype(s):
            s = s.astype(str)
        elif pd.api.types.is_float_dtype(s):
            s = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        else:
            s = s.astype(str)
        out[c] = s
    res = pd.DataFrame(out)
    return res.sort_values(by=list(res.columns)).reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    df = normalize(df)
    h = hashlib.sha256()
    for c in df.columns:
        h.update(c.encode())
        col = df[c]
        if pd.api.types.is_float_dtype(col):
            h.update(col.to_numpy().tobytes())
        else:
            h.update("\x01".join(col.astype(str)).encode())
    return h.hexdigest()


def _first_differences(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str:
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    rows = ((a != b) & ~(a.isna() & b.isna())).any(axis=1)
    if not rows.any():
        return (
            "value-hash mismatch with equal normalized values; dtypes "
            f"spark={dict(a.dtypes.astype(str))} duck={dict(b.dtypes.astype(str))}"
        )
    return (
        "value-hash mismatch\n"
        f"  spark: {a[rows].head(3).to_dict('records')}\n"
        f"  duck : {b[rows].head(3).to_dict('records')}"
    )


def test_registry_order():
    assert list(Q.queries()) == list(Q._QUERIES) and list(Q.oracle_sql()) == list(Q._ORACLES)


def test_rows_only_checks_cover_exactly_the_no_oracle_tail():
    assert set(_ROWS_ONLY_CHECKS) == set(Q._QUERIES) - set(Q._ORACLES)
    for name, nodes in _ROWS_ONLY_CHECKS.items():
        assert nodes, f"{name} has an empty check list"


def test_rows_only_checks_name_existing_non_slow_tests():
    for nodes in _ROWS_ONLY_CHECKS.values():
        for node in nodes:
            path, func = node.split("::")
            module = importlib.import_module(
                os.path.splitext(os.path.basename(path))[0]
            )
            assert callable(getattr(module, func, None)), f"{node} names no test"
            assert func not in _SLOW_TESTS, f"{node} is in the slow tier"


@pytest.fixture(scope="module")
def default_spark(spark):
    saved = {k: spark.conf.get(k) for k in _TUNED_CONFS}
    for k in _TUNED_CONFS:
        spark.conf.unset(k)
    yield spark
    for k, v in saved.items():
        spark.conf.set(k, v)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_CORRECT}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", list(Q.oracle_sql()))
def test_oracle_parity(name, default_spark, duck):
    # Spark first: file_corpus_dedup writes the files its oracle reads.
    spark_pdf = Q.queries()[name](default_spark, SF_CORRECT).toPandas()
    duck_pdf = duck.execute(Q.oracle_sql()[name]).df()
    assert len(spark_pdf) == len(duck_pdf), "row counts differ"
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns)
    assert value_hash(spark_pdf) == value_hash(duck_pdf), _first_differences(
        spark_pdf, duck_pdf
    )
