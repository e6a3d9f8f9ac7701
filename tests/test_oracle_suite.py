"""The local mirror of the driver's t2 correctness gate: run every suite
query on Spark AND its DuckDB oracle at sf0.01 and compare them with the
strict comparator of ``tools/check_values.py`` — scalar output columns,
same pandas dtype kinds, same column names, cell-exact rows."""

from __future__ import annotations

import duckdb
import pytest

from map_reduce_implementation_spark.sources import TABLES
from map_reduce_implementation_spark.suite import all_queries
from tools.check_values import _unhashable_cols, compare_frames

from .conftest import SF001

QUERIES = all_queries()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF001}/{t}.parquet'"
        )
    return con


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, duck, name):
    q = QUERIES[name]
    sdf = q.build(spark, SF001)
    scols = sdf.columns
    assert len(scols) == len(set(scols)), f"{name}: duplicate column names"
    s_pdf = sdf.toPandas()
    # rows-only entries too: a pandas sort over all columns crashes on non-scalar cells
    assert not _unhashable_cols(s_pdf), f"{name}: non-scalar output columns"
    if q.oracle is None:
        return
    verdict, detail = compare_frames(s_pdf, duck.execute(q.oracle).df())
    assert verdict == "exact", f"{name}: {verdict}: {detail}"


def test_comparator_is_strict():
    """Row order is free; a last-digit float difference and an int-vs-float
    dtype are not, because the value hash sees both."""
    import pandas as pd

    base = pd.DataFrame({"k": [1, 2], "v": [0.1, 0.2]})
    assert compare_frames(base, base[::-1].reset_index(drop=True))[0] == "exact"
    assert compare_frames(base, base.assign(v=[0.1, 0.2 + 1e-12]))[0] == "tol"
    assert compare_frames(base, base.assign(k=[1.0, 2.0]))[0] == "failed"
