"""Every registered oracle binds in DuckDB: ``EXPLAIN`` parses, binds and
plans each oracle against the sf0.001 tables without running it, so a
broken oracle string (a bad fragment splice, say) fails here instead of
only in the opt-in sweep of ``tools/check_correctness.py``."""
import os

import pytest

from moonshot_spark.queries import ORACLES
from moonshot_spark.sources.parquet import TABLES
from tests.conftest import SF_DIR

duckdb = pytest.importorskip("duckdb")


@pytest.fixture(scope="module")
def con():
    """DuckDB with one view per table, as ``tools/check_correctness.py``
    creates them (a Spark-written table is a directory of part files)."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        elif not os.path.exists(path):
            continue
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def test_every_oracle_binds(con):
    failures = {}
    for name, sql in ORACLES.items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except duckdb.Error as exc:
            failures[name] = str(exc).splitlines()[0]
    assert not failures, failures
