"""Every registered oracle binds in DuckDB: ``EXPLAIN`` parses, binds and
plans each oracle against the sf0.001 tables without running it, so a
broken oracle string (a bad fragment splice, say) fails here instead of
only in the opt-in sweep of ``tools/check_correctness.py``."""
import pytest

from moonshot_spark.queries import ORACLES
from tests.conftest import SF_DIR

duckdb = pytest.importorskip("duckdb")
from tools.check_correctness import duckdb_views  # noqa: E402


@pytest.fixture(scope="module")
def con():
    """DuckDB with one view per table, as the correctness sweep makes
    them."""
    con = duckdb_views(SF_DIR)
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
