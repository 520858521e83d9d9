"""tools/dump_plans.py writes plans that diff clean between two trees."""
import re

from tests.conftest import SF_DIR
from tools.dump_plans import dump

# a FileScan filter list Spark abbreviated ("[isnotnull(a#1), cast(ts#2 as ti...")
CUT_FILTERS = re.compile(r"(?:Data|Pushed)Filters: \[[^\]]*\.\.\.")


def test_dump_prints_scan_filters_uncut(spark, tmp_path):
    """``purchases_in_sessions`` pushes five filters into its events scan,
    more than Spark's 100-character metadata cut.  A cut string ends at a
    character that depends on how many digits its expression ids have,
    so it would differ between two dumps of the same plan."""
    cut = spark.conf.get("spark.sql.maxMetadataStringLength")
    dump(spark, str(tmp_path), ["purchases_in_sessions"], SF_DIR)
    text = (tmp_path / "purchases_in_sessions.txt").read_text()
    assert "DataFilters: [isnotnull(event_type#N)" in text
    assert not CUT_FILTERS.search(text), CUT_FILTERS.search(text).group(0)
    assert spark.conf.get("spark.sql.maxMetadataStringLength") == cut
