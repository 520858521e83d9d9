"""Raw-SQL interface: register the catalog tables (and the derived OHLCV
panel) as temp views so users can drive the engine with ``spark.sql``
instead of the DataFrame API — the same dual surface the reference exposes
through its DB query layer (reference ``quantrocket.get_prices`` returns a
frame users then slice however they like; here they get ANSI SQL over the
same names the DuckDB oracle uses: region nation customer supplier part
orders lineitem events documents embeddings, plus ``prices_panel``).

Views are lazy: registering costs nothing until a query runs, and every
``spark.sql`` plan over them gets the same Catalyst pushdown/pruning as the
DataFrame catalog queries (verified by the plan-regression suite)."""

from __future__ import annotations

from pyspark.sql import SparkSession

from moonshot_spark.sources.parquet import TABLES, events_to_panel, load_table


def register_views(spark: SparkSession, sf_dir: str,
                   suffix: str = "") -> list[str]:
    """Register every catalog table as ``<name><suffix>`` plus the derived
    ``prices_panel<suffix>`` view.  Returns the view names registered.
    Idempotent (replaces existing views)."""
    import os

    names = []
    for t in TABLES:
        # only a genuinely ABSENT optional table is skipped; a corrupt
        # file, permission error, or schema problem must surface rather
        # than silently yielding a missing view (ADVICE r5)
        if not os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            continue
        df = load_table(spark, sf_dir, t)
        df.createOrReplaceTempView(t + suffix)
        names.append(t + suffix)
    events_to_panel(spark, sf_dir).createOrReplaceTempView(
        "prices_panel" + suffix)
    names.append("prices_panel" + suffix)
    return names
