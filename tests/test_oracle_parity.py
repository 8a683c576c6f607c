"""Local mirror of the driver's t2 gate: every registered query with an
oracle is run on Spark and on DuckDB over the same parquet, and
compared row-count + schema-names + values (rows sorted, columns
sorted by name) by `tools.validate.compare` — the same shape as the
driver's order-insensitive value-hash, dtype-strict like it, but with
readable diffs.
"""

from __future__ import annotations

import pytest

from sparkifydb_datawarehouse_spark import registry
from tools.validate import compare, duck_connection

from conftest import SF_SMOKE

registry.load_all_modules()

ORACLE_QUERY_IDS = sorted(registry.ORACLE)


@pytest.mark.parametrize("query_id", ORACLE_QUERY_IDS)
def test_oracle_parity(spark, query_id):
    spark_df = registry.QUERIES[query_id](spark, SF_SMOKE).toPandas()
    with duck_connection(SF_SMOKE) as con:
        duck_df = con.sql(registry.ORACLE[query_id]).df()
    problems = compare(query_id, spark_df, duck_df)
    assert not problems, f"{query_id}: " + "; ".join(problems)
