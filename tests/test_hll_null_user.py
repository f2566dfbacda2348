"""sketch_hll_distinct against its DuckDB oracle when an event has a
null user_id: the exact leg must skip it like COUNT(DISTINCT user_id),
while the register leg keeps it as a NULL-idx register."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from connect_spark.catalog import TABLES, table_path
from connect_spark.queries.analytics import HLL_SQL, sketch_hll_distinct
from tests.oracle import compare, run_oracle


def test_hll_distinct_null_user_id_matches_oracle(spark, sf_dir, tmp_path):
    for t in TABLES:
        if t != "events":
            os.symlink(table_path(sf_dir, t), table_path(str(tmp_path), t))
    events = pq.read_table(table_path(sf_dir, "events"))
    extra = events.slice(0, 1)
    i = extra.schema.get_field_index("user_id")
    extra = extra.set_column(
        i, extra.field(i), pa.nulls(1, extra.field(i).type)
    )
    pq.write_table(
        pa.concat_tables([events, extra]), table_path(str(tmp_path), "events")
    )

    cols, rows = run_oracle(HLL_SQL, str(tmp_path))
    problems = compare(sketch_hll_distinct(spark, str(tmp_path)), cols, rows)
    assert not problems, "\n".join(problems)
