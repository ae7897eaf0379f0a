"""Empty-input totality: at 100 TB, empty shards/partitions/filtered
subsets are routine — no catalog entry may crash on zero-row tables
(div-by-zero, collect()[0] on empty, NULL aggregates). The full catalog
passed this sweep when it was added; this pins it."""

from __future__ import annotations

import pytest
from _cross_engine import BUILD_EXECUTES

from amazon_macie_activity_generator_spark.queries import QUERIES

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def empty_sf_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.001"
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        schema = pq.read_schema(f"{src}/{t}.parquet")
        pq.write_table(
            pa.table({f.name: pa.array([], type=f.type) for f in schema}),
            str(d / f"{t}.parquet"),
        )
    return str(d)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - BUILD_EXECUTES))
def test_entry_total_on_empty_input(name, spark, empty_sf_dir):
    fn, _sql = QUERIES[name]
    n = fn(spark, empty_sf_dir).count()
    assert n >= 0
    spark.catalog.clearCache()
