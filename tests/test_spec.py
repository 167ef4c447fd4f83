"""Config validation matrix — mirrors the reference's ConfigException tests
(TestTimestampPartitioning.java:40-108, TestMapReduceExecutor.java:112-175)."""

from __future__ import annotations

import pytest

from embulk_executor_mapreduce_spark.errors import ConfigError, PartitionError
from embulk_executor_mapreduce_spark.spec import load_spec

BASE = {"in": {"type": "parquet", "path": "/tmp/x"}, "out": {"type": "null"}}


def _with(part=None, **exec_kw):
    doc = {**BASE, "exec": dict(exec_kw)}
    if part is not None:
        doc["exec"]["partitioning"] = part
    return doc


def test_valid_minimal():
    spec = load_spec(BASE)
    assert spec.source.type == "parquet"


def test_missing_in_block():
    with pytest.raises(ConfigError):
        load_spec({"out": {"type": "null"}})


def test_unknown_source_type():
    with pytest.raises(ConfigError):
        load_spec({"in": {"type": "mystery", "path": "x"}})


def test_csv_requires_schema():
    with pytest.raises(ConfigError, match="columns"):
        load_spec({"in": {"type": "csv", "path": "x"}})


def test_unknown_filter_type():
    with pytest.raises(ConfigError):
        load_spec({**BASE, "filters": [{"type": "transmogrify"}]})


def test_unknown_partitioning_type():
    # the error names the known strategies (the reference throws
    # ConfigException when the Partitioning class for the name can't load)
    with pytest.raises(PartitionError, match="known strategies.*timestamp"):
        load_spec(_with({"type": "range", "column": "ts"}))


def test_missing_partition_column():
    with pytest.raises(PartitionError):
        load_spec(_with({"type": "timestamp", "unit": "hour"}))


def test_bad_unit():
    with pytest.raises(PartitionError):
        load_spec(_with({"column": "ts", "unit": "fortnight"}))


def test_bad_unix_unit():
    with pytest.raises(PartitionError):
        load_spec(_with({"column": "ts", "unit": "hour", "unix_timestamp_unit": "dog_year"}))


@pytest.mark.parametrize("split", [0, -1, 65536])
def test_bad_split(split):
    with pytest.raises(PartitionError):
        load_spec(_with({"column": "ts", "unit": "hour", "map_side_partition_split": split}))


@pytest.mark.parametrize("reducers", [0, -1])
def test_bad_reducers(reducers):
    with pytest.raises(ConfigError):
        load_spec(_with(reducers=reducers))


def test_unknown_column_type():
    with pytest.raises(ConfigError):
        load_spec(
            {
                "in": {
                    "type": "csv",
                    "path": "x",
                    "columns": [{"name": "a", "type": "quaternion"}],
                },
                "out": {"type": "null"},
            }
        )


def test_partition_by_bucket_requires_partitioning():
    with pytest.raises(ConfigError):
        load_spec(
            {
                "in": {"type": "parquet", "path": "x"},
                "out": {"type": "parquet", "path": "/tmp/y", "partition_by_bucket": True},
            }
        )


def test_join_filter_requires_source_and_on():
    import pytest

    from embulk_executor_mapreduce_spark.errors import ConfigError
    from embulk_executor_mapreduce_spark.operators.filters import apply_filter
    from embulk_executor_mapreduce_spark.spec import FilterSpec

    with pytest.raises(ConfigError, match="source"):
        apply_filter(None, FilterSpec(type="join", config={}))


def test_sql_filter_must_reference_input():
    import pytest

    from embulk_executor_mapreduce_spark.errors import ConfigError
    from embulk_executor_mapreduce_spark.operators.filters import apply_filter
    from embulk_executor_mapreduce_spark.spec import FilterSpec

    with pytest.raises(ConfigError, match="__input"):
        apply_filter(None, FilterSpec(type="sql", config={"query": "SELECT 1"}))


def test_bad_sort_spec_rejected():
    import pytest

    from embulk_executor_mapreduce_spark.errors import ConfigError
    from embulk_executor_mapreduce_spark.operators.filters import _sort_col

    with pytest.raises(ConfigError):
        _sort_col("col sideways")


def test_relational_stage_pipeline(spark):
    """join + aggregate + dedup + sort + limit end-to-end through the spec."""
    from embulk_executor_mapreduce_spark.plans.compiler import compile_pipeline
    from embulk_executor_mapreduce_spark.spec import load_spec

    sf = "/root/testdata/sf0.001"
    df = compile_pipeline(
        spark,
        load_spec(
            {
                "in": {"type": "parquet", "path": f"{sf}/orders.parquet"},
                "filters": [
                    {
                        "type": "join",
                        "source": {"type": "parquet", "path": f"{sf}/customer.parquet"},
                        "condition": "o_custkey = c_custkey",
                    },
                    {"type": "dedup", "columns": ["o_custkey"], "order_by": ["o_totalprice desc"]},
                    {
                        "type": "aggregate",
                        "group_by": ["c_mktsegment"],
                        "aggs": {"n": "count(*)", "top": "max(o_totalprice)"},
                    },
                    {"type": "sort", "by": ["n desc", "c_mktsegment"]},
                    {"type": "limit", "n": 3},
                ],
                "out": {"type": "null"},
            }
        ),
    )
    rows = df.collect()
    assert 0 < len(rows) <= 3
    assert rows[0].n >= rows[-1].n
