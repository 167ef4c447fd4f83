"""Bucket-key semantics — mirrors TestTimestampPartitioning.java:110-221:
same hour ⇒ same key, +3600s ⇒ next key, unit conversions sec/milli/micro/nano,
timestamp vs long equivalence, bad-type errors, salt bounds + distribution."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from embulk_executor_mapreduce_spark.errors import PartitionError
from embulk_executor_mapreduce_spark.operators.partitioning import (
    bucket_expr,
    salt_expr,
)
from embulk_executor_mapreduce_spark.plans.compiler import BUCKET_COL, _apply_stages
from embulk_executor_mapreduce_spark.spec import load_spec

T0 = dt.datetime(2024, 1, 15, 10, 0, 0)
EPOCH0 = int(T0.replace(tzinfo=dt.timezone.utc).timestamp())


def _ts_df(spark, *dts):
    return spark.createDataFrame([Row(ts=d) for d in dts])


def _staged(df, reducers, split=1, keep_bucket=False):
    """``df`` through the loader's own stage pipeline (the exchange
    ``run_pipeline`` runs), partitioned on ``ts`` by hour."""
    spec = load_spec(
        {
            "in": {"type": "parquet", "path": "unused"},
            "out": {
                "type": "parquet",
                "path": "unused",
                "partition_by_bucket": keep_bucket,
            },
            "exec": {
                "reducers": reducers,
                "partitioning": {
                    "column": "ts",
                    "unit": "hour",
                    "map_side_partition_split": split,
                },
            },
        }
    )
    return _apply_stages(df, spec)


def _buckets(df, col="ts", **kw):
    out = df.select(bucket_expr(df, col, **kw).alias("b")).collect()
    return [r.b for r in out]


def test_same_hour_same_key(spark):
    b = _buckets(
        _ts_df(spark, T0, T0 + dt.timedelta(minutes=59, seconds=59)), unit="hour"
    )
    assert b[0] == b[1]


def test_next_hour_next_key(spark):
    b = _buckets(_ts_df(spark, T0, T0 + dt.timedelta(seconds=3600)), unit="hour")
    assert b[1] == b[0] + 1


def test_day_unit(spark):
    b = _buckets(
        _ts_df(spark, T0, T0 + dt.timedelta(hours=13), T0 + dt.timedelta(hours=14)),
        unit="day",
    )
    assert b[0] == b[1]  # 10:00 and 23:00 same UTC day
    assert b[2] == b[0] + 1  # 24:00 next day


@pytest.mark.parametrize(
    "unit,factor",
    [("sec", 1), ("milli", 10**3), ("micro", 10**6), ("nano", 10**9)],
)
def test_long_units_equivalent_to_timestamp(spark, unit, factor):
    ts_bucket = _buckets(_ts_df(spark, T0), unit="hour")[0]
    df = spark.createDataFrame([Row(t=EPOCH0 * factor)])
    long_bucket = _buckets(df, col="t", unit="hour", unix_timestamp_unit=unit)[0]
    assert long_bucket == ts_bucket


def test_negative_epoch_floors_down(spark):
    # 1969-12-31 23:00:00 UTC = -3600s → hour bucket -1, not 0 (floor semantics)
    df = spark.createDataFrame([Row(t=-3600), Row(t=-1)])
    b = _buckets(df, col="t", unit="hour", unix_timestamp_unit="sec")
    assert b == [-1, -1]


def test_bad_column(spark):
    df = _ts_df(spark, T0)
    with pytest.raises(PartitionError, match="not found"):
        bucket_expr(df, "nope", "hour")


def test_bad_column_type(spark):
    df = spark.createDataFrame([Row(s="hello")])
    with pytest.raises(PartitionError, match="timestamp or long"):
        bucket_expr(df, "s", "hour")


def test_bad_unit_expr(spark):
    df = _ts_df(spark, T0)
    with pytest.raises(PartitionError):
        bucket_expr(df, "ts", "week")


def test_salt_bounds():
    with pytest.raises(PartitionError):
        salt_expr(0)
    with pytest.raises(PartitionError):
        salt_expr(65536)


def test_salt_spreads_hot_bucket(spark):
    # one hot hour; with split=8 the rows must land in >1 partition
    rows = [Row(ts=T0 + dt.timedelta(seconds=i % 3000)) for i in range(4000)]
    df = spark.createDataFrame(rows)
    parts = (
        _staged(df, reducers=8, split=8)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    assert len(parts) > 1, "salting failed to spread the hot bucket"


def test_bucket_routing_invariant(spark):
    # all rows of one bucket land in exactly one partition when unsalted
    # (reference O5-O10 invariant: same time bucket → same output task)
    rows = [Row(ts=T0 + dt.timedelta(hours=h, minutes=m)) for h in range(6) for m in range(30)]
    df = spark.createDataFrame(rows)
    got = (
        _staged(df, reducers=4, keep_bucket=True)
        .withColumn("pid", F.spark_partition_id())
        .groupBy(BUCKET_COL)
        .agg(F.countDistinct("pid").alias("n_pids"))
        .collect()
    )
    assert all(r.n_pids == 1 for r in got)


def test_z_interleave_bit_roundtrip(spark):
    """Morton key must be invertible: extracting even/odd bits recovers the
    two inputs exactly for the full bits-wide domain (sampled grid)."""
    from pyspark.sql import functions as F

    from embulk_executor_mapreduce_spark.operators.partitioning import z_interleave

    vals = [0, 1, 2, 3, 255, 256, 511, 512, 1023]
    df = spark.createDataFrame(
        [(a, b) for a in vals for b in vals], "a long, b long"
    )
    rows = df.select(
        "a", "b", z_interleave(F.col("a"), F.col("b"), 10).alias("z")
    ).collect()
    for r in rows:
        a = b = 0
        for i in range(10):
            a |= ((r.z >> (2 * i)) & 1) << i
            b |= ((r.z >> (2 * i + 1)) & 1) << i
        assert (a, b) == (r.a, r.b)


def test_timestamp_ntz_buckets_like_timestamp(spark):
    """TIMESTAMP_NTZ partitions identically to TIMESTAMP under the pinned UTC
    session timezone — plain parquet `timestamp[ms]` (pandas-written files,
    e.g. the testdata's orders.o_orderdate) loads as NTZ, and a partitioned
    load over it must work, not raise (found by an end-to-end bucket probe).
    """
    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(T0,), (T0 + dt.timedelta(seconds=3600),)],
        T.StructType([T.StructField("ts", T.TimestampNTZType())]),
    )
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    b = _buckets(df, unit="hour")
    assert b == [EPOCH0 // 3600, EPOCH0 // 3600 + 1]


def test_z_interleave_matches_independent_reference(spark):
    """Morton key vs an independent bit-by-bit interleave on random
    coordinates — the storage-clustering key must place a's bits in even
    positions and b's in odd ones exactly."""
    import random

    from pyspark.sql import functions as F

    from embulk_executor_mapreduce_spark.operators.partitioning import (
        z_interleave,
    )

    def ref_morton(a, b, bits):
        v = 0
        for i in range(bits):
            v |= ((a >> i) & 1) << (2 * i)
            v |= ((b >> i) & 1) << (2 * i + 1)
        return v

    rng = random.Random(31)
    rows = [(i, rng.randrange(1 << 10), rng.randrange(1 << 10)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    got = {
        r.id: r.z
        for r in df.select(
            "id", z_interleave(F.col("a"), F.col("b"), bits=10).alias("z")
        ).collect()
    }
    for i, a, b in rows:
        assert got[i] == ref_morton(a, b, 10), (i, a, b)


def test_load_normalizes_nanos_timestamps_on_any_table(spark, tmp_path):
    """r10 canary finding: the nanos normalization in catalog.load was
    hardcoded to events.ts, so a TIMESTAMP(NANOS)-encoded o_orderdate
    would leak through as bigint and break year()/date comparisons in 5
    queries. load() now probes the parquet FOOTER per table: every
    nanos-encoded timestamp column on every table normalizes to
    TimestampType with exact integer division, and the micros encodings
    are untouched (no-op probe)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from embulk_executor_mapreduce_spark.catalog import load

    base = dt.datetime(2024, 3, 1, 12, 30, 45, 123456)
    rows = pa.table(
        {
            "o_orderkey": pa.array([1, 2], pa.int64()),
            "o_orderdate": pa.array([base, base + dt.timedelta(hours=1)]).cast(
                pa.timestamp("ns")
            ),
            "note": pa.array(["a", "b"]),
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(rows, str(sf / "orders.parquet"), version="2.6")
    df = load(spark, str(sf), "orders")
    assert dict(df.dtypes)["o_orderdate"] == "timestamp"
    got = sorted(r.o_orderdate for r in df.collect())
    assert got == [base, base + dt.timedelta(hours=1)]  # micros preserved
    # a genuine bigint column must never be touched by the probe
    assert dict(df.dtypes)["o_orderkey"] == "bigint"


def test_load_nanos_probe_ignores_duration_columns(spark, tmp_path):
    """r10 second-review finding: duration('ns') (and time64('ns')) also
    report unit 'ns' from the footer and store as INT64 → bigint in Spark;
    a unit-only probe would rewrite an elapsed-time column into a bogus
    wall-clock timestamp. The probe must require an actual timestamp type."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from embulk_executor_mapreduce_spark.catalog import load

    rows = pa.table(
        {
            "k": pa.array([1, 2], pa.int64()),
            "elapsed": pa.array(
                [dt.timedelta(seconds=5), dt.timedelta(seconds=9)],
                pa.duration("ns"),
            ),
            "ts": pa.array(
                [dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)]
            ).cast(pa.timestamp("ns")),
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(rows, str(sf / "events.parquet"), version="2.6")
    df = load(spark, str(sf), "events")
    dtypes = dict(df.dtypes)
    assert dtypes["ts"] == "timestamp"  # real nanos ts still normalizes
    assert dtypes["elapsed"] in ("bigint", "interval day to second"), dtypes
    got = sorted(r.elapsed for r in df.select("elapsed").collect())
    # whatever Spark surfaces duration as, the VALUES are elapsed time,
    # not 1970-adjacent wall clocks
    assert all(not hasattr(v, "year") for v in got)


def test_load_nanos_normalization_exact_for_pre_epoch(spark, tmp_path):
    """ADVICE r10: `x div 1000` truncates toward zero, so a PRE-EPOCH
    (negative) nanos value with a sub-microsecond remainder would map one
    µs late; the floor-division form `(x - pmod(x, 1000)) div 1000` must
    floor exactly for both signs — pinned against Python's true floor on
    values straddling the epoch with every remainder class."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from embulk_executor_mapreduce_spark.catalog import load

    nanos = [
        -1_500_000_123_457,  # pre-epoch, non-zero sub-µs remainder
        -999,  # just below epoch, pure remainder
        -1_000,
        0,
        999,
        1_500_000_123_457,
    ]
    rows = pa.table(
        {
            "k": pa.array(range(len(nanos)), pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(rows, str(sf / "events.parquet"), version="2.6")
    df = load(spark, str(sf), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    epoch = dt.datetime(1970, 1, 1)
    got = {r.k: r.ts for r in df.collect()}
    want = {
        k: epoch + dt.timedelta(microseconds=n // 1000)  # Python // floors
        for k, n in zip(range(len(nanos)), nanos)
    }
    assert got == want
