"""Timestamp bucketing + skew salting — the reference's one partitioning strategy.

Semantics being matched (SURVEY.md §2.2 O5–O7; reference
``TimestampPartitioning.java``):

- ``unit: hour`` → bucket = ``floor(epoch_seconds / 3600)``; ``unit: day`` →
  ``floor(epoch_seconds / 86400)``. UTC only (the reference raises a
  ConfigException for any other timezone, ``TimestampPartitioning.java:128-136``).
- The partition column may be a ``timestamp`` (epoch seconds taken directly,
  ``TimestampPartitioning.java:293-307``) or a ``long`` carrying a unix time in
  ``sec | milli | micro | nano`` (divided down to seconds first,
  ``TimestampPartitioning.java:88-120,309-329``). The division is EXACT
  integer arithmetic (pmod-subtract, no double round-trip) — a nano-unit long
  exceeds 2^53, where ``floor(col / lit)``'s double division can misplace rows
  within a few hundred ns of a bucket boundary.
  DELIBERATE DIVERGENCE from the reference: Java's plain ``/`` truncates
  toward zero, so the reference buckets pre-1970 timestamps upward; we floor
  toward -inf so a pre-epoch timestamp still lands in its own wall-clock
  hour/day. Post-1970 the two are identical.
- ``map_side_partition_split: N`` (1..65535) appends a salt so one hot bucket
  spreads over up to N reduce tasks
  (``TimestampPartitioning.java:42-46,273-289``). Spark-first: the salt is a
  uniform hash of ROW CONTENT — deterministic under task re-execution. A
  nondeterministic source (partition-position counters,
  monotonically_increasing_id) can assign different salts on a retried map
  task, and reducers fetching from mixed attempts would silently drop or
  duplicate rows (the SPARK-23207 class of bug Spark only guards for
  round-robin repartition).

Everything here returns Catalyst ``Column`` expressions — no UDFs — so bucket
computation stays JVM-side and whole-stage-codegen'd, and repartitioning on the
bucket column is a plain hash exchange Catalyst can reason about.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import PartitionError

UNIT_SECONDS = {"hour": 3600, "day": 86400}

# unix_timestamp_unit → divisor to get seconds (TimestampPartitioning.java:88-120)
UNIX_UNIT_DIVISOR = {
    "sec": 1,
    "second": 1,
    "seconds": 1,
    "milli": 1_000,
    "millisecond": 1_000,
    "milliseconds": 1_000,
    "micro": 1_000_000,
    "microsecond": 1_000_000,
    "microseconds": 1_000_000,
    "nano": 1_000_000_000,
    "nanosecond": 1_000_000_000,
    "nanoseconds": 1_000_000_000,
}

MAX_SPLIT = 65535  # TimestampPartitioning.java:42-46 caps map_side_partition_split


def _floor_div(col: Column, divisor: int) -> Column:
    """Exact floor division on longs (negative-safe, toward -inf).

    ``col - pmod(col, d)`` is an exact multiple of ``d`` in long arithmetic;
    the decimal(38,0) division of an exact multiple has no fractional part, so
    no rounding occurs anywhere — exact for the full long range (a plain
    ``floor(col / lit)`` routes through double division, inexact above 2^53,
    which nano-unit timestamps exceed)."""
    if divisor == 1:
        return col
    exact_multiple = (col - F.pmod(col, F.lit(divisor))).cast("decimal(38,0)")
    return (exact_multiple / F.lit(divisor)).cast(T.LongType())


def bucket_expr(
    df: DataFrame,
    column: str,
    unit: str = "hour",
    unix_timestamp_unit: str = "sec",
) -> Column:
    """Bucket expression: time bucket index (hours- or days-since-epoch) as LONG.

    Validates like the reference's config-time checks
    (``TimestampPartitioning.java:122-150``): unknown column, bad unit, bad
    unix unit, and unsupported column type all raise :class:`PartitionError`
    at plan time.
    """
    if unit not in UNIT_SECONDS:
        raise PartitionError(
            f"unknown partitioning unit {unit!r}: expected one of {sorted(UNIT_SECONDS)}"
        )
    fields = {f.name: f.dataType for f in df.schema.fields}
    if column not in fields:
        raise PartitionError(f"partitioning column {column!r} not found in schema")
    dtype = fields[column]

    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        # epoch seconds of a timestamp; unix_timestamp() floors to seconds.
        # TIMESTAMP_NTZ (what plain parquet `timestamp[ms]` loads as under
        # inferTimestampNTZ / pandas-written files) is interpreted in the
        # session timezone — pinned to UTC by session.get_spark, so the
        # bucket index is reproducible across runs.
        seconds = F.unix_timestamp(F.col(column).cast(T.TimestampType()))
    elif isinstance(dtype, (T.LongType, T.IntegerType)):
        if unix_timestamp_unit not in UNIX_UNIT_DIVISOR:
            raise PartitionError(
                f"unknown unix_timestamp_unit {unix_timestamp_unit!r}: "
                f"expected sec|milli|micro|nano"
            )
        seconds = _floor_div(
            F.col(column).cast(T.LongType()), UNIX_UNIT_DIVISOR[unix_timestamp_unit]
        )
    else:
        raise PartitionError(
            f"partitioning column {column!r} must be timestamp or long, got {dtype.simpleString()}"
        )
    return _floor_div(seconds, UNIT_SECONDS[unit]).alias(f"__bucket_{unit}")


def salt_expr(split: int, cols: list[str | Column] | None = None) -> Column:
    """Uniform salt in ``[0, split)`` for hot-bucket spreading, derived from
    ROW CONTENT (xxhash64 over ``cols``) so it is stable across task
    re-execution — a retried map task assigns every row the same salt as the
    first attempt, so no reducer can double-fetch or miss rows when attempts
    mix (monotonically_increasing_id/round-robin counters are NOT stable and
    reintroduce the SPARK-23207 correctness hole under retry).

    The reference uses a per-mapper round-robin counter mod ``split``
    (``TimestampPartitioning.java:273-289``); a content hash has the same
    load-balancing property for distinct rows, no cross-row state, and
    stays codegen'd. ``cols=None`` hashes all columns of the attached frame
    at resolution time via ``F.struct('*')``.

    Caveat: fully IDENTICAL rows all hash to the same salt, so a hot bucket
    dominated by exact duplicates will not spread (the reference's counter
    would). That trade is deliberate — retry determinism over spreading
    duplicate payloads; if a workload is duplicate-heavy, dedup upstream
    (operators/dedup.py) or pass ``cols`` including a source-position column
    when the source provides one.
    """
    if not (1 <= split <= MAX_SPLIT):
        raise PartitionError(
            f"map_side_partition_split must be in [1, {MAX_SPLIT}], got {split}"
        )
    if split == 1:
        return F.lit(0)
    hashed = F.xxhash64(*cols) if cols else F.xxhash64(F.struct("*"))
    return F.pmod(hashed, F.lit(split)).cast(T.IntegerType())


def spread_narrow(df: DataFrame, key_col: str) -> DataFrame:
    """Spread a narrower-than-cluster scan across all cores before CPU-heavy
    per-row work (hashing fan-outs, Arrow-batched Python decode).

    A single small parquet file (one row group) scans as ONE partition, so
    everything downstream runs on one core / one Python worker while the
    rest of the cluster idles. The spread key is ``xxhash64(key_col)`` —
    deterministic under task re-execution (content-derived, no round-robin),
    and a DIFFERENT expression from any downstream ``groupBy(key_col)``
    hash-partitioning, so aggregation exchanges above it survive and remain
    reusable across self-join sides (see ``dedup.minhash_candidates``: the
    id-keyed spread elided that exchange and measured 6× slower).

    No-op when the input already has at least cluster-parallelism partitions
    — the 100 TB case, where scans arrive thousands of splits wide and an
    extra full-payload shuffle would be pure cost.

    The width probe is ``df.inputFiles()`` — metadata-only, no RDD
    conversion (``df.rdd.getNumPartitions()`` forces a full plan-to-RDD
    translation on every compile; measured cost on the minhash/IVF/PQ hot
    paths). File count under-counts multi-split files, which only errs
    toward spreading an already-parallel scan — and at 100 TB the file
    count alone is thousands, making this a guaranteed no-op. Non-file
    frames (in-memory tests, post-shuffle inputs) fall back to the RDD
    probe.
    """
    n_par = df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = len(df.inputFiles())
    except Exception:  # noqa: BLE001 — planning-time probe only
        cur = 0
    if cur == 0:
        try:
            cur = df.rdd.getNumPartitions()
        except Exception:  # noqa: BLE001
            cur = n_par
    if cur >= n_par:
        return df
    return df.repartition(n_par, F.xxhash64(F.col(key_col)))


def z_interleave(a: Column, b: Column, bits: int = 10) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` bits of two
    non-negative ints — rows close in BOTH dimensions get close z-values, so
    range-partitioning + within-partition sorting on the key clusters
    multi-column locality into the same files/row groups (the lakehouse
    Z-ORDER layout). Pure long bit arithmetic in codegen — portable to any
    engine with shifts (same formula is the DuckDB oracle).
    """
    terms = []
    one = F.lit(1).cast("long")
    for i in range(bits):
        bit_a = F.shiftright(a.cast("long"), i).bitwiseAND(one)
        bit_b = F.shiftright(b.cast("long"), i).bitwiseAND(one)
        terms.append(F.shiftleft(bit_a, 2 * i))
        terms.append(F.shiftleft(bit_b, 2 * i + 1))
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def z_interleave_sql(a: str, b: str, bits: int = 10) -> str:
    """The identical Morton-key formula as ANSI SQL (the DuckDB oracle side)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)
