"""Runtime key-set prefilters: bloom-style bitmap tables for exact anti-joins.

The incremental-ingestion hot path ("which of these delta rows are NOT
already in the landed corpus?") is an anti-join of a small delta against a
huge state. The bucket-pruned merge state (sinks/writer.py) already bounds
that join to the touched buckets; this module adds the complementary
runtime-filter layer for the case where the delta's keys mostly DON'T exist
in state: a compact bloom bitmap over the state's key set, probed map-side,
so rows that provably cannot match never enter the exchange at all. Spark's
own runtime row-level filtering (`spark.sql.optimizer.runtime.bloomFilter.*`)
applies the same idea inside one query; this is the cross-job/persistable
variant — the bitmap is itself a DataFrame, so it can be written next to the
state and reused by every later increment.

Exactness contract: a bloom filter has false POSITIVES only. Probe-positive
rows are re-verified with a real anti-join against state (so false positives
cost only wasted work, never a wrong row); probe-negative rows are provably
absent from state (no false negatives), so they skip the join entirely. The
composed result is bit-equal to a plain anti-join — which is exactly what
the DuckDB oracle checks (`catalog.py::q_bloom_prefilter_dedup`).

Spark-first representation — the bitmap is a TABLE, not a driver object:
``(w: long, bits: long)`` rows, one per 64-bit word that has at least one
bit set. Building it is one map-side-combinable ``groupBy(w).agg(bit_or)``;
probing is an equi-join on ``w``. Catalyst then picks the physical strategy
by size: a few MB of bitmap broadcasts (map-only probe — the default, and
the common case: ~2 bytes/key at 1% fpp means 10^9 state keys fit in ~2 GB,
10^8 in ~200 MB), while a bitmap too large to broadcast still works as a
shuffle join — unlike ``DataFrame.stat.bloomFilter``, which materializes the
whole filter on the driver and dies exactly when the state gets interesting.
No driver collect anywhere in this module.

100 TB shape: build cost is one linear pass over state keys (do it once,
persist the bitmap beside the state, rebuild per compaction); per-increment
cost is a narrow scan of the delta + ``num_hashes`` broadcast probes + one
anti-join whose left side is only the probe-positive sliver. At a 1% fpp
and a 99%-new delta, the exchange carries ~2% of the delta instead of 100%.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: 16 bits/key with 2 hash functions ≈ 1.5% false-positive rate
#: (k=2, m=16n → (2n/m)^2 = (1/8)^2); fpp only affects wasted verify work,
#: never correctness.
DEFAULT_BITS_PER_KEY = 16
DEFAULT_NUM_HASHES = 2

_MAYBE = "__rf_maybe"


def suggest_m_bits(n_keys: int, bits_per_key: int = DEFAULT_BITS_PER_KEY) -> int:
    """Next power of two ≥ n_keys * bits_per_key (min 1024). At 100 TB take
    ``n_keys`` from table/manifest statistics, not a count job."""
    target = max(1024, int(n_keys) * bits_per_key)
    m = 1024
    while m < target:
        m *= 2
    return m


def _positions(df: DataFrame, key_cols: list[str], m_bits: int, j: int):
    """Bit position for hash function j: xxhash64 seeded by a trailing
    literal (independent 64-bit mixes per j), folded into [0, m_bits)."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols], F.lit(j)), F.lit(m_bits))


def keyset_bitmap(
    state_keys: DataFrame,
    key_cols: list[str],
    m_bits: int,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """Bloom bitmap over the state's key set as a ``(w, bits)`` table.

    One row per 64-bit word with ≥1 set bit, so an m-bit filter over n keys
    is at most ``min(m/64, n*num_hashes)`` rows. The aggregate is
    ``groupBy(w).agg(bit_or)`` — map-side combinable, one exchange over at
    most m/64 distinct words regardless of state size.
    """
    frames = [
        state_keys.select(_positions(state_keys, key_cols, m_bits, j).alias("pos"))
        for j in range(num_hashes)
    ]
    allpos = reduce(lambda a, b: a.unionAll(b), frames)
    return (
        allpos.select(
            F.expr("pos div 64").alias("w"),
            F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))").alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("bits"))
    )


def probe_bitmap(
    incoming: DataFrame,
    bitmap: DataFrame,
    key_cols: list[str],
    m_bits: int,
    num_hashes: int = DEFAULT_NUM_HASHES,
    broadcast: bool = True,
) -> DataFrame:
    """Append a boolean ``__rf_maybe`` column: True iff EVERY hash position
    of the row's key is set in the bitmap (i.e. the key MIGHT be in state;
    False means provably absent). ``broadcast=True`` (default) hints the
    bitmap side; pass False to let Catalyst/AQE choose for a bitmap that
    outgrew the broadcast threshold — the probe stays correct either way."""
    out = incoming
    for j in range(num_hashes):
        bm = bitmap.withColumnRenamed("w", f"__rf_w{j}").withColumnRenamed(
            "bits", f"__rf_bits{j}"
        )
        if broadcast:
            bm = F.broadcast(bm)
        out = out.withColumn(
            f"__rf_pos{j}", _positions(incoming, key_cols, m_bits, j)
        ).withColumn(f"__rf_w{j}_probe", F.expr(f"__rf_pos{j} div 64"))
        out = out.join(
            bm, on=F.col(f"__rf_w{j}_probe") == F.col(f"__rf_w{j}"), how="left"
        )
        hit = (
            F.coalesce(F.col(f"__rf_bits{j}"), F.lit(0))
            .bitwiseAND(
                F.expr(f"shiftleft(1L, cast(pmod(__rf_pos{j}, 64) as int))")
            )
            != 0
        )
        out = out.withColumn(f"__rf_hit{j}", hit).drop(
            f"__rf_pos{j}", f"__rf_w{j}_probe", f"__rf_w{j}", f"__rf_bits{j}"
        )
    maybe = reduce(
        lambda a, b: a & b, [F.col(f"__rf_hit{j}") for j in range(num_hashes)]
    )
    return out.withColumn(_MAYBE, maybe).drop(
        *[f"__rf_hit{j}" for j in range(num_hashes)]
    )


def _check_key_types(incoming: DataFrame, state: DataFrame, key_cols: list[str]):
    """xxhash64 hashes by PHYSICAL type: CAST(5 AS INT) and CAST(5 AS
    BIGINT) hash differently, while the verify anti-join would COERCE the
    comparison and match them — so a dtype mismatch between delta and
    state turns true duplicates into probe-negatives (false negatives =
    silently re-admitted rows), breaking the bit-equal contract. Refuse
    loudly instead of guessing a coercion: the caller casts one side
    (the spec's `cast` filter stage is the declarative fix)."""
    from ..errors import ConfigError

    inc_types = dict(incoming.dtypes)
    st_types = dict(state.dtypes)
    for c in key_cols:
        if inc_types.get(c) != st_types.get(c):
            raise ConfigError(
                f"anti-state key {c!r} has type {inc_types.get(c)} in the "
                f"incoming data but {st_types.get(c)} in the state — the "
                "bloom probe hashes by exact type, so a mismatch would "
                "silently re-admit duplicates; cast one side first (e.g. "
                "the `cast` filter stage)"
            )


def new_keys_via_bitmap(
    incoming: DataFrame,
    state: DataFrame,
    key_cols: list[str],
    m_bits: int,
    num_hashes: int = DEFAULT_NUM_HASHES,
    broadcast: bool = True,
) -> DataFrame:
    """EXACT anti-join: incoming rows whose key is absent from ``state``,
    with the state-side join bounded to bitmap-positive candidates.

    Two branches over the incoming scan (filters push down to the source on
    both, and in the incremental pattern the delta is the cheap side):

    - probe-negative rows are provably new — returned via a map-only branch
      that never touches state;
    - probe-positive rows (true hits + ~fpp false positives) anti-join
      against the distinct state keys; survivors are the verified-new rest.

    The union is bit-equal to ``incoming.join(state, keys, "left_anti")``.
    Key columns must have IDENTICAL types on both sides (checked loudly —
    see :func:`_check_key_types`).
    """
    _check_key_types(incoming, state, key_cols)
    # built once, probed num_hashes× by each of the two branches: persist so
    # the state scan happens one time (the persisted footprint is the bitmap
    # itself — ≤ m/64 rows — not the state). No explicit unpersist: the
    # returned frame is lazy, so there is no post-action hook here; once the
    # caller drops the result, Spark's ContextCleaner unpersists the
    # unreachable cached plan (same lifecycle as operators/dedup.py's
    # persisted frontier frames). The standing-state pattern at 100 TB
    # persists the bitmap to storage instead (:func:`write_state_bitmap`) —
    # that path never creates an executor-cache entry per increment.
    bitmap = keyset_bitmap(state, key_cols, m_bits, num_hashes).persist()
    return new_keys_with_bitmap(
        incoming, state, key_cols, bitmap, m_bits, num_hashes, broadcast=broadcast
    )


def new_keys_with_bitmap(
    incoming: DataFrame,
    state: DataFrame,
    key_cols: list[str],
    bitmap: DataFrame,
    m_bits: int,
    num_hashes: int = DEFAULT_NUM_HASHES,
    broadcast: bool = True,
) -> DataFrame:
    """:func:`new_keys_via_bitmap` with a PREBUILT bitmap (typically the
    persisted one from :func:`read_state_bitmap`) — the steady-state
    increment never scans the state to build the filter, only the
    probe-positive sliver touches it in the verify join. The bitmap MUST
    cover the state's current key set (a stale bitmap has false negatives
    = silently dropped new rows); ``read_state_bitmap`` enforces that by
    pinning the bitmap to the state's commit version."""
    _check_key_types(incoming, state, key_cols)
    probed = probe_bitmap(
        incoming, bitmap, key_cols, m_bits, num_hashes, broadcast=broadcast
    )
    definite_new = probed.filter(~F.col(_MAYBE)).drop(_MAYBE)
    candidates = probed.filter(F.col(_MAYBE)).drop(_MAYBE)
    verified_new = candidates.join(
        state.select(*key_cols).distinct(), on=key_cols, how="left_anti"
    )
    return definite_new.unionByName(verified_new)


# --------------------------------------------------------------------------
# Persisted bitmap beside a merge-sink state (the standing-state pattern)
# --------------------------------------------------------------------------
#
# Layout: <state>/_bitmaps/v<N>/  — parquet (w, bits) + _meta.json
# ({version, m_bits, num_hashes, bits_per_key, key_cols, n_keys}). The
# directory name and
# the meta pin the bitmap to the state's pointer version N: a later merge
# commit flips the pointer, the bitmap goes stale, and read_state_bitmap
# returns None (a stale bitmap would have false NEGATIVES for keys the new
# commit inserted — correctness, not tuning). Underscore-prefixed, so state
# scans never see it; same staging→rename commit + staleness-window orphan
# sweep as the sink's changelog (sinks/changes.py).

_BITMAP_DIR = "_bitmaps"
_BITMAP_META = "_meta.json"
_BITMAP_STAGING_PREFIX = ".staging-"
_BITMAP_STALE_SEC = 3600.0


def _bitmap_root(state_path: str) -> str:
    import os

    from ..sinks.writer import _local

    return os.path.join(_local(state_path), _BITMAP_DIR)


def write_state_bitmap(
    spark,
    state_path: str,
    key_cols: list[str],
    bits_per_key: int = DEFAULT_BITS_PER_KEY,
    num_hashes: int = DEFAULT_NUM_HASHES,
    fmt: str = "parquet",
) -> dict:
    """Maintenance step (run after a merge commit or compaction, like
    ``materialize_changes``): build the bloom bitmap over the state's
    CURRENT key set and persist it under ``_bitmaps/v<version>/``. Returns
    the meta dict. Idempotent — an existing committed bitmap for the same
    version is kept (the build is deterministic); older versions' bitmaps
    are GC'd after commit. One linear pass over the state, O(m/64) rows
    written."""
    import json
    import os
    import shutil
    import time
    import uuid

    from ..sinks.writer import _current_version, _fsync_write, read_merge_state

    version = _current_version(state_path)
    root = _bitmap_root(state_path)
    target = os.path.join(root, f"v{version}")
    os.makedirs(root, exist_ok=True)
    # orphaned staging from a crashed peer: sweep past the staleness window
    # only (a live writer's staging is younger — same rule as the changelog)
    for name in os.listdir(root):
        full = os.path.join(root, name)
        if name.startswith(_BITMAP_STAGING_PREFIX) and (
            time.time() - os.path.getmtime(full) > _BITMAP_STALE_SEC
        ):
            shutil.rmtree(full, ignore_errors=True)
    def _params_match(m: dict) -> bool:
        return (
            m.get("key_cols") == list(key_cols)
            and m.get("num_hashes") == num_hashes
            and m.get("bits_per_key") == bits_per_key
        )

    if os.path.exists(os.path.join(target, _BITMAP_META)):
        meta = json.loads(
            open(os.path.join(target, _BITMAP_META), encoding="utf-8").read()
        )
        if _params_match(meta):
            return meta  # committed and current: the build is deterministic
        # different parameters for the same version: fall through and
        # REPLACE (rename-aside below) — returning the old meta while
        # claiming the new parameters would leave disk and caller
        # disagreeing (r12 review)

    state = read_merge_state(spark, state_path, fmt=fmt)
    n_keys = state.select(*key_cols).distinct().count()
    m_bits = suggest_m_bits(n_keys, bits_per_key=bits_per_key)
    meta = {
        "version": version,
        "m_bits": m_bits,
        "num_hashes": num_hashes,
        "bits_per_key": bits_per_key,
        "key_cols": list(key_cols),
        "n_keys": n_keys,
    }
    staging = os.path.join(root, f"{_BITMAP_STAGING_PREFIX}{uuid.uuid4().hex[:12]}")
    keyset_bitmap(state, list(key_cols), m_bits, num_hashes).write.mode(
        "overwrite"
    ).parquet(staging)
    _fsync_write(os.path.join(staging, _BITMAP_META), json.dumps(meta, sort_keys=True))
    # commit. A live target here carries DIFFERENT parameters (identical
    # ones returned above): rename it aside first — the aside name uses the
    # staging prefix so a crash leaves it to the staleness sweep, and a
    # crash in the aside→commit gap just makes read_state_bitmap return
    # None (callers fall back to the inline build; the next write heals).
    aside = None
    if os.path.isdir(target):
        aside = os.path.join(
            root, f"{_BITMAP_STAGING_PREFIX}expired{uuid.uuid4().hex[:8]}"
        )
        try:
            os.rename(target, aside)
        except OSError:
            aside = None  # a concurrent writer already moved it
    try:
        os.rename(staging, target)  # commit point
    except OSError:
        # a concurrent writer committed between the aside and here
        shutil.rmtree(staging, ignore_errors=True)
        committed_meta = os.path.join(target, _BITMAP_META)
        if os.path.exists(committed_meta):
            peer = json.loads(open(committed_meta, encoding="utf-8").read())
            if _params_match(peer):
                return peer  # identical deterministic build won the race
            raise RuntimeError(
                f"concurrent write_state_bitmap committed different "
                f"parameters for {target!r}: {peer}"
            ) from None
        raise
    if aside is not None:
        shutil.rmtree(aside, ignore_errors=True)
    for name in os.listdir(root):  # GC superseded versions after commit
        full = os.path.join(root, name)
        if name.startswith("v") and name != f"v{version}":
            shutil.rmtree(full, ignore_errors=True)
    return meta


def read_state_bitmap(
    spark, state_path: str, key_cols: list[str]
) -> tuple[DataFrame, dict] | None:
    """The persisted bitmap for the state's CURRENT version, or None when
    absent or stale (the state advanced past the bitmap's version: keys
    inserted since would probe NEGATIVE — a false negative that silently
    re-admits their duplicates — so a stale bitmap is never returned; the
    caller falls back to building from the state). Raises ConfigError on a
    key-column mismatch — that is a misconfiguration, not staleness."""
    import json
    import os

    from ..errors import ConfigError
    from ..sinks.writer import _current_version

    version = _current_version(state_path)
    target = os.path.join(_bitmap_root(state_path), f"v{version}")
    meta_path = os.path.join(target, _BITMAP_META)
    if not os.path.exists(meta_path):
        return None
    meta = json.loads(open(meta_path, encoding="utf-8").read())
    if meta.get("key_cols") != list(key_cols):
        raise ConfigError(
            f"state bitmap at {target!r} was built over keys "
            f"{meta.get('key_cols')!r}, not {list(key_cols)!r}"
        )
    return spark.read.parquet(target), meta
