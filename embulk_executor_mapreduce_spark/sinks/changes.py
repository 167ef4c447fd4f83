"""CDC-style change feed between committed merge-sink versions.

The merge sink (``sinks/writer.py``, reference O10 extended: SCD1 upsert
with pointer-committed immutable version trees) already gives time travel —
``read_merge_state(version=N)`` — because every retained manifest is a
complete bucket map. This module adds the warehouse feature built on top of
that contract in public systems (Delta Lake's Change Data Feed, Iceberg's
changelog scan): ``table_changes(from_version, to_version)`` emits the rows
that differ between two committed snapshots, tagged
``insert`` / ``delete`` / ``update_preimage`` / ``update_postimage``
(Delta CDF naming).

Spark-first, scale-first design:

* **Changed-bucket pruning.** A committed manifest reuses the previous
  version's directory for every untouched bucket, so two manifests diff in
  O(buckets) driver-side and only buckets whose directories CHANGED are
  read on either side. An increment that touched 3 of 4096 buckets reads 6
  bucket dirs total, not two full snapshots — the file-listing analog of
  partition pruning, and the property that makes a per-increment CDC feed
  viable on a 100 TB state.
* **Schemas from the manifests.** Each side of a diff is read under its
  own manifest's schema stamp (``writer._read_state``), so building a
  parquet/ORC feed's plan runs no Spark job and opens no footer. Only
  schema-on-read formats (csv/json), which carry no stamp, infer — once
  per feed, over a full snapshot, pinned for every side.
* **One join.** The diff itself is a single full-outer join on the merge
  keys (both sides are bucket-subset reads sharing the sink's
  ``pmod(xxhash64(key), merge_buckets)`` layout) followed by an in-plan
  explode over literal structs — no driver-side row handling, output size
  O(changed rows).
* **Persisted per-commit change files** (VERDICT r9 item 3, Delta CDF's
  ``_change_data`` parity): :func:`materialize_changes` writes each
  commit's adjacent-pair diff ONCE under ``<state>/_changelog/v<N>/`` (the
  recompute path above is the writer), after which
  ``table_changes(per_version=True)`` is a pure parquet scan — no join, no
  per-pair recompute, plan width O(1) instead of O(commits in range). The
  recompute path stays as the oracle (bit-equality asserted in
  tests/test_changes.py and the ``cdc_persisted_changes`` catalog query).
  Unlike Delta, the changelog is DERIVED state here — every retained
  manifest pair can reproduce it — so persistence is a materialization
  step (run it after commits, idempotent, concurrent-safe, catch-up
  capable) rather than a commit-path obligation; a materialized commit's
  feed also OUTLIVES snapshot retention, which recompute cannot offer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .writer import (
    MERGE_BUCKET_COL,
    _bucket_dirs,
    _current_version,
    _fsync_write,
    _load_manifest,
    _local,
    _manifest_path,
    _read_state,
)

CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"

#: persisted per-commit change files live under ``<state>/_changelog/``:
#: ``v<N>/`` (parquet data) + ``v<N>.json`` (the commit marker, written
#: AFTER the data dir's atomic rename — a data dir without its marker is a
#: crash orphan and gets rebuilt). The sink's GC only sweeps ``_trees/`` +
#: manifests + known Spark write artifacts at the state ROOT, so the
#: changelog survives snapshot retention by design.
CHANGELOG_DIR = "_changelog"
_CHANGELOG_INPROGRESS = ".inprogress-"
_CHANGELOG_EXPIRED = ".expired-"
# an UNMARKED changelog artifact (scratch dir or renamed-but-unmarked data
# dir) younger than this belongs to a live concurrent materializer; older
# is a crash orphan and gets swept/rebuilt
_CHANGELOG_STALE_SEC = 3600.0


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """Row-level diff of two key-unique snapshots: full-outer join on
    ``keys``, then per-row change classification. Rows identical on every
    column produce nothing; a changed row produces BOTH its
    ``update_preimage`` and ``update_postimage``. Output schema = snapshot
    schema + ``_change_type`` string.

    ``delete_col`` (r14 keyed-DELETE support): name of the sink's tombstone
    marker column. Each snapshot is reduced to its LIVE view (tombstoned
    rows filtered, the marker column dropped) before diffing, so the feed
    speaks the logical language: live→tombstone is a ``delete`` carrying
    the retired row's last live payload, tombstone→live (re-insert) is an
    ``insert``, a tombstone for a never-present or already-dead key is
    nothing, and a :func:`...writer.purge_tombstones` commit diffs empty
    (physical GC is not a logical change). Dropping the marker also keeps
    the schema-equality check working across the batch that first
    INTRODUCED the marker column (its pre-evolution neighbor snapshot
    lacks it)."""
    if delete_col is not None:
        from .writer import _drop_tombstones

        old = _drop_tombstones(old, delete_col).drop(delete_col)
        new = _drop_tombstones(new, delete_col).drop(delete_col)
    cols = new.columns
    if old.columns != cols:
        raise ValueError(
            f"snapshot schemas differ: old={old.columns} new={cols} "
            "(the merge sink does not evolve schemas between versions)"
        )
    value_cols = [c for c in cols if c not in keys]
    # Presence is tracked by marker columns, NOT key nullability: the join
    # condition is eqNullSafe, so the merge sink's NULL-keyed rows match
    # across snapshots like any other key — a key-IS-NULL presence test
    # would misread them as absent (spurious inserts / lost deletes).
    in_o_col, in_n_col = "__cdc_in_o", "__cdc_in_n"
    if in_o_col in cols or in_n_col in cols:
        raise ValueError(f"snapshot columns collide with {in_o_col}/{in_n_col}")
    o = old.withColumn(in_o_col, F.lit(True)).alias("o")
    n = new.withColumn(in_n_col, F.lit(True)).alias("n")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
    joined = o.join(n, cond, "full_outer")

    def side(tag: str, prefix: str) -> F.Column:
        return F.struct(
            *[F.col(f"{prefix}.{c}").alias(c) for c in cols],
            F.lit(tag).alias(CHANGE_TYPE_COL),
        )

    in_old = F.col(f"o.{in_o_col}").isNotNull()
    in_new = F.col(f"n.{in_n_col}").isNotNull()
    differs = F.lit(False)
    for c in value_cols:
        differs = differs | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    # the no-change branch needs an empty array of the same struct type;
    # slicing a one-element literal array to length 0 keeps it in-plan
    changes = (
        F.when(~in_old, F.array(side("insert", "n")))
        .when(~in_new, F.array(side("delete", "o")))
        .when(
            differs,
            F.array(side("update_preimage", "o"), side("update_postimage", "n")),
        )
        .otherwise(F.slice(F.array(side("insert", "n")), 1, 0))
    )
    return joined.select(F.explode(changes).alias("r")).select("r.*")


def _pair_frames(
    spark: SparkSession,
    local: str,
    man_a: dict,
    man_b: dict,
    fmt: str,
    schema=None,
) -> tuple[DataFrame, DataFrame]:
    """(old, new) bucket-subset frames for one manifest pair: only buckets
    whose directories differ are listed or read on either side, each side
    under its own manifest's schema stamp. ``schema`` (optional) pins the
    read schema instead — required when a feed reads schema-on-read
    formats, so every side and pair infers identically (see
    :func:`_pinned_schema`)."""
    ba, bb = man_a["buckets"], man_b["buckets"]
    changed = sorted(b for b in set(ba) | set(bb) if ba.get(b) != bb.get(b))
    old_dirs = [os.path.join(local, ba[b]) for b in changed if b in ba]
    new_dirs = [os.path.join(local, bb[b]) for b in changed if b in bb]
    old = _read_state(spark, man_a, fmt, old_dirs, schema) if old_dirs else None
    new = _read_state(spark, man_b, fmt, new_dirs, schema) if new_dirs else None
    if old is None and new is None:
        # zero changed buckets: the feed is empty either way, shaped by the
        # schema of whichever side has committed buckets (an EMPTY
        # committed state has none — no schema exists anywhere to shape
        # the feed, same contract as read_merge_state)
        man = man_b if bb else man_a
        dirs = _bucket_dirs(local, man["buckets"])
        old = new = spark.createDataFrame(
            [], _read_state(spark, man, fmt, dirs, schema, schema_only=True)
        )
    elif old is None:
        # empty side built FROM the non-empty side's frame, not a separate
        # read (ADVICE r7): schema-on-read formats (csv/json via fmt) can
        # infer differently from a single-bucket probe than from the
        # multi-dir read, tripping snapshot_diff's schema-equality check or
        # silently changing types; limit(0) guarantees identical schemas
        old = new.limit(0)
    elif new is None:
        new = old.limit(0)
    return old.drop(MERGE_BUCKET_COL), new.drop(MERGE_BUCKET_COL)


def _pinned_schema(spark, local: str, manifests_newest_first, fmt: str, path: str):
    """(schema-or-None, the newest manifest with committed buckets).

    That manifest anchors the feed. A stamped manifest pins nothing: each
    side of each pair reads under its own manifest's stamp, so a diff
    across a column-introducing commit still fails the schema check.
    Unstamped ones — schema-on-read formats (csv/json), or a manifest
    committed before stamping — are pinned to the anchor's schema: the
    diff reads different bucket subsets on each side (and, per-version,
    per pair), and independent inference could type the same column
    differently (all-null in one subset, populated or numeric-looking in
    another), breaking the join or the cross-pair union. For
    schema-on-read formats :func:`...writer._read_state` infers over the
    FULL snapshot, never one bucket dir: a json bucket whose rows are all
    null in a column writes no field for it, so a single-bucket probe
    would silently DROP the column feed-wide. One inference pass over the
    snapshot is the documented cost of running a CDC feed over a
    schema-less format."""
    for man in manifests_newest_first:
        if man["buckets"]:
            if "schema" in man:
                return None, man
            dirs = _bucket_dirs(local, man["buckets"])
            return _read_state(spark, man, fmt, dirs, schema_only=True), man
    raise FileNotFoundError(
        f"merge state {path} has no committed buckets in the requested "
        "version range to take the feed schema from"
    )


def _changelog_data_dir(local: str, version: int) -> str:
    return os.path.join(local, CHANGELOG_DIR, f"v{version}")


def _changelog_meta_path(local: str, version: int) -> str:
    return os.path.join(local, CHANGELOG_DIR, f"v{version}.json")


def _changelog_meta(local: str, version: int) -> dict | None:
    """Committed changelog metadata for one version, or None. The meta file
    is the commit marker; a data dir without it is a crash orphan. The
    open races a concurrent :func:`expire_changelog` removing the marker —
    a vanished file means exactly "no longer committed", never an error
    (r11 second-cycle fix: the exists→open TOCTOU could crash a reader or
    materializer with FileNotFoundError mid-expiry)."""
    import json

    p = _changelog_meta_path(local, version)
    try:
        with open(p) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def _changelog_merge_compatible(local: str, versions: list[int]) -> bool:
    """True when the persisted change files for ``versions`` can be read
    under one ``mergeSchema`` parquet scan: every column name that appears
    in more than one commit's file carries the SAME physical type. Only
    schema-on-read source formats can drift here (csv/json inference is
    pinned per commit at materialize time); the probe is parquet-footer
    metadata per commit, no data read. Any unreadable footer counts as
    incompatible — the caller (auto mode) degrades to recompute, which is
    always safe."""
    import pyarrow.parquet as pq

    seen: dict[str, object] = {}
    for v in versions:
        ddir = _changelog_data_dir(local, v)
        try:
            parts = [
                n
                for n in os.listdir(ddir)
                if n.startswith("part-") and n.endswith(".parquet")
            ]
            if not parts:
                continue  # empty diff: nothing to conflict
            schema = pq.read_schema(os.path.join(ddir, sorted(parts)[0]))
        except Exception:  # noqa: BLE001 — unreadable = incompatible
            # not just OSError: pyarrow raises ArrowInvalid (a ValueError)
            # on a corrupt/truncated footer, and the contract here is that
            # ANY unreadable footer degrades the auto-mode read to the
            # recompute path rather than erroring (r11 review finding 2)
            return False
        for f in schema:
            if f.name in seen and seen[f.name] != f.type:
                return False
            seen[f.name] = f.type
    return True


def changelog_versions(path: str) -> list[int]:
    """Versions with a COMMITTED persisted change file (sorted). Presence
    means ``table_changes(..., per_version=True)`` can serve that commit as
    a pure scan — even after its snapshots age out of merge retention."""
    import re

    cdir = os.path.join(_local(path), CHANGELOG_DIR)
    if not os.path.isdir(cdir):
        return []
    out = []
    for name in os.listdir(cdir):
        m = re.match(r"^v(\d+)\.json$", name)
        if m and os.path.isdir(os.path.join(cdir, f"v{m.group(1)}")):
            out.append(int(m.group(1)))
    return sorted(out)


def expire_changelog(path: str, before_version: int) -> list[int]:
    """Expire persisted per-commit change files for every version strictly
    below ``before_version``; returns the versions whose artifacts this call
    removed (idempotent — a second call returns ``[]``). This is the
    changelog's retention discipline (VERDICT r10 item 4): ``_changelog/``
    deliberately survives the sink's snapshot GC — outliving
    ``merge_keep_versions`` is the feature's point, so nothing expires it
    implicitly — but a long-lived merge state accumulates one small parquet
    dir per commit forever without an explicit bound. Call this (or pass
    ``keep_versions`` to :func:`materialize_changes`) on whatever schedule
    the feed's consumers allow.

    Removal order per version: marker FIRST, then the data dir — a
    concurrent ``use_changelog=None`` reader that loses the race sees a
    missing marker and degrades to the pair-diff recompute (or, past
    manifest retention, the documented version-not-retained error). The
    data dir itself is removed by an ATOMIC rename to an ``.expired-``
    scratch name before the recursive delete (r11 review finding 1: a
    bare rmtree deletes part files one by one, so a reader that passed
    the coverage check an instant earlier could list a half-deleted dir
    and silently serve a partial commit — after the rename it either
    sees the dir whole or not at all; a read whose resolved file list
    already pointed inside fails LOUDLY at scan instead). A crash
    between the steps leaves an unmarked data dir or an ``.expired-``
    orphan; the next ``expire_changelog`` call sweeps the former once it
    is STALE by mtime and ``materialize_changes``' stale sweep the latter.
    The staleness guard on unmarked dirs (ADVICE r11) matters because an
    unmarked-but-fresh data dir below the cutoff may belong to a live
    ``materialize_changes`` peer inside its rename→marker window —
    expiring it would let the peer's marker land with no data, a
    transient marker-without-data wedge (self-healing via the repair
    pass, but avoidable). A marked data dir is a completed commit and
    expires regardless of age."""
    import re
    import shutil
    import time
    import uuid

    local = _local(path)
    cdir = os.path.join(local, CHANGELOG_DIR)
    if not os.path.isdir(cdir):
        return []
    markers: set[int] = set()
    data: set[int] = set()
    for name in os.listdir(cdir):
        m = re.match(r"^v(\d+)(\.json)?$", name)
        if m and int(m.group(1)) < before_version:
            (markers if m.group(2) else data).add(int(m.group(1)))
    removed: set[int] = set()
    for v in sorted(markers | data):
        # marker strictly before data dir (see protocol in the docstring)
        if v in markers:
            try:
                os.remove(_changelog_meta_path(local, v))
                removed.add(v)
            except FileNotFoundError:
                pass  # concurrent expire got it first
        if v in data:
            ddir = _changelog_data_dir(local, v)
            if v not in markers:
                # unmarked: crash orphan OR a live peer mid-commit — only a
                # stale one goes (same rule as materialize_changes' sweep);
                # a fresh one is left for a later expiry pass.
                try:
                    fresh = (
                        time.time() - os.path.getmtime(ddir)
                        <= _CHANGELOG_STALE_SEC
                    )
                except OSError:
                    continue  # vanished under us — a concurrent pass got it
                if fresh:
                    continue
            aside = os.path.join(
                cdir, f"{_CHANGELOG_EXPIRED}v{v}-{uuid.uuid4().hex[:12]}"
            )
            try:
                os.rename(ddir, aside)
                removed.add(v)
            except FileNotFoundError:
                pass  # concurrent expire got it first
            else:
                shutil.rmtree(aside, ignore_errors=True)
    return sorted(removed)


def materialize_changes(
    spark: SparkSession,
    path: str,
    keys: list[str],
    fmt: str = "parquet",
    through_version: int | None = None,
    keep_versions: int | None = None,
    delete_col: str | None = None,
) -> list[int]:
    """Persist the per-commit change files for every commit whose adjacent
    manifest pair is still retained and whose changelog is missing; returns
    the versions materialized by THIS call (idempotent — a second call
    returns ``[]``). Run it after a batch of merge commits (or on a
    schedule): each commit's ``snapshot_diff`` is computed ONCE here, and
    every subsequent ``table_changes(per_version=True)`` over materialized
    ranges is a pruned parquet scan instead of an O(range) recompute.

    The change files are always PARQUET regardless of the sink ``fmt`` —
    the changelog is derived state and a self-describing format sidesteps
    the per-pair schema-inference hazards of csv/json (for those source
    formats each pair is read under a full-snapshot pinned schema; see
    :func:`_pinned_schema` and the schema-evolution caveat on
    :func:`table_changes`). Durability protocol per version: write to an
    ``.inprogress-`` scratch dir, atomic rename to ``v<N>/``, then
    fsync-write the ``v<N>.json`` marker — readers only trust marked dirs.
    Concurrent materializers race safely: first rename wins, losers
    discard; an UNMARKED data dir is rebuilt only once it is stale by
    mtime (a fresh one belongs to a live peer inside its rename→marker
    window — r10 review finding 3: deleting it eagerly could strand that
    peer's marker with no data; :func:`expire_changelog` honors the same
    mtime rule for unmarked dirs below its cutoff, ADVICE r11); a marker
    with no data dir (a deleted or
    never-completed payload) is repaired immediately — the marker is
    dropped and the version rebuilt.

    ``keep_versions`` (default ``None`` = keep every materialized commit
    forever — the changelog deliberately outlives ``merge_keep_versions``
    snapshot retention, that asymmetry being the feature's point) bounds
    the changelog after this call commits its versions: only the newest N
    COMMITTED change files are retained, the rest expired through
    :func:`expire_changelog`. A version this call just skipped as
    already-committed counts toward the N like any other."""
    import shutil
    import time
    import uuid

    if keep_versions is not None and keep_versions < 1:
        raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
    local = _local(path)
    current = _current_version(path)
    to_v = current if through_version is None else through_version
    cdir = os.path.join(local, CHANGELOG_DIR)
    os.makedirs(cdir, exist_ok=True)
    # sweep crash-orphaned scratch dirs (.inprogress- writes, .expired-
    # expiry asides) and repair-aside marker files — all stale by mtime,
    # same rule as the sink GC's in-progress attempts: a FRESH one belongs
    # to a live concurrent materializer/expirer/repairer and is never
    # touched. A crash between each protocol's rename and its removal
    # would otherwise leave the artifact forever.
    for name in os.listdir(cdir):
        is_scratch_dir = name.startswith(
            (_CHANGELOG_INPROGRESS, _CHANGELOG_EXPIRED)
        )
        is_repair_file = ".repair-" in name
        if is_scratch_dir or is_repair_file:
            full = os.path.join(cdir, name)
            try:
                stale = time.time() - os.path.getmtime(full) > _CHANGELOG_STALE_SEC
            except OSError:
                continue
            if stale:
                if is_scratch_dir:
                    shutil.rmtree(full, ignore_errors=True)
                else:
                    try:
                        os.remove(full)
                    except OSError:
                        pass
    done: list[int] = []
    # under keep_versions only the newest N commits can survive the expiry
    # below, and retained manifest pairs are a SUFFIX of history (the sink
    # GC keeps the newest merge_keep_versions manifests), so versions below
    # the cutoff would be built and then deleted seconds later — skip them
    # up front (r11 review finding 3: a 1000-commit catch-up with
    # keep_versions=10 must run ~10 diff jobs, not ~1000)
    start = 1 if keep_versions is None else max(1, to_v - keep_versions + 1)
    for v in range(start, to_v + 1):
        if not (
            os.path.exists(_manifest_path(local, v - 1))
            and os.path.exists(_manifest_path(local, v))
        ):
            continue  # pair aged out of retention — recompute can't either
        data_dir = _changelog_data_dir(local, v)
        if _changelog_meta(local, v) is not None:
            if os.path.isdir(data_dir):
                continue  # committed by an earlier/concurrent call
            # marker without data (r10 review finding 2): the payload was
            # deleted out from under the marker — drop the marker and
            # rebuild, otherwise the version is wedged forever (reads of a
            # marker-only version fall back to recompute, never error).
            # The drop is a rename ASIDE, not an unlink (ADVICE r10): a
            # concurrent materializer can land its data dir in the window
            # between our isdir probe and the removal — if the dir exists
            # once the marker is in our hands, the marker belongs to a LIVE
            # commit and is put straight back (marker content is the
            # deterministic {version, keys, source_format} record, so a
            # same-config peer's marker restores bit-identically; a
            # different-keys peer surfaces as the documented keys-mismatch
            # degrade, never as a destroyed commit).
            marker = _changelog_meta_path(local, v)
            aside = f"{marker}.repair-{uuid.uuid4().hex[:12]}"
            try:
                os.rename(marker, aside)
            except FileNotFoundError:
                pass  # a concurrent repair got here first
            else:
                if os.path.isdir(data_dir):
                    try:
                        os.rename(aside, marker)
                    except OSError:
                        os.remove(aside)
                    continue
                os.remove(aside)
        if os.path.isdir(data_dir):
            # unmarked data dir: EITHER a crash orphan (rename landed,
            # marker write didn't) OR a live concurrent materializer inside
            # its rename→marker window. Distinguish by mtime, same rule as
            # the .inprogress sweep: only a stale one is rebuilt; a fresh
            # one is skipped this call (its owner's marker is milliseconds
            # away — r10 review finding 3: an eager rmtree here could
            # delete a live peer's committed payload).
            try:
                stale = (
                    time.time() - os.path.getmtime(data_dir)
                    > _CHANGELOG_STALE_SEC
                )
            except OSError:
                continue
            if not stale:
                continue
            shutil.rmtree(data_dir, ignore_errors=True)
        man_a = _load_manifest(local, v - 1)
        man_b = _load_manifest(local, v)
        schema, _ = _pinned_schema(spark, local, [man_b, man_a], fmt, path)
        old, new = _pair_frames(spark, local, man_a, man_b, fmt, schema)
        if COMMIT_VERSION_COL in new.columns:
            raise ValueError(
                f"snapshot columns collide with {COMMIT_VERSION_COL}"
            )
        diff = snapshot_diff(old, new, list(keys), delete_col).withColumn(
            COMMIT_VERSION_COL, F.lit(v).cast("long")
        )
        scratch = os.path.join(
            cdir, f"{_CHANGELOG_INPROGRESS}v{v}-{uuid.uuid4().hex[:12]}"
        )
        diff.write.mode("overwrite").parquet(scratch)
        try:
            os.rename(scratch, data_dir)
        except OSError:
            # a concurrent materializer committed v first; ours is redundant
            shutil.rmtree(scratch, ignore_errors=True)
            continue
        import json

        meta = {"version": v, "keys": list(keys), "source_format": fmt}
        if delete_col is not None:
            # recorded so a read under a DIFFERENT delete_col (or none)
            # degrades to recompute instead of serving a feed whose
            # delete classification was computed under another contract;
            # omitted entirely when None so pre-r14 metas compare equal
            meta["delete_col"] = delete_col
        _fsync_write(
            _changelog_meta_path(local, v),
            json.dumps(meta, sort_keys=True),
        )
        done.append(v)
    if keep_versions is not None:
        committed = changelog_versions(path)
        if len(committed) > keep_versions:
            expire_changelog(path, committed[-keep_versions])
    return done


def table_changes(
    spark: SparkSession,
    path: str,
    keys: list[str],
    from_version: int,
    to_version: int | None = None,
    fmt: str = "parquet",
    per_version: bool = False,
    use_changelog: bool | None = None,
    delete_col: str | None = None,
) -> DataFrame:
    """Change feed of a merge-sink state between two committed versions
    (both must still be retained — raise with the ``merge_keep_versions``
    hint otherwise, like ``read_merge_state``). ``keys`` are the sink's
    ``merge_key`` columns. Bucket membership is a pure function of the
    merge key, so rows for one key never straddle buckets and the manifest
    directory diff is a safe superset of the changed keys — unchanged
    buckets are never listed, let alone read.

    ``per_version=False`` (default) diffs the two ENDPOINT snapshots — a
    net feed: an update applied in v2 and reverted byte-identically in v3
    produces nothing in a v1→v3 feed, and rows carry no commit
    attribution. ``per_version=True`` emits one adjacent-pair diff per
    commit in ``(from_version, to_version]``, each tagged with the
    commit's version in ``_commit_version`` (Delta CDF's ``table_changes``
    semantics — VERDICT r8 item 3). Every retained manifest is a complete
    bucket map, so each pair still prunes to ITS OWN changed buckets; the
    total work is O(sum of per-commit changed buckets), which is exactly
    the data a per-commit consumer must see anyway. Requires every
    manifest in the range to still be retained — unless the range is
    served from the persisted changelog (below), which needs no manifests
    at all.

    ``use_changelog`` (per_version only): ``None`` (default) serves the
    feed from :func:`materialize_changes`' persisted per-commit files when
    EVERY commit in ``(from, to]`` has a COMMITTED one (marker AND data
    dir) materialized under the requested ``keys`` — a pure pruned parquet
    scan, zero joins, plan width O(1) — and falls back to the pair-diff
    recompute otherwise (never a mix: one deterministic provenance per
    read; a half-deleted or differently-keyed changelog degrades to
    recompute, it never errors the default path). ``True`` requires full
    committed coverage — it raises with the materialize hint on missing
    files and rejects a keys mismatch. ``False`` forces the recompute path
    (the oracle side of the bit-equality contract). The empty ``from ==
    to`` range always takes the recompute branch — there is no persisted
    file to take an output schema from.

    ``delete_col`` (r14 keyed-DELETE): the sink's tombstone marker column
    — see :func:`snapshot_diff` for the classification semantics
    (live→tombstone = ``delete``, re-insert = ``insert``, purge commits
    diff empty). The changelog fast path serves only files materialized
    under the SAME ``delete_col`` (the meta records it); a mismatch
    degrades auto mode to recompute and fails the explicit
    ``use_changelog=True`` read like a keys mismatch.

    Schema-evolution caveat (schema-on-read source formats only): each
    commit's change file pins the csv/json-inferred schema of ITS OWN
    newest snapshot at materialize time, while the recompute path pins one
    schema for the whole requested range — under column-level inference
    drift (a json column all-null in early snapshots, populated later) the
    two provenances can legitimately differ in column set, and the
    changelog read merges per-file schemas (``mergeSchema``) so later
    columns surface as NULL in earlier commits rather than dropping
    feed-wide. TYPE-level drift (the same column inferred long in one
    commit, double or string in another) cannot merge: auto mode detects
    it up front (a parquet-footer probe per commit, metadata only) and
    degrades to the recompute path, so the default read never errors; only
    the explicit ``use_changelog=True`` read fails loudly at scan time
    (remedy: ``use_changelog=False``/``None``). Self-describing sink
    formats (parquet/ORC) have no inference step and the provenances are
    bit-identical unconditionally."""
    local = _local(path)
    current = _current_version(path)
    to_v = current if to_version is None else to_version
    if from_version > to_v:
        raise ValueError(f"from_version {from_version} > to_version {to_v}")
    if use_changelog and not per_version:
        raise ValueError(
            "use_changelog=True requires per_version=True (the net endpoint "
            "feed is a two-snapshot diff, not a replay of per-commit files)"
        )
    if per_version and use_changelog is not False and from_version < to_v:
        want = list(range(from_version + 1, to_v + 1))
        # committed = marker AND data dir (a marker whose payload was
        # deleted must degrade to recompute in auto mode, not PATH_NOT_FOUND
        # at scan time — r10 review finding 2); metas parsed once
        metas = {
            v: _changelog_meta(local, v)
            for v in want
            if os.path.isdir(_changelog_data_dir(local, v))
        }
        missing = [v for v in want if metas.get(v) is None]
        if use_changelog and missing:
            raise FileNotFoundError(
                f"merge state {path} has no persisted change file for "
                f"version(s) {missing}; run materialize_changes() first or "
                "read with use_changelog=None/False (pair-diff recompute)"
            )
        if not missing:
            mismatched = {
                v: m["keys"]
                for v, m in metas.items()
                if m["keys"] != list(keys)
                or m.get("delete_col") != delete_col
            }
            if mismatched and use_changelog:
                v = next(iter(sorted(mismatched)))
                raise ValueError(
                    f"persisted change file v{v} was materialized with "
                    f"keys={metas[v]['keys']} delete_col="
                    f"{metas[v].get('delete_col')!r}, read requested "
                    f"keys={list(keys)} delete_col={delete_col!r}"
                )
            if not mismatched and (
                use_changelog
                or fmt in ("parquet", "orc")
                or _changelog_merge_compatible(local, want)
            ):
                # mergeSchema: per-commit files may carry different column
                # SETS under schema-on-read inference drift (see caveat
                # above); merging surfaces later columns as NULL in earlier
                # commits — the same shape the range-pinned recompute gives.
                # Auto mode pre-validates that csv/json-derived files are
                # TYPE-level merge-compatible first (footer metadata probe)
                # and degrades to recompute otherwise — the default path
                # never turns a previously-working read into a scan-time
                # merge failure (ADVICE r10); only the explicit
                # use_changelog=True read fails loudly on type drift.
                return spark.read.option("mergeSchema", "true").parquet(
                    *[_changelog_data_dir(local, v) for v in want]
                )
    need = (
        range(from_version, to_v + 1) if per_version else (from_version, to_v)
    )
    for v in need:
        if not os.path.exists(_manifest_path(local, v)):
            raise FileNotFoundError(
                f"merge state {path} has no version {v} (current={current}; "
                "older snapshots are GC'd per the sink's merge_keep_versions "
                "retention"
                + (
                    "; per_version=True needs every manifest in the range)"
                    if per_version
                    else ")"
                )
            )
    if not per_version:
        man_from = _load_manifest(local, from_version)
        man_to = _load_manifest(local, to_v)
        schema, _ = _pinned_schema(spark, local, [man_to, man_from], fmt, path)
        old, new = _pair_frames(spark, local, man_from, man_to, fmt, schema)
        return snapshot_diff(old, new, list(keys), delete_col)

    manifests = {
        v: _load_manifest(local, v) for v in range(from_version, to_v + 1)
    }
    schema, anchor = _pinned_schema(
        spark,
        local,
        [manifests[v] for v in range(to_v, from_version - 1, -1)],
        fmt,
        path,
    )
    feeds = []
    for v in range(from_version + 1, to_v + 1):
        old, new = _pair_frames(
            spark, local, manifests[v - 1], manifests[v], fmt, schema
        )
        if COMMIT_VERSION_COL in new.columns:
            raise ValueError(
                f"snapshot columns collide with {COMMIT_VERSION_COL}"
            )
        feeds.append(
            snapshot_diff(old, new, list(keys), delete_col).withColumn(
                COMMIT_VERSION_COL, F.lit(v).cast("long")
            )
        )
    if not feeds:
        # from_version == to_version: empty feed with the full output
        # schema of the anchor manifest
        dirs = _bucket_dirs(local, anchor["buckets"])
        empty = spark.createDataFrame(
            [], _read_state(spark, anchor, fmt, dirs, schema, schema_only=True)
        ).drop(MERGE_BUCKET_COL)
        if COMMIT_VERSION_COL in empty.columns:
            raise ValueError(
                f"snapshot columns collide with {COMMIT_VERSION_COL}"
            )
        return snapshot_diff(empty, empty, list(keys), delete_col).withColumn(
            COMMIT_VERSION_COL, F.lit(to_v).cast("long")
        )
    out = feeds[0]
    for f in feeds[1:]:
        out = out.unionByName(f)
    return out
