"""Partitioned transactional sink (SURVEY.md §2.2 O10).

Reference semantics: each reduce task opens ONE output transaction, appends
every record routed to it, then finish/commit (abort on failure) — output task
count = reduce task count (``EmbulkPartitioningMapReduce.java:156-236``).

Spark-first: one write task per DataFrame partition, atomicity via Spark's
FileCommitProtocol (task attempts write to a staging dir; commit renames —
the same all-or-nothing contract the reference builds by hand with HDFS state
files). ``partition_by_bucket`` gives the per-time-bucket directory layout
(`.write.partitionBy`) that the reference approximates with
bucket→reducer routing.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..errors import ConfigError, NotAMergeStateError
from ..spec import SinkSpec


#: internal bucket column for merge-state bucketing; functionally
#: determined by the merge key, never user data. Carried as a DATA column
#: inside state files; the directory layout uses :data:`MERGE_BUCKET_DIR_COL`
#: so one multi-path scan restores it without partition inference.
MERGE_BUCKET_COL = "__mb"
#: write-side duplicate of the bucket column consumed by ``partitionBy`` to
#: produce one immutable directory per bucket per committed version
MERGE_BUCKET_DIR_COL = "__mbd"

_CURRENT_FILE = "_CURRENT"
_MANIFEST_DIR = "_manifests"
_TREE_DIR = "_trees"
#: attempt-unique staging trees under _trees/ carry this prefix until their
#: writer wins the commit CAS and renames them to their final v<N> name;
#: GC must never touch a FRESH one (it may belong to a live concurrent
#: writer), only stale crash orphans
_INPROGRESS_PREFIX = ".inprogress-"
#: advisory commit lock at the state root: serializes the (tiny) CAS
#: section — pointer re-check + tree rename + manifest + pointer flip —
#: across concurrent writers on a shared POSIX filesystem. Object-store
#: deployments replace this with a conditional put on the pointer object.
_COMMIT_LOCK_FILE = "_COMMIT_LOCK"
#: optimistic-concurrency retries: each failed CAS re-merges the batch
#: against the winner's snapshot, so contention cost is per-conflict
#: recompute, never blocking the other writer
_MERGE_COMMIT_RETRIES = 5
#: an in-progress staging tree older than this is a crash orphan (no live
#: writer keeps an attempt open for hours) and may be GC'd
_STALE_ATTEMPT_SEC = 6 * 3600.0


def _local(path: str) -> str:
    return path[7:] if path.startswith("file://") else path


def _pointer_version(local: str) -> int | None:
    """Committed version from the ``_CURRENT`` pointer; None = no merge
    state at this path."""
    import json

    p = os.path.join(local, _CURRENT_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return int(json.load(f)["version"])


def _current_version(path: str) -> int:
    """Committed version of the merge state at ``path``; raises
    :class:`...errors.NotAMergeStateError` when there is no pointer."""
    v = _pointer_version(_local(path))
    if v is None:
        raise NotAMergeStateError(
            f"{path!r} has no {_CURRENT_FILE} version pointer: not a merge state"
        )
    return v


def _manifest_path(local: str, version: int) -> str:
    return os.path.join(local, _MANIFEST_DIR, f"v{version}.json")


def _load_manifest(local: str, version: int) -> dict:
    import json

    with open(_manifest_path(local, version)) as f:
        return json.load(f)


def _bucket_dirs(local: str, bmap: dict[str, str]) -> list[str]:
    """Absolute directories of a manifest bucket map's entries."""
    return [os.path.join(local, rel) for rel in bmap.values()]


#: formats whose files are authoritative about their own schema; the ONLY
#: formats the manifest schema stamp / one-footer probe applies to.
#: Schema-on-read formats (csv/json) must keep full-snapshot inference — a
#: json bucket all-null in a column writes no field for it, and a write-side
#: schema would also diverge from read-back types (everything reads as the
#: inferred type, not the written one); pinned in
#: tests/test_changes.py::test_table_changes_per_version_schema_on_read_pinned.
_SELF_DESCRIBING = ("parquet", "orc")


def _relaxed_schema(schema):
    """A frame schema as a FILE-SOURCE READ would report it: every field,
    array element and map value nullable. File scans relax requiredness
    wholesale (``HadoopFsRelation`` exposes ``dataSchema.asNullable``), so
    a manifest-stamped write-side schema must be relaxed the same way to
    stay byte-equal to the footer-probed schema it replaces — a reader
    plan must not change depending on WHICH of the two sources supplied
    the schema."""
    from pyspark.sql import types as T

    def relax(dt):
        if isinstance(dt, T.StructType):
            return T.StructType(
                [
                    T.StructField(f.name, relax(f.dataType), True, f.metadata)
                    for f in dt.fields
                ]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(relax(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(relax(dt.keyType), relax(dt.valueType), True)
        return dt

    return relax(schema)


def _stamp_schema(frame_schema, fmt: str) -> dict | None:
    """The manifest ``schema`` stamp for a commit: the committed files'
    schema (the write frame minus the ``partitionBy`` dir column, which
    lives in directory names, not files), relaxed to read-back form.
    None for schema-on-read formats — see :data:`_SELF_DESCRIBING`."""
    from pyspark.sql import types as T

    if fmt not in _SELF_DESCRIBING:
        return None
    kept = T.StructType(
        [f for f in frame_schema.fields if f.name != MERGE_BUCKET_DIR_COL]
    )
    return _relaxed_schema(kept).jsonValue()


def _read_state(
    spark, man: dict, fmt: str, dirs: list[str], schema=None, schema_only=False
):
    """Read bucket ``dirs`` of the merge-state version whose manifest is
    ``man`` — the one place a state read's schema is decided. It is
    ``schema`` when the caller pins one, else the manifest's stamp (no
    Spark job, no footer read); only a manifest without a stamp (a
    schema-on-read format, or one committed before stamping) is inferred.

    ``schema_only=True`` returns just that schema, a ``StructType``. When
    it is known no file is opened; otherwise it is inferred from ONE dir
    of a self-describing format (all state files share one fused schema —
    evolution forces a full rewrite) and from ALL ``dirs`` of a
    schema-on-read one (a json bucket all-null in a column writes no
    field for it)."""
    from pyspark.sql import types as T

    if schema is None and fmt in _SELF_DESCRIBING and man.get("schema") is not None:
        schema = T.StructType.fromJson(man["schema"])
    if schema_only:
        if schema is not None:
            return schema
        if not dirs:
            raise FileNotFoundError(
                "merge state has no committed buckets to take the schema from"
            )
        if fmt in _SELF_DESCRIBING:
            dirs = dirs[:1]
    rdr = spark.read.format(fmt)
    if schema is not None:
        rdr = rdr.schema(schema)
    df = rdr.load(dirs)
    return df.schema if schema_only else df


def _fsync_write(path: str, payload: str) -> None:
    """Write-then-rename with fsync on file AND directory, so the rename is
    the durable commit point (the pointer protocol's one atomic step)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    dfd = os.open(os.path.dirname(path), os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def read_merge_state(
    spark,
    path: str,
    fmt: str = "parquet",
    version: int | None = None,
    delete_col: str | None = None,
    buckets: list[int] | None = None,
):
    """Resolve a merge-sink state for reading: follow ``_CURRENT`` →
    manifest → explicit bucket-dir list. This is the ONLY supported read
    path for ``mode: merge`` sinks — the data dirs live under
    underscore-prefixed directories that Spark's file listing deliberately
    ignores, so a naive ``spark.read.parquet(path)`` of a pointer-era state
    sees no files at all (fail-empty, never fail-duplicate).

    ``version`` TIME-TRAVELS to an earlier committed snapshot (the manifest
    layout makes every retained version a complete, immutable bucket map —
    the training-reproducibility contract at state level). Retention is the
    sink's ``merge_keep_versions`` (default 2: current + previous); reading
    an expired version raises with the retention hint.

    ``delete_col`` (r14 keyed-DELETE support): name of the sink's tombstone
    marker column (``SinkSpec.delete_column``). When given and
    present in the state, tombstoned rows — retired keys — are filtered
    out, returning the LIVE view; the marker rides along (always
    false/NULL on returned rows). Omit it to see tombstones, e.g. for
    audit or :func:`purge_tombstones` scheduling. The filter is a plain
    predicate on a boolean column — parquet row-group stats prune
    all-tombstone files without opening them.

    ``buckets`` (r14 keyed-probe support): open ONLY these bucket ids'
    directories — the inverted-list read for states bucketed on a probe
    key (``SinkSpec.merge_bucket_columns``); derive the ids from literal
    probe values with :func:`merge_bucket_ids`."""
    local = _local(path)
    current = _current_version(path)
    v = current if version is None else version
    if not os.path.exists(_manifest_path(local, v)):
        raise FileNotFoundError(
            f"merge state {path} has no version {v} (current={current}; older "
            f"snapshots are GC'd per the sink's merge_keep_versions retention)"
        )
    man = _load_manifest(local, v)
    dirs = _bucket_dirs(local, man["buckets"])
    if not dirs:
        raise FileNotFoundError(f"merge state at {path} has no committed buckets")
    if buckets is not None:
        # keyed-probe pruning: open ONLY the named buckets' directories
        # (absent ids are legitimately empty — never an error). The caller
        # derives the ids from its probe keys via merge_bucket_ids().
        wanted = set(buckets)
        pruned = {b: rel for b, rel in man["buckets"].items() if int(b) in wanted}
        if not pruned:
            # EVERY probed id is absent — e.g. an out-of-vocabulary query
            # term whose bucket no committed batch ever wrote: zero rows
            # with the state's schema, not an error
            schema = _read_state(spark, man, fmt, dirs, schema_only=True)
            return _drop_tombstones(spark.createDataFrame([], schema), delete_col)
        dirs = _bucket_dirs(local, pruned)
    return _drop_tombstones(_read_state(spark, man, fmt, dirs), delete_col)


def merge_state_layout(path: str) -> dict | None:
    """The committed bucket-hash layout of a merge state —
    ``{"bucket_columns": [...], "n_buckets": N}`` — or None when there is
    no state, or its manifest predates layout stamping. Keyed probers MUST
    take ``n_buckets`` from here rather than trusting a caller-supplied count:
    probing mod-64 against a mod-32 state maps some keys to bucket ids
    that simply don't exist, and the read treats absent ids as
    legitimately empty — silently missing rows (r14 review finding)."""
    local = _local(path)
    v = _pointer_version(local)
    if v is None:
        return None
    return _load_manifest(local, v).get("layout")


def merge_state_schema(spark, path: str, fmt: str = "parquet"):
    """Schema of a committed merge state without loading any rows: resolve
    pointer → manifest ``schema`` stamp (zero Spark jobs), inferring only
    where there is no stamp (see :func:`_read_state`). Raises when there is
    no state, or no stamp and no committed buckets."""
    local = _local(path)
    man = _load_manifest(local, _current_version(path))
    return _read_state(
        spark, man, fmt, _bucket_dirs(local, man["buckets"]), schema_only=True
    )


def merge_bucket_ids(
    spark,
    values,
    n_buckets: int | None = None,
    state_path: str | None = None,
    fmt: str = "parquet",
    layout: dict | None = None,
) -> list[int]:
    """Bucket ids for a list of LITERAL bucket-column values — the probe
    side of a keyed bucket layout (``pmod(xxhash64(...), n)`` must be
    computed by the same engine hash as the write side, so this runs one
    tiny local job over the literals; driver cost is bounded by the probe
    list, never data). ``values``: scalars for a single bucket column, or
    tuples for a composite one.

    ``xxhash64`` is TYPE-sensitive: a Python int probe infers LongType and
    hashes DIFFERENTLY against an int-typed bucket column, and the pruned
    read then treats the wrong ids as legitimately-empty buckets —
    silently missing rows. Pass ``state_path`` to make the types
    load-bearing: the bucket columns and ``n_buckets`` come from the
    state's COMMITTED layout and the probe literals are CAST to the
    committed schema's column types before hashing. A caller that has
    already loaded the layout (every prober starts by checking the bucket
    columns) passes it via ``layout=`` to skip the repeat manifest parse;
    the types come from the manifest's schema stamp. The bare
    ``n_buckets`` form remains for states without a recorded layout —
    callers own the type contract there."""
    rows = [v if isinstance(v, tuple) else (v,) for v in values]
    if not rows:
        return []
    df = spark.createDataFrame(rows)
    if state_path is not None:
        if layout is None:
            layout = merge_state_layout(state_path)
        if layout is None:
            raise FileNotFoundError(
                f"{state_path} has no committed bucket layout to probe "
                "against (pass n_buckets explicitly)"
            )
        bcols = [str(c) for c in layout["bucket_columns"]]
        if len(bcols) != len(df.columns):
            raise ConfigError(
                f"probe values carry {len(df.columns)} column(s) but the "
                f"committed layout buckets on {bcols}"
            )
        n_buckets = int(layout["n_buckets"])
        types = {f.name: f.dataType for f in merge_state_schema(spark, state_path, fmt)}
        missing = [c for c in bcols if c not in types]
        if missing:
            raise ConfigError(
                f"committed layout names bucket column(s) {missing} absent "
                f"from the state schema {sorted(types)}"
            )
        # an UN-castable literal (e.g. a non-numeric string probed against
        # an int bucket column) must not reach the hash: under ANSI it
        # blows up as a raw NumberFormatException mid-collect, and with
        # ANSI off it casts to NULL, hashes anyway, and yields a
        # silently-empty pruned read — the exact silent-miss failure mode
        # the typed cast exists to eliminate, one layer down. try_cast
        # makes BOTH the check and the hash ANSI-agnostic, so the
        # cast-validity marks and the bucket ids ride in ONE collect (this
        # runs on every pruned-read probe; a separate check job would
        # double the serving hot path's driver round-trips); rows bounded
        # by the probe list. A row with any offending mark raises
        # before its (try_cast-NULLed) id can be used.
        marks = [
            F.when(
                F.col(cur).isNotNull()
                & F.col(cur).try_cast(types[b]).isNull(),
                F.col(cur).cast("string"),
            ).alias(b)
            for cur, b in zip(df.columns, bcols)
        ]
        idc = "__bucket_id"
        while idc in bcols:
            idc += "_"
        bid = F.pmod(
            F.xxhash64(
                *[
                    F.col(cur).try_cast(types[b])
                    for cur, b in zip(df.columns, bcols)
                ]
            ),
            F.lit(n_buckets),
        ).cast("int")
        rows = df.select(bid.alias(idc), *marks).collect()
        offending = [r for r in rows if any(r[b] is not None for b in bcols)]
        if offending:
            bad = {
                b: sorted({r[b] for r in offending if r[b] is not None})
                for b in bcols
                if any(r[b] is not None for r in offending)
            }
            raise ConfigError(
                f"probe value(s) {bad} do not cast to their bucket "
                "column(s)' committed type(s) "
                f"({ {b: types[b].simpleString() for b in bad} }) — "
                "refusing to hash a NULLed literal (the pruned read "
                "would silently miss every row)"
            )
        return sorted({r[idc] for r in rows})
    if n_buckets is None:
        raise ConfigError("merge_bucket_ids requires n_buckets or state_path")
    b = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_buckets))
    return sorted(
        {r.b for r in df.select(b.cast("int").alias("b")).distinct().collect()}
    )


def _drop_tombstones(df, delete_col: str | None):
    """Filter tombstoned rows out of a state frame. NULL marker = live (a
    pre-tombstone-era row, or a batch that never carried the column, reads
    as NULL after the schema-evolution rewrite). Written as
    ``IS NULL OR = false`` rather than ``NOT coalesce(col, false)`` —
    semantically identical on a boolean, but the disjunction is a
    PUSHABLE parquet source filter (coalesce is not), so row-group stats
    skip all-tombstone files without opening them."""
    if delete_col is None or delete_col not in df.columns:
        return df
    c = F.col(delete_col)
    return df.filter(c.isNull() | (c == F.lit(False)))


def _gc_merge_state(
    local: str,
    keep_versions: int = 2,
    stale_attempt_sec: float = _STALE_ATTEMPT_SEC,
) -> None:
    """Drop everything unreachable from the ``keep_versions`` newest
    manifests under ``_trees/`` and ``_manifests/``: replaced bucket dirs
    and crash-orphaned trees/manifests from an attempt that died before its
    pointer commit. Nothing at the state root is touched. Keeping N-1
    alongside N gives concurrent readers a one-commit grace window (the
    table-format snapshot-retention contract);
    larger ``keep_versions`` buys time-travel depth at the cost of retained
    replaced-bucket storage.

    Multi-writer safe: a FRESH ``.inprogress-*`` staging tree belongs to a
    live concurrent writer that has not reached its CAS yet and is never
    touched; only attempts older than ``stale_attempt_sec`` (crash orphans)
    are swept. A final ``v<N>`` tree AHEAD of the current pointer (N >
    pointer) may belong to a committer inside the CAS lock that has renamed
    its attempt but not yet written the manifest — sweeping it by manifest
    reachability would delete the about-to-commit version's data (ADVICE
    r5, high). Such trees get the same mtime-staleness rule as in-progress
    attempts (a crashed winner's orphan is hours old; a live committer's
    rename is milliseconds old). Trees at or below the pointer are swept
    purely by manifest reachability (their manifest, if any, was durably
    written before the pointer ever reached them), and concurrent GCs
    tolerate each other (remove races are ignored)."""
    import re
    import shutil
    import time

    version = _pointer_version(local)
    if version is None:
        return
    keep = {version - i for i in range(max(2, keep_versions))}
    referenced: set[str] = set()
    for v in keep:
        if os.path.exists(_manifest_path(local, v)):
            referenced.update(_load_manifest(local, v)["buckets"].values())
    trees = os.path.join(local, _TREE_DIR)
    if os.path.isdir(trees):
        for tree in os.listdir(trees):
            tdir = os.path.join(trees, tree)
            tree_v = re.match(r"^v(-?\d+)$", tree)
            ahead_of_pointer = tree_v is not None and int(tree_v.group(1)) > version
            if tree.startswith(_INPROGRESS_PREFIX) or ahead_of_pointer:
                try:
                    stale = time.time() - os.path.getmtime(tdir) > stale_attempt_sec
                except OSError:  # concurrently renamed/removed
                    continue
                if stale:
                    shutil.rmtree(tdir, ignore_errors=True)
                continue
            try:
                entries = os.listdir(tdir)
            except OSError:  # concurrent GC removed it
                continue
            for d in entries:
                if f"{_TREE_DIR}/{tree}/{d}" not in referenced:
                    shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
            try:
                if not os.listdir(tdir):
                    os.rmdir(tdir)
            except OSError:
                pass
    mdir = os.path.join(local, _MANIFEST_DIR)
    if os.path.isdir(mdir):
        for name in os.listdir(mdir):
            m = re.match(r"^v(-?\d+)\.json$", name)
            if m and int(m.group(1)) not in keep:
                try:
                    os.remove(os.path.join(mdir, name))
                except FileNotFoundError:
                    pass


def _is_stale_snapshot_error(exc: BaseException) -> bool:
    """True when a failure's signature says "the manifest/files this merge
    planned against no longer exist" — the snapshot was superseded AND aged
    out of retention while this writer was computing (a competitor running
    ≥ merge_keep_versions commits ahead). Only actionable when the pointer
    has ALSO advanced; callers must check that before retrying, so a
    genuine data-loss error can never be silently absorbed."""
    if isinstance(exc, FileNotFoundError):
        return True
    msg = str(exc)
    return any(
        s in msg
        for s in ("FileNotFoundException", "PATH_NOT_FOUND", "does not exist")
    )


def _commit_merge_version(
    local: str,
    expected_version: int | None,
    new_version: int,
    attempt_dir: str,
    buckets: dict[str, str],
    layout: dict | None = None,
    schema: dict | None = None,
) -> bool:
    """The CAS commit step of the optimistic multi-writer protocol: under
    the state's advisory commit lock, (1) re-read the pointer — if another
    writer advanced it past ``expected_version`` the caller's merge was
    computed against a superseded snapshot, so return False WITHOUT touching
    anything (the caller re-merges and retries); (2) rename the
    attempt-unique staging tree to its final ``v<N>`` name; (3) write the
    manifest; (4) flip the pointer. The lock section holds two tiny file
    writes and one rename — contended writers wait microseconds, and the
    expensive merge compute stays outside. On an object store the same
    protocol is a conditional put (if-match on the pointer etag); the
    layout needs no change."""
    import fcntl
    import json
    import shutil

    with open(os.path.join(local, _COMMIT_LOCK_FILE), "a") as lf:
        fcntl.flock(lf, fcntl.LOCK_EX)
        try:
            if _pointer_version(local) != expected_version:
                return False
            tree = os.path.join(local, _TREE_DIR, f"v{new_version}")
            # a crashed WINNER may have renamed v<N> then died before its
            # manifest — unreferenced, so safe to replace
            shutil.rmtree(tree, ignore_errors=True)
            os.rename(attempt_dir, tree)
            os.makedirs(os.path.join(local, _MANIFEST_DIR), exist_ok=True)
            man = {"version": new_version, "buckets": buckets}
            if layout is not None:
                # the bucket-hash layout this version's rows were placed
                # under — later merges validate their spec against it (a
                # silently different hash would make the pruned path miss
                # a key's existing bucket and duplicate the key; r14
                # review finding), and keyed probers read n_buckets from
                # it instead of trusting a caller-supplied count
                man["layout"] = layout
            if schema is not None:
                # the committed files' (fused, read-back-relaxed) schema —
                # later commits, probes and reads resolve it from here
                # without a listing + footer inference job (see
                # _read_state)
                man["schema"] = schema
            _fsync_write(
                _manifest_path(local, new_version),
                json.dumps(man, sort_keys=True),
            )
            _fsync_write(
                os.path.join(local, _CURRENT_FILE),
                json.dumps({"version": new_version}),
            )  # COMMIT: the pointer flip is the one atomic step readers observe
            return True
        finally:
            fcntl.flock(lf, fcntl.LOCK_UN)


def _merge_file_sink(df: DataFrame, spec: SinkSpec) -> None:
    """SCD1 upsert into a file sink: latest version per ``merge_key`` wins,
    ordered by ``merge_order``; the incoming batch beats the stored state on
    order ties (re-loading the same batch is idempotent).

    Scale shape — BUCKET-PRUNED: state rows live in one immutable directory
    per ``pmod(xxhash64(merge_key), merge_buckets)`` bucket. A merge batch
    (1) computes the distinct bucket ids its keys touch — at most
    ``merge_buckets`` values, corpus-independent, so the driver-side
    collect is bounded by config, not data; (2) reads ONLY those buckets'
    directories (manifest pruning — untouched buckets are never listed, let
    alone opened); (3) applies one ``max(struct(order..., generation,
    payload...))`` aggregate keyed on the merge key — map-side combinable,
    exchange carries one row per key IN THE TOUCHED BUCKETS; (4) writes the
    merged buckets as a NEW immutable version tree and commits with a
    pointer flip. Untouched buckets are the same files afterwards (not
    re-encoded, not renamed, not opened — e2e byte-identity-tested), so
    per-batch cost is O(state-in-touched-buckets), not O(total state).
    Payload columns ride in the comparator as final deterministic
    tie-breakers, so they must be orderable types (no map columns in merge
    mode).

    Commit protocol — POINTER, not directory swap (the same
    manifest/_CURRENT indirection table formats use for atomic visibility
    on a dumb filesystem). Steps (1)-(3) above are this sink's plan step
    (:func:`_merge_plan`); everything after it is the staged-tree CAS loop
    :func:`_commit_loop`, shared with :func:`purge_tombstones` and
    :func:`compact_merge_state`:

    1. write the merged touched buckets under an attempt-unique
       ``_trees/.inprogress-*`` tree — invisible to every reader (nothing
       references it, and Spark's file listing skips underscore-prefixed
       directories);
    2. under the commit lock, rename it to ``_trees/v<N+1>/`` and write
       ``_manifests/v<N+1>.json`` mapping EVERY bucket id to its directory
       — touched buckets point into the new tree, untouched keep their
       existing (possibly much older) dirs;
    3. fsync + atomically rename ``_CURRENT`` to version N+1 — THE commit
       point: a reader resolves the pointer before or after, never between;
    4. GC everything unreachable from manifests N+1 and N — keeping N gives
       a concurrent reader that resolved the old pointer a one-commit grace
       window to finish its scan (snapshot retention; a reader two commits
       stale must re-resolve).

    A crash anywhere before (3) leaves orphans no reader can reach; the
    next commit's GC removes them. ``read_merge_state`` is the read path
    (``__mb`` rides INSIDE the files as a data column, so one multi-path
    scan restores it without partition inference).

    MULTI-WRITER: step (2) is an optimistic CAS — under the advisory commit
    lock the loop re-checks the pointer it planned against; if another
    writer advanced it, the attempt is discarded and the merge recomputed
    against the new snapshot (bounded retries, then
    :class:`...errors.MergeCommitConflictError`). History stays LINEAR:
    every committed version v(N+1) was computed from exactly v(N). A
    table-format sink (Delta/Iceberg MERGE) IS this protocol
    productionized — same conditional-commit loop; the keyed-argmax +
    pruned-rewrite plan is identical.

    A pointer-less directory that already holds files is not a merge state
    and is refused (a first commit would hide them). A batch that
    INTRODUCES new columns forces one full rewrite so all state files share
    a fused schema and readers need no ``mergeSchema``.

    KEYED DELETE: ``SinkSpec.delete_column`` names a BOOLEAN marker column;
    a batch row with the marker true is a TOMBSTONE retiring its key.
    Tombstones ride through the SAME keyed argmax as upserts — the
    merge_order decides, so a tombstone at order 5 beats an upsert at
    order 3 and loses to one at order 7, and replaying an OLD batch can
    never resurrect a newer delete (the Cassandra/Kafka-compaction
    tombstone discipline; physical removal here would let exactly that
    replay resurrect the key). The winning tombstone row is RETAINED in
    the state files; readers get the live view via
    ``read_merge_state(..., delete_col=...)``, the CDC feed classifies
    live→tombstone as ``delete`` and tombstone→live as ``insert``
    (``table_changes(..., delete_col=...)``), and
    :func:`purge_tombstones` physically drops retired keys on whatever
    grace schedule late-replay tolerance allows. The knob is the
    ``SinkSpec.delete_column`` field, as ``merge_bucket_columns`` is for
    the bucket layout; the pure-config validation matrix lives in
    ``spec.validate_merge_sink_keying`` — shared with
    ``PipelineSpec.validate`` so the YAML front door fails at plan time —
    and only the data-dependent boolean-dtype check stays here.
    """
    from ..spec import validate_merge_sink_keying

    spark = df.sparkSession
    path = spec.path
    local = _local(path)
    validate_merge_sink_keying(spec)
    bucket_cols = list(spec.resolved_merge_bucket_columns())
    delete_col = spec.delete_column
    if delete_col is not None:
        if delete_col in df.columns and dict(df.dtypes)[delete_col] != "boolean":
            raise ConfigError(
                f"delete_column {delete_col!r} must be boolean, got "
                f"{dict(df.dtypes)[delete_col]}"
            )
    # a first commit into a directory that already holds data would write
    # v0 beside those files and hide them from every reader
    if (
        _pointer_version(local) is None
        and os.path.isdir(local)
        and any(
            n.startswith(f"{MERGE_BUCKET_COL}=") or not n.startswith(("_", "."))
            for n in os.listdir(local)
        )
    ):
        raise ConfigError(
            f"merge sink {path}: the directory holds files but no "
            f"{_CURRENT_FILE} pointer, so it is not a merge state; merge into "
            "a new or empty path"
        )

    # bucket on merge_bucket_columns (default: the full merge key). A
    # STRICT SUBSET serves keyed-probe layouts — e.g. a postings index
    # keyed (term, doc_id) but bucketed by term alone, so a query-time
    # term probe opens only its terms' bucket directories instead of all
    # merge_buckets of them (the inverted-list read; see
    # operators/search.bm25_topk_indexed)
    mb = F.pmod(
        F.xxhash64(*[F.col(c) for c in bucket_cols]), F.lit(spec.merge_buckets)
    ).cast("int")
    # ONE evaluation of the incoming batch per commit: the merge needs the
    # batch twice — once to learn which buckets it touches (the pruning
    # probe) and once in the merge aggregate — and for computed deltas
    # (tokenized postings, decoded image hashes, ANN assignments)
    # re-running the producing plan doubles the increment's dominant cost.
    # Persisting the __gen-tagged frame bounds the second pass at a cache
    # read. The frame is unpersisted on every exit path; CAS retries reuse
    # it (the batch does not change between attempts).
    from ..session import aqe_cached_plan_scope

    # AQE inside the cached batch plan, scoped to this commit; the scope
    # must OPEN BEFORE .persist() — CacheManager binds the AQE-constrained
    # clone decision at cache-REGISTRATION time, so setting the flag after
    # persist is inert (see session.aqe_cached_plan_scope, and why it must
    # not be global either)
    with aqe_cached_plan_scope(spark):
        new = df.withColumn("__gen", F.lit(1)).persist()
        try:
            _commit_loop(
                spark,
                spec,
                lambda man: _merge_plan(spec, new, mb, man),
                "merge sink",
            )
        finally:
            new.unpersist()


class _Rewrite(NamedTuple):
    """One attempt's plan for :func:`_commit_loop`."""

    #: the rows to write, each carrying its MERGE_BUCKET_COL
    rows: DataFrame
    #: bucket ids the rows replace; None = every bucket (a full rewrite)
    touched: list[int] | None
    #: bucket-hash layout stamped into the new manifest
    layout: dict | None
    #: what the loop returns once the commit lands
    result: int = 0


def _merge_plan(
    spec: SinkSpec, new: DataFrame, mb, man: dict | None
) -> _Rewrite | None:
    """The merge sink's plan step: the keyed argmax of the batch ``new``
    (``__gen``-tagged, bucket expression ``mb``) over the snapshot ``man``
    names (None before a first commit). None for an empty batch against
    a non-empty state (nothing to commit)."""
    spark = new.sparkSession
    local = _local(spec.path)
    keys = list(spec.merge_key)
    order = list(spec.merge_order)
    layout = {
        "bucket_columns": list(spec.resolved_merge_bucket_columns()),
        "n_buckets": spec.merge_buckets,
    }
    touched: list[int] | None = None
    old = None
    if man is not None:
        # bucket-layout drift guard: the pruned path loads only the buckets
        # the SPEC's hash names — under a silently different layout a key's
        # existing row lives in a bucket the merge never loads, and the
        # state ends up with duplicate keys. A recorded layout that differs
        # from the spec is an error unless the caller opts into an explicit
        # full-rewrite migration. Manifests without a layout stamp can't be
        # validated — the layout is stamped from this commit on.
        committed_layout = man.get("layout")
        relayout = committed_layout is not None and committed_layout != layout
        if relayout and not spec.options.get("allow_relayout"):
            raise ConfigError(
                f"merge sink {spec.path}: committed bucket layout "
                f"{committed_layout} != spec layout {layout}; changing "
                "merge_buckets or merge_bucket_columns on an existing "
                "state requires options.allow_relayout: true (one full "
                "re-bucketing rewrite)"
            )
        bucket_dirs = man["buckets"]
        all_dirs = _bucket_dirs(local, bucket_dirs)
        # a zero-bucket state (first commit was an empty batch) has no
        # files: stay schema-less so the batch takes the plain
        # first-write path
        if all_dirs:
            old_schema = _read_state(
                spark, man, spec.type, all_dirs, schema_only=True
            )
            # a batch that INTRODUCES columns forces a one-time full
            # rewrite so every state file keeps one fused schema (readers
            # need no mergeSchema); steady-state batches — the hot path —
            # prune. An allowed RELAYOUT forces the same full rewrite
            # (every row re-hashes under the new layout).
            evolves = relayout or bool(
                set(new.columns) - {"__gen"} - set(old_schema.fieldNames())
            )
            if evolves:
                old = _read_state(spark, man, spec.type, all_dirs, old_schema)
            else:
                # ≤ merge_buckets rows — bounded by CONFIG, never by data
                # size. Probed over the PERSISTED frame so the batch plan
                # runs once per commit, not once here and again in the
                # merge write.
                touched = sorted(
                    r.b for r in new.select(mb.alias("b")).distinct().collect()
                )
                if not touched:
                    # empty batch: state unchanged, no new version. The
                    # probe already executed the (empty) batch plan, so
                    # caller-attached observers (the pipeline report's row
                    # count) have fired.
                    return None
                tdirs = [
                    os.path.join(local, bucket_dirs[str(b)])
                    for b in touched
                    if str(b) in bucket_dirs
                ]
                if tdirs:
                    old = _read_state(spark, man, spec.type, tdirs, old_schema)
    if old is not None:
        old = old.drop(MERGE_BUCKET_COL).withColumn("__gen", F.lit(0))
        both = old.unionByName(new, allowMissingColumns=True)
    else:
        both = new
    payload = [c for c in both.columns if c not in keys and c != "__gen"]
    for c in order:
        if c not in payload:
            raise ConfigError(f"merge_order column {c!r} missing from the data")
    ride = [c for c in payload if c not in order]
    merged = (
        both.groupBy(*keys)
        .agg(F.max(F.struct(*order, F.col("__gen"), *ride)).alias("m"))
        .select(*keys, *[F.col(f"m.{c}").alias(c) for c in payload])
        .withColumn(MERGE_BUCKET_COL, mb)
    )
    return _Rewrite(merged, touched, layout)


def _commit_loop(spark, spec: SinkSpec, plan, what: str) -> int:
    """The staged-tree CAS loop every merge-state commit goes through: the
    merge sink, :func:`purge_tombstones` and :func:`compact_merge_state`
    differ only in ``plan(manifest)``, which returns the
    :class:`_Rewrite` to commit against that snapshot (the manifest is
    None before a first commit), or None for "nothing to commit" (the
    loop then returns 0). Each attempt:

    1. plans against the snapshot the pointer names;
    2. writes the plan's rows CLUSTERED BY BUCKET DIR under an
       attempt-unique ``.inprogress-*`` tree (concurrent writers never
       share a Spark output directory);
    3. builds the next bucket map from the dirs written: untouched buckets
       keep their dirs, written ones are replaced, and a touched bucket
       that came out empty drops out;
    4. CAS-commits through :func:`_commit_merge_version`, then GCs.

    A lost CAS means another writer's commit landed mid-attempt — the
    staged tree lacks that writer's rows in the shared buckets — so it is
    discarded and the plan recomputed against the new snapshot; so is an
    attempt whose snapshot was superseded AND aged out of retention
    mid-compute (a competitor ≥ merge_keep_versions commits ahead).
    Conflict cost is one recompute per conflict; the winner is never
    blocked. After ``_MERGE_COMMIT_RETRIES`` losses in a row:
    :class:`...errors.MergeCommitConflictError`."""
    import shutil
    import uuid

    from ..errors import MergeCommitConflictError

    local = _local(spec.path)
    for _attempt in range(_MERGE_COMMIT_RETRIES):
        version = _pointer_version(local)
        attempt_dir = os.path.join(
            local, _TREE_DIR, f"{_INPROGRESS_PREFIX}{uuid.uuid4().hex[:12]}"
        )
        # the WHOLE read-plan-write sequence sits inside the stale-snapshot
        # retry: the manifest read and the plan's own collects and counts
        # read the snapshot too
        try:
            man = _load_manifest(local, version) if version is not None else None
            step = plan(man)
            if step is None:
                return 0
            rows = step.rows.withColumn(
                MERGE_BUCKET_DIR_COL, F.col(MERGE_BUCKET_COL)
            )
            # Cluster the write BY BUCKET DIR: without this, AQE coalesces
            # the plan to few tasks and ONE task writes every touched
            # bucket's dynamic partition sequentially, and at scale many
            # tasks each holding many buckets write tasks x buckets small
            # files. Hashing on the dir column gives each bucket exactly
            # one writer task — parallel dir writes, one file per bucket
            # per commit. Explicit partition count so AQE cannot coalesce
            # the parallelism away: one task per bucket written, capped by
            # the cluster's parallelism.
            n_dirs = (
                len(step.touched) if step.touched is not None
                else spec.merge_buckets
            )
            rows = rows.repartition(
                max(1, min(n_dirs, spark.sparkContext.defaultParallelism)),
                F.col(MERGE_BUCKET_DIR_COL),
            )
            if spec.sort_by:
                # per-file clustering INSIDE each bucket dir — bucket dir
                # FIRST so the dynamic-partition writer's required ordering
                # is already satisfied and Spark inserts no re-sort that
                # would discard the secondary keys — makes each file's
                # row-group min/max stats tight on the sort columns, so a
                # probe predicate that is NOT a bucket column (the ANN
                # codes index's `cid IN (...)`) skips row groups
                rows = rows.sortWithinPartitions(
                    MERGE_BUCKET_DIR_COL, *spec.sort_by
                )
            rows.write.mode("overwrite").format(spec.type).partitionBy(
                MERGE_BUCKET_DIR_COL
            ).save(attempt_dir)
        except Exception as exc:  # noqa: BLE001 — stale-snapshot retry only
            if _is_stale_snapshot_error(exc) and _pointer_version(local) != version:
                shutil.rmtree(attempt_dir, ignore_errors=True)
                continue
            raise
        new_version = (version if version is not None else -1) + 1
        tree_rel = f"{_TREE_DIR}/v{new_version}"
        buckets: dict[str, str] = {}
        if step.touched is not None:
            touched = {str(b) for b in step.touched}
            buckets = {
                b: rel for b, rel in man["buckets"].items() if b not in touched
            }
        buckets.update(
            (name.split("=", 1)[1], f"{tree_rel}/{name}")
            for name in os.listdir(attempt_dir)
            if name.startswith(f"{MERGE_BUCKET_DIR_COL}=")
        )
        if _commit_merge_version(
            local, version, new_version, attempt_dir, buckets, step.layout,
            # the committed (fused) schema, known right here on the write
            # side — later commits, probes and reads resolve it from the
            # manifest without a listing + footer job
            _stamp_schema(rows.schema, spec.type),
        ):
            _gc_merge_state(local, spec.merge_keep_versions)
            return step.result
        shutil.rmtree(attempt_dir, ignore_errors=True)
    raise MergeCommitConflictError(
        f"{what} {spec.path}: lost the commit CAS {_MERGE_COMMIT_RETRIES} "
        "times in a row — state is consistent (competing writers' commits "
        "landed); re-run to commit against the newest snapshot"
    )


def _rewrite_without(spark, spec: SinkSpec, split, op_name: str) -> int:
    """Shared maintenance plan step: drop a subset of rows from a
    merge-sink state by rewriting ONLY the buckets that hold them,
    committed through :func:`_commit_loop` like a merge.
    ``split(frame)`` returns ``(victims, survivors)`` — two complementary
    row subsets of any state frame (a filter and its negation, or a
    semi-join and its anti-join; complementary halves beat a generic
    exceptAll, which would shuffle-aggregate every column including
    arrays) — or None for "nothing to do, no commit".

    Scale shape: the touched-bucket discovery collects ≤ ``merge_buckets``
    ids (bounded by CONFIG), the rewrite reads only touched directories,
    untouched buckets keep their existing files, and a bucket left EMPTY
    drops out of the new manifest. The committed layout rides into the new
    manifest unchanged (maintenance never re-buckets). Returns the victim
    row count (0 = no commit made)."""
    local = _local(spec.path)
    _current_version(spec.path)  # maintenance needs an existing state

    def plan(man: dict) -> _Rewrite | None:
        bucket_dirs = man["buckets"]
        all_dirs = _bucket_dirs(local, bucket_dirs)
        if not all_dirs:
            return None
        halves = split(_read_state(spark, man, spec.type, all_dirs))
        if halves is None:
            return None
        # ≤ merge_buckets rows — bounded by CONFIG, never by data size
        touched = sorted(
            r.b
            for r in halves[0].select(F.col(MERGE_BUCKET_COL).alias("b"))
            .distinct()
            .collect()
        )
        if not touched:
            return None
        tdirs = [
            os.path.join(local, bucket_dirs[str(b)])
            for b in touched
            if str(b) in bucket_dirs
        ]
        victims, survivors = split(_read_state(spark, man, spec.type, tdirs))
        return _Rewrite(survivors, touched, man.get("layout"), victims.count())

    return _commit_loop(spark, spec, plan, op_name)


def purge_tombstones(spark, spec: SinkSpec) -> int:
    """Physically drop tombstoned keys from a merge-sink state — the GC
    half of the keyed-DELETE story (r14): :func:`_merge_file_sink` RETAINS
    the winning tombstone rows so a late replay of an old batch cannot
    resurrect a deleted key; this op reclaims them once the deployment's
    late-replay grace window has passed (the Cassandra ``gc_grace``
    discipline — after a purge, a replay of a batch OLDER than the purged
    tombstone could re-insert the key; run purges on a schedule slower
    than the slowest legitimate replayer).

    The rewrite is :func:`_rewrite_without`'s plan step: marker-true rows
    are the victims (found via a columnar marker-only scan — row-group
    stats skip tombstone-free files) and only their buckets are rewritten.
    The commit is the merge sink's own staged-tree CAS loop
    (:func:`_commit_loop`): same attempt trees, clustered write, stale
    snapshot retry, pointer flip and GC. The purge is CDC-invisible by
    construction: a version diff read with ``delete_col`` filters
    tombstones from BOTH snapshots, so the feed for a purge commit is
    empty — physical GC, not a logical change.

    Returns the number of tombstone rows purged (0 = no commit made).
    """
    marker = spec.delete_column
    if marker is None:
        raise ConfigError(
            "purge_tombstones requires delete_column on the sink spec "
            "(the state has no tombstone marker to purge without it)"
        )

    def split(state):
        if marker not in state.columns:
            return None  # no batch ever carried the marker
        dead = F.coalesce(F.col(marker), F.lit(False))
        return state.filter(dead), state.filter(~dead)

    return _rewrite_without(spark, spec, split, "purge_tombstones")


def compact_merge_state(
    spark, spec: SinkSpec, stale, on: list[str] | None = None
) -> int:
    """Physically remove every state row matching ``stale`` on columns
    ``on`` (default: the full merge key) — the maintenance op for derived
    states whose upstream deletes arrive OUT OF BAND (r14, VERDICT r13
    item 4: the ANN index documents a stale-on-delete posture; this
    closes it). ``stale`` is typically an anti-join of the state's keys
    against the current corpus — see
    :func:`...operators.similarity.ann_index_compact`.

    Same :func:`_rewrite_without` discipline as :func:`purge_tombstones`:
    victim discovery is a semi-join (Catalyst picks broadcast when
    ``stale`` is small — the usual case for a deletion batch), only
    victim-holding buckets are rewritten through the shared
    :func:`_commit_loop`, fully-stale buckets drop out of the manifest.
    Like a purge, the compaction removes rows a ``delete_col`` CDC read
    never saw as live content — run it after the corresponding upstream
    retirements have been delivered downstream, on the same gc-grace
    reasoning.

    ``stale`` may be a DataFrame or a ZERO-ARG CALLABLE returning one.
    Pass a callable whenever the victim set derives from a merge-state
    read (r15 advisor finding: a frame resolved BEFORE the retry loop
    keeps its planned file list, so when a concurrent writer commits and
    GC ages that snapshot out mid-job, every retry re-evaluates the same
    dead plan and the op fails even though a fresh read would succeed) —
    the callable re-plans from the CURRENT pointer on each evaluation.

    Returns the number of rows removed (0 = no commit made)."""
    cols = [str(c) for c in (on if on is not None else spec.merge_key)]

    def fresh_stale():
        s = stale() if callable(stale) else stale
        return s.select(*cols).distinct()

    def split(state):
        s = fresh_stale()
        return (
            state.join(s, cols, "left_semi"),
            state.join(s, cols, "left_anti"),
        )

    return _rewrite_without(spark, spec, split, "compact_merge_state")


def dedup_corpus_sink_fn(spec: SinkSpec):
    """Build the per-batch body for a ``dedup_corpus`` sink from its spec —
    shared by the batch path (one ingestion unit, ``options.batch_tag``) and
    the streaming path (real micro-batch ids): corpus appends land in
    batch-scoped idempotent dirs, the dedup state merges bucket-pruned, and
    the claim column makes retries exactly-once (see
    ``streaming/ingest.incremental_dedup_sink`` /
    ``incremental_neardup_sink``). Distinct pipelines feeding ONE corpus
    must use disjoint batch_tag/checkpoint namespaces — claims collide
    otherwise."""
    from ..streaming.ingest import (
        incremental_dedup_sink,
        incremental_neardup_sink,
        incremental_semantic_sink,
        incremental_semantic_two_level_sink,
    )

    o = spec.options
    if o.get("semantic_two_level"):
        # the √k×√k crawl loop for corpora past the flat-k broadcast cap
        # (r6): both centroid levels persist under options.centroids
        return incremental_semantic_two_level_sink(
            str(o["state"]),
            spec.path,
            str(o["centroids"]),
            vec_col=str(o.get("vector_column", "embedding")),
            id_col=str(o.get("id_column", "vec_id")),
            merge_buckets=int(o.get("merge_buckets", 64)),
            coarse_k=int(o["coarse_k"]) if o.get("coarse_k") is not None else None,
            sub_k=int(o["sub_k"]) if o.get("sub_k") is not None else None,
            threshold_micro=int(o.get("threshold_micro", 250_000)),
        )
    if o.get("semantic"):
        return incremental_semantic_sink(
            str(o["state"]),
            spec.path,
            str(o["centroids"]),
            vec_col=str(o.get("vector_column", "embedding")),
            id_col=str(o.get("id_column", "vec_id")),
            merge_buckets=int(o.get("merge_buckets", 64)),
            k=int(o["k"]) if o.get("k") is not None else None,
            threshold_micro=int(o.get("threshold_micro", 250_000)),
        )
    kwargs = dict(
        text_col=str(o.get("text_column", "text")),
        id_col=str(o.get("id_column", "doc_id")),
        merge_buckets=int(o.get("merge_buckets", 64)),
    )
    if o.get("near"):
        kwargs["min_matches"] = int(o.get("min_matches", 12))
        return incremental_neardup_sink(str(o["state"]), spec.path, **kwargs)
    return incremental_dedup_sink(str(o["state"]), spec.path, **kwargs)


def _render_variants(df: DataFrame, sink_type: str) -> DataFrame:
    """VARIANT columns → canonical JSON text for sink formats that cannot
    store variant natively (csv, ORC — probed on Spark 4.1.2; parquet,
    json-lines, and xml all write it natively). Without this, a
    ``json_type: variant`` pipeline into a csv sink dies at write time
    with UNSUPPORTED_DATA_TYPE_FOR_DATASOURCE, misclassified as a
    user-data error because 'CSV' is a user-data message marker (r12
    review finding 1). ``to_json`` is the lossless inverse of
    ``parse_json`` for JSON-sourced values, so the rendered text
    round-trips through the engine's own json-typed sources."""
    if sink_type not in ("csv", "orc"):
        return df
    for f in df.schema.fields:
        if f.dataType.simpleString() == "variant":
            # backticked: a dotted top-level column name must not resolve
            # as a struct-field path (the r8 dotted-name trap)
            safe = f.name.replace("`", "``")
            df = df.withColumn(f.name, F.to_json(F.col(f"`{safe}`")))
    return df


def prepare_file_sink(df: DataFrame, spec: SinkSpec) -> tuple[DataFrame, dict]:
    """Shared file-sink preparation: variant rendering + per-format writer
    option defaults. Used by BOTH the batch writer below and the streaming
    ``writeStream`` branch (plans/compiler.run_pipeline_streaming) — r12
    review finding: the streaming csv sink passed raw spec options only,
    skipping the quote/escape/header defaults, so the same spec produced
    backslash-escaped, headerless files the engine's own csv source could
    not read back (a silent batch/stream parity break)."""
    df = _render_variants(df, spec.type)
    opts = dict(spec.options)
    if spec.type == "csv":
        # quote/escape default to the reference formatter's ('"'/'"',
        # embulk_mapred_config.yml:44-50); Spark's writer default escape is
        # backslash, which the engine's own csv SOURCE (also '"'-escape, like
        # the reference parser) could not read back
        opts = {
            "header": True,
            "quote": '"',
            "escape": '"',
            "timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS",
            # Spark's csv WRITER trims leading/trailing whitespace by
            # default (Univocity write-side flags) — silent value
            # corruption the reference formatter does not do
            "ignoreLeadingWhiteSpace": False,
            "ignoreTrailingWhiteSpace": False,
            **opts,
        }
        # reference csv FORMATTER options (embulk_mapred_config.yml:42-50)
        # → spark writer options; symbolic newline (CRLF|LF|CR) becomes the
        # literal separator
        from ..sources.readers import NEWLINE_LITERALS

        for ref_key, spark_key in (
            ("charset", "encoding"),
            ("newline", "lineSep"),
            ("delimiter", "sep"),
            ("null_string", "nullValue"),
        ):
            if ref_key in opts:
                opts[spark_key] = opts.pop(ref_key)
        if "lineSep" in opts:
            opts["lineSep"] = NEWLINE_LITERALS.get(
                str(opts["lineSep"]).upper(), opts["lineSep"]
            )
        # reference csv formatter per-column timestamp OUTPUT formats
        # (column_options: {col: {format: '%Y-%m-%d %H:%M:%S'}},
        # embulk_mapred_config.yml:47-50). Spark's writer has one global
        # timestampFormat, so per-column formats are applied as explicit
        # date_format projections before the write — the exact mirror of the
        # source side's per-column parse (_apply_column_formats).
        col_opts = opts.pop("column_options", None)
        if col_opts:
            from ..sources.readers import _strptime_to_java

            for name, co in dict(col_opts).items():
                fmt = co.get("format") if isinstance(co, dict) else co
                if not fmt:
                    continue
                if name not in df.columns:
                    raise ConfigError(
                        f"column_options names unknown column {name!r}"
                    )
                df = df.withColumn(
                    name, F.date_format(F.col(name), _strptime_to_java(str(fmt)))
                )
    if spec.type == "xml":
        # Spark 4 native XML writer. rowTag/rootTag defaults pair with the
        # engine's xml SOURCE; timestampFormat carries microseconds so a
        # write→read roundtrip is lossless at TimestampType precision.
        opts = {
            "rowTag": "row",
            "rootTag": "rows",
            "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
            **opts,
        }
    if spec.type in ("parquet", "orc"):
        # declarative bloom filters for point-lookup file skipping: at
        # 100 TB a key probe against a sorted-but-unindexed lake reads
        # every row group whose min/max straddles the key — blooms prune
        # row groups by membership instead. `bloom_filters: [col, ...]`
        # or `{col: expected_ndv}`. Caveat (documented, parquet-mr
        # behavior): a fully dictionary-encoded column chunk skips its
        # bloom (the dictionary already filters exactly) — the option
        # only grows files where it can help. Pairs with sort_by (the
        # min/max half of data skipping).
        blooms = opts.pop("bloom_filters", None)
        if blooms:
            cols = list(blooms)  # dict form yields its keys
            missing = [c for c in cols if c not in df.columns]
            if missing:
                raise ConfigError(
                    f"bloom_filters names unknown column(s) {missing}; "
                    f"frame has {df.columns}"
                )
            if spec.type == "parquet":
                for c in cols:
                    opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
                    if isinstance(blooms, dict) and blooms[c]:
                        opts[f"parquet.bloom.filter.expected.ndv#{c}"] = str(
                            int(blooms[c])
                        )
            else:
                # ORC sizes blooms via a global fpp, not per-column ndv —
                # silently dropping a user's ndv sizing would hand back
                # default-sized filters with a much higher false-positive
                # rate than requested (r12 review finding)
                if isinstance(blooms, dict) and any(blooms.values()):
                    raise ConfigError(
                        "expected-ndv bloom sizing is parquet-only; for orc "
                        "pass bloom_filters as a list and tune "
                        "options.'orc.bloom.filter.fpp' instead"
                    )
                opts["orc.bloom.filter.columns"] = ",".join(cols)
    if spec.type == "text":
        # one line per row: exactly one string payload column (partition /
        # internal dunder columns ride as directory layout) — checked here
        # so the failure is a plan-time ConfigError naming the columns, not
        # the datasource's runtime complaint
        payload = [
            (n, t)
            for n, t in df.dtypes
            if n not in set(spec.partition_by) and not n.startswith("__")
        ]
        if len(payload) != 1 or payload[0][1] != "string":
            raise ConfigError(
                "text sink requires exactly one string payload column "
                f"(got {payload}); select/cast the line column before the "
                "sink, or use the ltsv sink for multi-column records"
            )
    if spec.type == "ltsv":
        # LTSV formatter (embulk-formatter-ltsv analog): render each record
        # as `label:value<TAB>...` into one string column for the text
        # writer. Timestamps carry microseconds so the engine's ltsv SOURCE
        # default parse format reads them back losslessly. Partition columns
        # and internal dunder columns (e.g. the partitioning __bucket) stay
        # real columns — they land in the directory layout, not the line,
        # like every other file format under partitionBy.
        ns = str(opts.pop("null_string", ""))
        keep = set(spec.partition_by)
        fields = []
        kept_cols = []
        for name, dtype in df.dtypes:
            if name in keep or name.startswith("__"):
                kept_cols.append(name)
                continue
            if ":" in name or "\t" in name:
                raise ConfigError(
                    f"column name {name!r} cannot be an LTSV label "
                    "(contains ':' or tab); rename it before the sink"
                )
            col = F.col(name)
            if dtype == "timestamp":
                s = F.date_format(col, "yyyy-MM-dd HH:mm:ss.SSSSSS")
            else:
                s = col.cast("string")
            s = F.coalesce(s, F.lit(ns))
            # LTSV has no quoting — a tab/newline inside a value is
            # unrepresentable, so it's a loud data-contract failure
            # (user-data classified), never silent corruption
            s = F.when(
                s.rlike("[\\t\\n\\r]"),
                F.raise_error(
                    F.concat(
                        F.lit(f"LTSV value for {name!r} contains tab/newline: "),
                        s,
                    )
                ).cast("string"),
            ).otherwise(s)
            fields.append(F.concat(F.lit(name + ":"), s))
        df = df.select(
            F.concat_ws("\t", *fields).alias("value"), *kept_cols
        )
    return df, opts


def write_sink(df: DataFrame, spec: SinkSpec, bucket_col: str | None = None) -> None:
    if spec.type == "dedup_corpus":
        dedup_corpus_sink_fn(spec)(df, int(spec.options.get("batch_tag", 0)))
        compact = spec.options.get("compact")
        if compact:
            # spec-driven corpus maintenance: fold committed batch dirs into
            # size-targeted generations (and bound the generation count) as
            # part of the load, so a pure-YAML user never accumulates the
            # small-dirs problem the Python API solves with compact_corpus
            from .compact import compact_corpus

            c = compact if isinstance(compact, dict) else {}
            compact_corpus(
                df.sparkSession,
                spec.path,
                target_file_bytes=int(
                    c.get("target_file_bytes", 512 * 1024 * 1024)
                ),
                max_generations=int(c.get("max_generations", 8)),
            )
        return
    if spec.type == "null":
        # still execute the plan (reference NullOutputFormat still runs tasks)
        df.write.format("noop").mode("overwrite").save()
        return
    if spec.type == "memory":
        # EAGER by default (verify-probe regression, r6): a lazy temp view
        # defers the whole plan, so a FAILFAST parse error under
        # stop_on_invalid_record surfaced later — raw, outside run_pipeline's
        # error classification — while the report claimed success. cache() +
        # count() executes the plan NOW (errors classify; observe() metrics
        # fire) and the view serves from the materialized cache.
        # options.eager=false restores the lazy view for plans too big to pin.
        eager = str(spec.options.get("eager", "true")).lower() != "false"
        if eager:
            df = df.cache()
        df.createOrReplaceTempView(spec.options.get("view", "pipeline_out"))
        if eager:
            df.count()
        return
    if spec.mode == "merge":
        _merge_file_sink(df, spec)
        return
    df, opts = prepare_file_sink(df, spec)
    if spec.sort_by and spec.type != "table":
        # per-file clustering for data skipping: sorting WITHIN write
        # partitions (no extra exchange) makes each parquet/orc row group's
        # min/max stats selective on the sort keys, so later scans with
        # predicates on those columns prune row groups instead of reading
        # them — the cheap half of Z-ordering, free at write time
        df = df.sortWithinPartitions(*spec.sort_by)
    writer = df.write.mode(spec.mode).options(**opts)
    if spec.partition_overwrite == "dynamic":
        # overwrite replaces ONLY the partitions present in this batch —
        # idempotent re-load of one day rewrites that day's directories and
        # leaves every other bucket untouched (per-write option, not a
        # session-global conf)
        writer = writer.option("partitionOverwriteMode", "dynamic")
    part_cols = list(spec.partition_by)
    if spec.partition_by_bucket:
        if not bucket_col:
            raise ConfigError("partition_by_bucket requires a partitioning block")
        part_cols = [bucket_col, *part_cols]
    if part_cols:
        writer = writer.partitionBy(*part_cols)
    if spec.type == "table":
        # managed (optionally hash-BUCKETED) table: two tables bucketed by the
        # same key and count join with ZERO exchanges — the co-located-join
        # layout for repeated large joins at 100 TB (Spark reads each bucket
        # pair as one task; bucket metadata lives in the catalog)
        if spec.mode == "overwrite":
            # the in-memory catalog forgets tables between sessions but their
            # warehouse locations persist; a stale location fails CREATE with
            # LOCATION_ALREADY_EXISTS — drop both for overwrite semantics
            import shutil
            from urllib.parse import urlparse

            session = df.sparkSession
            session.sql(f"DROP TABLE IF EXISTS {spec.table}")
            wh = urlparse(session.conf.get("spark.sql.warehouse.dir", "")).path
            if wh and "." not in spec.table:
                shutil.rmtree(f"{wh}/{spec.table.lower()}", ignore_errors=True)
        if spec.bucket_by:
            writer = writer.bucketBy(spec.buckets, *spec.bucket_by)
            if spec.sort_by:
                writer = writer.sortBy(*spec.sort_by)
        writer.format(spec.options.get("format", "parquet")).saveAsTable(spec.table)
        return
    if spec.type == "parquet":
        writer.parquet(spec.path)
    elif spec.type == "csv":
        writer.csv(spec.path)
    elif spec.type == "json":
        writer.json(spec.path)
    elif spec.type == "orc":
        writer.orc(spec.path)
    elif spec.type == "xml":
        writer.format("xml").save(spec.path)
    elif spec.type in ("ltsv", "text"):
        writer.text(spec.path)
    else:
        raise ConfigError(f"unknown sink type {spec.type!r}")
