"""Declarative pipeline spec: ``in → filters → out`` (+ ``partitioning``).

Faithful to the reference's config shape (an Embulk YAML with an ``exec:
{type: mapreduce}`` block — reference ``embulk_mapred_config.yml``,
``MapReduceExecutorTask.java:17-75``) but compiled onto DataFrames. The spec is
plain dataclasses loadable from a dict (YAML parsing is a thin wrapper — PyYAML
is gated behind an import-try since the container may lack it; JSON and dicts
always work).

Validation happens here at plan time, mirroring the reference's config-time
``ConfigException`` matrix (SURVEY.md §5.1 layer 2).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

from .errors import ConfigError, PartitionError
from .operators.partitioning import MAX_SPLIT, UNIT_SECONDS, UNIX_UNIT_DIVISOR
from .types import ColumnSpec

_SOURCE_TYPES = {
    "parquet",
    "csv",
    "json",
    "orc",
    "xml",
    "task",
    "binaryfile",
    "text",
    # embulk parser-plugin analogs over the text source (public ecosystem
    # plugins parser-ltsv / parser-regex) — expression-only parse chains
    # with csv-parity invalid-record policy (sources/lineparsers.py)
    "ltsv",
    "regex",
    # managed (possibly bucketed) table — the read-back of the "table" SINK:
    # a standing dataset whose bucketBy layout feeds co-located joins /
    # zero-edge-exchange pagerank (SCALING.md §3 decision rule) straight
    # from the scan, no path plumbing
    "table",
    # CDC change feed of a merge-sink state (sinks/changes.table_changes):
    # the read-back of the "merge" SINK's per-commit diffs as a declarative
    # `in` block, so drift gates / enrichment over a feed run from pure
    # YAML (the reference's config-first UX, embulk_mapred_config.yml) —
    # VERDICT r10 item 1
    "table_changes",
    # direct read-back of the "merge" SINK's keyed state (r12): resolves
    # the _CURRENT pointer → manifest → bucket dirs (sinks/writer.
    # read_merge_state), optionally time-traveling to a retained version
    # via options.version. Without this a user has NO declarative way to
    # read a state they wrote declaratively — and `type: parquet` on a
    # pointer-era state silently reads ZERO rows (underscore-prefixed
    # dirs), which the parquet source now rejects loudly.
    "merge_state",
}
_SINK_TYPES = {
    "parquet",
    "csv",
    "json",
    "orc",
    "xml",
    # LTSV formatter via the text writer (embulk-formatter-ltsv analog;
    # pairs with the ltsv SOURCE for lossless roundtrips)
    "ltsv",
    # raw line-oriented output (one string column → one line per row) —
    # the write side of the text SOURCE, for C4-style corpus exports and
    # log-line fixtures the regex source parses back
    "text",
    "null",
    "memory",
    "table",
    "dedup_corpus",
}
_FILTER_TYPES = {
    "select",
    "drop",
    "rename",
    "cast",
    "filter",
    "with_column",
    "pandas",  # row-level plugin escape hatch (reference FilterPlugin slot, O3)
    # relational stages (extension surface, SURVEY.md §2.4): the spec carries
    # the full analytic pipeline, not just row-level transforms
    "join",
    "aggregate",
    "dedup",
    "sort",
    "limit",
    "sql",
    "pagerank",  # edge list → (node, rank) centrality (operators/graph.py)
    # web-corpus front door: append canon_url/host/registrable_domain from a
    # surface-URL column (operators/web.py — pure JVM expressions, map-only);
    # composes with the dedup / sample_k_per_group stages for URL-level
    # dedup and per-domain caps declared entirely in the spec
    "url_canonicalize",
    "sample_k_per_group",  # per-group cap / deterministic k-per-class sample
    # training-data text stages (operators/text.py + dedup.py at the config
    # surface — operators/filters.py docstring documents each config shape):
    # append-semantics projections ride a struct-pack (map-only, streamable);
    # repetition_stats / minhash_dedup are id-keyed aggregates (batch-only)
    "text_stats",
    "quality_score",
    "language_id",
    "token_count",
    "fingerprint",
    "pii_scrub",
    "repetition_stats",
    "minhash_dedup",
    "chunk",  # token-window training-example fan-out (map-only, streamable)
    "decontaminate",  # drop benchmark-leaking docs (minhash or exact n-gram)
    # drop rows whose key already exists in a landed state (typically a
    # merge_state source block) — exact anti-join through the bloom-bitmap
    # runtime prefilter (operators/runtimefilter.py); batch-only (the
    # streaming analog is the dedup_corpus sink's claim-tag loop)
    "anti_state",
    # cross-version data-quality gate over a table_changes source (one fused
    # groupBy(_commit_version) pass; gate: true fails the load in-plan on an
    # out-of-bounds commit — operators/constraints.drift_report)
    "drift_report",
}


@dataclass(frozen=True)
class SourceSpec:
    type: str
    path: str | None = None
    columns: tuple[ColumnSpec, ...] = ()
    options: dict[str, Any] = field(default_factory=dict)
    # csv parse semantics (reference embulk_mapred_config.yml:14-37)
    stop_on_invalid_record: bool = False
    # extension: write structurally-invalid records (raw line + source file)
    # as JSON to this path instead of silently dropping them — the 100 TB
    # operability path for the reference's log-and-skip behavior
    invalid_record_path: str | None = None
    # plugin-style source: number of parallel input tasks + a task fn name
    task_count: int | None = None
    # type == "table": managed-table name (read-back of the table sink)
    table: str | None = None
    # type == "table_changes": the merge-sink CDC feed as a source. `path`
    # is the merge state root; `keys` the sink's merge_key columns;
    # `options.format` the sink's storage format (default parquet). The
    # feed covers (from_version, to_version] per-commit when per_version,
    # else the net endpoint diff; use_changelog picks the provenance
    # (None = auto: persisted changelog when fully covered, recompute
    # otherwise — see sinks/changes.table_changes)
    keys: tuple[str, ...] = ()
    from_version: int | None = None
    to_version: int | None = None
    per_version: bool = False
    use_changelog: bool | None = None


@dataclass(frozen=True)
class FilterSpec:
    type: str
    config: dict[str, Any] = field(default_factory=dict)


@dataclass(frozen=True)
class PartitioningSpec:
    """Reference ``partitioning:`` block (``TimestampPartitioning.java:122-150``).

    ``type`` names the strategy; ``"timestamp"`` is the only one, exactly
    as the reference ships (its ``Partitioning`` SPI,
    ``Partitioning.java:1-12``, has a single implementation), and an
    unknown name raises at config time with the known-strategy list."""

    type: str = "timestamp"
    unit: str = "hour"
    column: str = ""
    unix_timestamp_unit: str = "sec"
    map_side_partition_split: int = 1

    def validate(self) -> None:
        if self.type != "timestamp":
            raise PartitionError(
                f"unknown partitioning type {self.type!r}: known strategies "
                "are ['timestamp']"
            )
        if self.unit not in UNIT_SECONDS:
            raise PartitionError(f"unknown partitioning unit {self.unit!r}")
        if not self.column:
            raise PartitionError("partitioning.column is required")
        if self.unix_timestamp_unit not in UNIX_UNIT_DIVISOR:
            raise PartitionError(
                f"unknown unix_timestamp_unit {self.unix_timestamp_unit!r}"
            )
        if not (1 <= self.map_side_partition_split <= MAX_SPLIT):
            raise PartitionError(
                f"map_side_partition_split must be in [1, {MAX_SPLIT}]"
            )


@dataclass(frozen=True)
class SinkSpec:
    type: str
    path: str | None = None
    mode: str = "overwrite"
    options: dict[str, Any] = field(default_factory=dict)
    partition_by_bucket: bool = False  # directory layout per time bucket (O10)
    partition_by: tuple[str, ...] = ()  # general hive-style column layout
    # type == "table": managed bucketed table (co-located joins at scale —
    # two tables bucketed by the same key/count join with ZERO exchanges)
    table: str | None = None
    bucket_by: tuple[str, ...] = ()
    buckets: int = 0
    sort_by: tuple[str, ...] = ()
    # "dynamic": an overwrite touches ONLY the partitions present in the
    # incoming batch (idempotent re-load of one day/bucket leaves the rest of
    # the dataset intact); "static" (Spark default) truncates everything
    partition_overwrite: str = "static"
    # mode == "merge" (SCD1 upsert): keep the latest version per merge_key,
    # versions ordered by merge_order (incoming batch wins order ties)
    merge_key: tuple[str, ...] = ()
    merge_order: tuple[str, ...] = ()
    # merge state is laid out in pmod(xxhash64(merge_key), merge_buckets)
    # directories; a merge batch rewrites ONLY the buckets its keys touch —
    # per-batch cost scales with the batch's key spread, not the total state
    merge_buckets: int = 64
    # committed snapshots retained by the pointer-commit GC: 2 = current +
    # previous (the minimum that keeps a concurrent reader's resolved file
    # list alive across one commit); more buys read_merge_state(version=N)
    # time-travel depth for reproducible training reads
    merge_keep_versions: int = 2
    # keyed DELETE (r14 semantics, promoted to a first-class field in r15
    # per VERDICT r14 item 4): a boolean PAYLOAD column marking tombstone
    # rows — a marker-true batch row RETIRES its merge_key through the
    # same keyed argmax as an upsert (merge_order decides precedence, so
    # replays cannot resurrect newer deletes). The winning tombstone is
    # retained; the live view is read_merge_state(delete_col=...),
    # physical reclamation is purge_tombstones on the gc-grace schedule.
    delete_column: str | None = None
    # bucket the merge state on a SUBSET of merge_key (keyed-probe
    # layouts: a postings index keyed (term, doc_id) but bucketed by term
    # alone, so a query-time term probe opens only its terms' bucket
    # directories). Empty = the full merge key. Bucket membership must
    # stay a pure function of the key.
    merge_bucket_columns: tuple[str, ...] = ()

    def resolved_merge_bucket_columns(self) -> tuple[str, ...]:
        """The bucket-column subset: the field, defaulting to the full
        merge key."""
        return tuple(str(c) for c in self.merge_bucket_columns or self.merge_key)


@dataclass(frozen=True)
class ExecSpec:
    """Executor knobs (reference ``MapReduceExecutorTask.java:17-75``)."""

    reducers: int | None = None
    retry_tasks: bool = False


@dataclass(frozen=True)
class PipelineSpec:
    source: SourceSpec
    filters: tuple[FilterSpec, ...] = ()
    sink: SinkSpec = SinkSpec(type="null")
    partitioning: PartitioningSpec | None = None
    execution: ExecSpec = ExecSpec()

    def validate(self) -> None:
        if self.source.type not in _SOURCE_TYPES:
            raise ConfigError(f"unknown source type {self.source.type!r}")
        if self.source.type == "table" and not self.source.table:
            raise ConfigError("table source requires a 'table' name")
        if self.source.type not in ("task", "table") and not self.source.path:
            raise ConfigError(f"source type {self.source.type!r} requires a path")
        if (
            self.source.type in ("csv", "ltsv")
            and not self.source.columns
            and not self.source.options.get("guess")
        ):
            raise ConfigError(
                f"{self.source.type} source requires an explicit columns "
                "schema (or options: {guess: true} to infer one — the "
                "embulk-guess analog, sources/guess.py)"
            )
        if self.source.type == "regex" and not self.source.columns:
            raise ConfigError(
                "regex source requires an explicit columns schema"
            )
        if self.source.type == "regex":
            from .sources.lineparsers import _regex_pattern

            _regex_pattern(self.source)  # pattern present + group-count check
        if self.source.type == "table_changes":
            validate_table_changes_source(self.source)
        elif self.source.type == "merge_state":
            validate_merge_state_source(self.source)
        elif (
            self.source.keys
            or self.source.from_version is not None
            or self.source.to_version is not None
            or self.source.per_version
            or self.source.use_changelog is not None
        ):
            raise ConfigError(
                "keys/from_version/to_version/per_version/use_changelog are "
                "only meaningful for a table_changes source"
            )
        for c in self.source.columns:
            c.spark_type()  # raises ConfigError for unknown types at plan time
        for f in self.filters:
            if f.type not in _FILTER_TYPES:
                raise ConfigError(f"unknown filter type {f.type!r}")
        if self.sink.type not in _SINK_TYPES:
            raise ConfigError(f"unknown sink type {self.sink.type!r}")
        if self.sink.type == "table":
            if not self.sink.table:
                raise ConfigError("table sink requires a 'table' name")
            if bool(self.sink.bucket_by) != (self.sink.buckets > 0):
                raise ConfigError("table sink needs bucket_by AND buckets > 0 together")
        elif self.sink.type not in ("null", "memory") and not self.sink.path:
            raise ConfigError(f"sink type {self.sink.type!r} requires a path")
        if self.sink.type == "dedup_corpus":
            # the crawl-loop sink: path = corpus root, options.state = the
            # fingerprint/band-index state dir (merged bucket-pruned);
            # options.near switches exact → MinHash near-dup
            if not self.sink.options.get("state"):
                raise ConfigError("dedup_corpus sink requires options.state")
            if self.partitioning is not None or self.sink.partition_by:
                raise ConfigError(
                    "dedup_corpus sink manages its own batch-dir layout; "
                    "it does not combine with partitioning"
                )
            compact = self.sink.options.get("compact")
            if compact not in (None, True, False) and not isinstance(compact, dict):
                raise ConfigError(
                    "dedup_corpus options.compact must be true or a mapping "
                    "{target_file_bytes, max_generations}"
                )
            semantic_modes = [
                m
                for m in ("semantic", "semantic_two_level")
                if self.sink.options.get(m)
            ]
            if len(semantic_modes) > 1:
                raise ConfigError(
                    "dedup_corpus options.semantic and "
                    "options.semantic_two_level are mutually exclusive "
                    "(one loop layout per state namespace)"
                )
            if semantic_modes:
                # embedding crawl loop: centroids trained on the first batch
                # and persisted to options.centroids, assign-only afterwards
                # (two_level persists the coarse+sub PAIR under that path)
                if self.sink.options.get("near"):
                    raise ConfigError(
                        f"dedup_corpus options.{semantic_modes[0]} and "
                        "options.near are mutually exclusive (one loop per "
                        "state namespace)"
                    )
                if not self.sink.options.get("centroids"):
                    raise ConfigError(
                        f"dedup_corpus options.{semantic_modes[0]} requires "
                        "options.centroids (persisted centroid table path)"
                    )
        if self.partitioning is not None:
            self.partitioning.validate()
        if self.execution.reducers is not None and self.execution.reducers <= 0:
            # reference rejects reducers <= 0 (MapReduceExecutor.java:99-101)
            raise ConfigError(
                f"reducers must be > 0, got {self.execution.reducers}"
            )
        if self.sink.partition_by_bucket and self.partitioning is None:
            raise ConfigError("partition_by_bucket sink requires a partitioning block")
        if self.sink.partition_overwrite not in ("static", "dynamic"):
            raise ConfigError(
                f"partition_overwrite must be static|dynamic, "
                f"got {self.sink.partition_overwrite!r}"
            )
        if self.sink.partition_overwrite == "dynamic" and not (
            self.sink.partition_by or self.sink.partition_by_bucket
        ):
            raise ConfigError(
                "partition_overwrite: dynamic requires a partitioned sink layout "
                "(partition_by or partition_by_bucket)"
            )
        _reject_sink_option_keying(self.sink)
        if self.sink.mode == "merge":
            if self.sink.type not in ("parquet", "orc"):
                raise ConfigError("merge mode requires a parquet or orc sink")
            if not self.sink.merge_key or not self.sink.merge_order:
                raise ConfigError("merge mode requires merge_key and merge_order")
            if self.sink.merge_buckets <= 0:
                raise ConfigError(
                    f"merge_buckets must be > 0, got {self.sink.merge_buckets}"
                )
            if self.sink.merge_keep_versions < 2:
                raise ConfigError(
                    "merge_keep_versions must be >= 2 (current + previous is "
                    "the minimum that keeps a concurrent reader's snapshot "
                    f"alive across a commit), got {self.sink.merge_keep_versions}"
                )
            if self.sink.partition_by or self.sink.partition_by_bucket:
                raise ConfigError(
                    "merge mode does not combine with partitioned layout "
                    "(merge rewrites the keyed state; use dynamic overwrite "
                    "for partition-scoped re-loads)"
                )
            validate_merge_sink_keying(self.sink)
        elif self.sink.type != "dedup_corpus" and (
            # the fields themselves, not the bucket-column resolver (its
            # merge_key default must not fire here)
            self.sink.delete_column is not None
            or self.sink.merge_bucket_columns
        ):
            raise ConfigError(
                "delete_column / merge_bucket_columns are merge-mode sink "
                f"fields (sink mode is {self.sink.mode!r})"
            )
        if self.source.invalid_record_path is not None:
            if self.source.stop_on_invalid_record:
                raise ConfigError(
                    "invalid_record_path requires stop_on_invalid_record: false "
                    "(a FAILFAST load never produces skipped records)"
                )
            if self.source.type not in ("csv", "json", "ltsv", "regex"):
                raise ConfigError(
                    "invalid_record_path is only supported for csv, json, "
                    "ltsv and regex sources"
                )


def _reject_sink_option_keying(sink: SinkSpec) -> None:
    """Refuse ``delete_column`` / ``merge_bucket_columns`` spelled as sink
    ``options`` keys. They are SinkSpec fields, and an ignored
    ``options.delete_column`` would merge a tombstone batch as live rows."""
    for key in ("delete_column", "merge_bucket_columns"):
        if key in sink.options:
            raise ConfigError(
                f"sink options.{key} is not supported; set the sink's "
                f"{key} field instead"
            )


def validate_merge_sink_keying(sink: SinkSpec) -> None:
    """Plan-time ConfigError matrix for a merge sink's keying knobs
    (r15: moved here from the writer as part of promoting delete_column /
    merge_bucket_columns to first-class fields). Module-level because
    ``write_sink`` can be called directly with a bare SinkSpec — the
    writer re-runs this so a malformed spec fails as config either way;
    PipelineSpec.validate runs it at plan time for the YAML front door."""
    _reject_sink_option_keying(sink)
    keys = [str(c) for c in sink.merge_key]
    order = [str(c) for c in sink.merge_order]
    bucket_cols = list(sink.resolved_merge_bucket_columns())
    if not bucket_cols or any(c not in keys for c in bucket_cols):
        raise ConfigError(
            f"merge_bucket_columns {bucket_cols} must be a non-empty subset "
            f"of merge_key {keys} — bucket membership must stay a pure "
            "function of the key (rows for one key never straddle buckets, "
            "and the manifest diff stays a superset of the changed keys)"
        )
    delete_col = sink.delete_column
    if delete_col is not None:
        if delete_col in keys:
            raise ConfigError(
                f"delete_column {delete_col!r} cannot be a merge_key column "
                "(a tombstone retires a key; the marker must be payload)"
            )
        if delete_col in order:
            raise ConfigError(
                f"delete_column {delete_col!r} cannot be a merge_order column "
                "(delete-vs-upsert precedence comes from the order columns; "
                "making the marker itself an order column would let every "
                "tombstone beat every upsert regardless of recency)"
            )


def validate_merge_state_source(src: SourceSpec) -> None:
    """Plan-time ConfigError matrix for a ``merge_state`` source block
    (module-level for the same reason as the table_changes matrix: the
    ``join`` filter stage reaches read_source without a PipelineSpec)."""
    if not src.path:
        raise ConfigError("merge_state source requires a path")
    if (
        src.keys
        or src.from_version is not None
        or src.to_version is not None
        or src.per_version
        or src.use_changelog is not None
    ):
        raise ConfigError(
            "keys/from_version/to_version/per_version/use_changelog are "
            "only meaningful for a table_changes source; merge_state "
            "time-travel is options.version"
        )
    version = src.options.get("version")
    if version is not None and (isinstance(version, bool) or not isinstance(version, int) or version < 0):
        raise ConfigError(
            f"merge_state options.version must be a non-negative integer "
            f"commit version, got {version!r}"
        )
    fmt = src.options.get("format", "parquet")
    if fmt not in ("parquet", "orc", "csv", "json"):
        raise ConfigError(
            f"merge_state options.format must be one of "
            f"parquet|orc|csv|json (the merge sink's storage format), "
            f"got {fmt!r}"
        )
    if src.columns:
        raise ConfigError(
            "merge_state source takes its schema from the committed state; "
            "'columns' is not configurable"
        )
    if src.stop_on_invalid_record or src.invalid_record_path:
        raise ConfigError(
            "invalid-record policy does not apply to a merge_state source "
            "(the read serves committed state, not raw records)"
        )


def validate_table_changes_source(src: SourceSpec) -> None:
    """The full plan-time ConfigError matrix for a ``table_changes``
    source block. Module-level (not inlined in PipelineSpec.validate)
    because the ``join`` filter stage parses its lookup-side source
    through ``source_from → read_source`` WITHOUT a PipelineSpec — the
    reader re-runs this so a malformed CDC join-source still fails as
    config, never as a ValueError/AnalysisException deep inside
    ``sinks.changes.table_changes`` (r11 review finding 4)."""
    if not src.path:
        raise ConfigError("table_changes source requires a path")
    if not src.keys or isinstance(src.keys, str):
        # isinstance: YAML `keys: doc_id` (scalar instead of list) would
        # otherwise iterate as single CHARACTERS and fail later with an
        # unresolvable-column error (r11 review finding 5)
        raise ConfigError(
            "table_changes source requires 'keys' as a LIST of the merge "
            "sink's merge_key column names"
        )
    if src.from_version is None:
        raise ConfigError(
            "table_changes source requires 'from_version' (the feed "
            "covers (from_version, to_version], to_version defaulting to "
            "the state's current commit)"
        )
    if src.from_version < 0:
        raise ConfigError(f"from_version must be >= 0, got {src.from_version}")
    if src.to_version is not None and src.to_version < src.from_version:
        raise ConfigError(
            f"to_version {src.to_version} < from_version {src.from_version}"
        )
    if src.use_changelog is not None and not isinstance(src.use_changelog, bool):
        # YAML `use_changelog: "false"` / `"auto"` is a truthy STRING — it
        # would silently select strict changelog mode (ADVICE r11). The
        # tri-state is spelled true / false / omitted (= auto).
        raise ConfigError(
            "use_changelog must be a YAML boolean (true/false) or omitted "
            f"for auto mode, got {src.use_changelog!r}"
        )
    if src.use_changelog and not src.per_version:
        # mirrors the sinks API exactly (sinks/changes.py table_changes):
        # only TRUE forces per-commit files; false = recompute, which is
        # valid for the net endpoint feed too (ADVICE r11)
        raise ConfigError(
            "use_changelog: true requires per_version: true (the net "
            "endpoint feed is a two-snapshot diff, not a replay of "
            "per-commit files; use_changelog: false is allowed either way)"
        )
    fmt = src.options.get("format", "parquet")
    if fmt not in ("parquet", "orc", "csv", "json"):
        raise ConfigError(
            f"table_changes options.format must be one of "
            f"parquet|orc|csv|json (the merge sink's storage format), "
            f"got {fmt!r}"
        )
    if src.columns:
        raise ConfigError(
            "table_changes source takes its schema from the merge state; "
            "'columns' is not configurable"
        )
    if src.stop_on_invalid_record or src.invalid_record_path:
        raise ConfigError(
            "invalid-record policy does not apply to a table_changes "
            "source (the feed reads committed state, not raw records)"
        )


def _columns_from(raw: list[dict[str, Any]]) -> tuple[ColumnSpec, ...]:
    out = []
    for c in raw:
        if "name" not in c or "type" not in c:
            raise ConfigError(f"column spec needs name+type, got {c!r}")
        out.append(ColumnSpec(name=c["name"], type=c["type"], format=c.get("format")))
    return tuple(out)


def source_from(raw: dict[str, Any]) -> SourceSpec:
    """Parse an ``in``-style block into a SourceSpec (also used by the
    ``join`` filter stage for its lookup-side source)."""
    src_raw = dict(raw)
    from_v = src_raw.pop("from_version", None)
    to_v = src_raw.pop("to_version", None)
    keys_raw = src_raw.pop("keys", ())
    if isinstance(keys_raw, str):
        # tuple('doc_id') would explode a scalar YAML `keys:` into single
        # characters BEFORE validation could see the mistake — reject the
        # shape at parse time with the field named (r11 review finding 5)
        raise ConfigError(
            "source 'keys' must be a LIST of column names, got the string "
            f"{keys_raw!r}"
        )
    return SourceSpec(
        type=src_raw.pop("type", "parquet"),
        path=src_raw.pop("path", None),
        columns=_columns_from(src_raw.pop("columns", [])),
        stop_on_invalid_record=src_raw.pop("stop_on_invalid_record", False),
        invalid_record_path=src_raw.pop("invalid_record_path", None),
        task_count=src_raw.pop("task_count", None),
        table=src_raw.pop("table", None),
        keys=tuple(keys_raw),
        from_version=None if from_v is None else int(from_v),
        to_version=None if to_v is None else int(to_v),
        per_version=bool(src_raw.pop("per_version", False)),
        use_changelog=src_raw.pop("use_changelog", None),
        options=src_raw.pop("options", src_raw),
    )


def load_spec(doc: dict[str, Any] | str) -> PipelineSpec:
    """Load from a dict (or a JSON/YAML string). Embulk-style keys:
    ``in``, ``filters``, ``out``, ``exec`` (with nested ``partitioning``)."""
    if isinstance(doc, str):
        try:
            doc = json.loads(doc)
        except json.JSONDecodeError:
            try:
                import yaml  # type: ignore

                doc = yaml.safe_load(doc)
            except ImportError:
                raise ConfigError(
                    "spec string is not JSON and PyYAML is unavailable"
                ) from None
    if not isinstance(doc, dict) or "in" not in doc:
        raise ConfigError("pipeline spec must be a mapping with an 'in' block")

    source = source_from(doc["in"])
    filters = tuple(
        FilterSpec(type=f.pop("type"), config=f)
        for f in (dict(f) for f in doc.get("filters", []))
    )
    out_raw = dict(doc.get("out", {"type": "null"}))
    sink = SinkSpec(
        type=out_raw.pop("type", "null"),
        path=out_raw.pop("path", None),
        mode=out_raw.pop("mode", "overwrite"),
        partition_by_bucket=out_raw.pop("partition_by_bucket", False),
        partition_by=tuple(out_raw.pop("partition_by", ())),
        table=out_raw.pop("table", None),
        bucket_by=tuple(out_raw.pop("bucket_by", ())),
        buckets=int(out_raw.pop("buckets", 0)),
        sort_by=tuple(out_raw.pop("sort_by", ())),
        partition_overwrite=str(out_raw.pop("partition_overwrite", "static")),
        merge_key=tuple(out_raw.pop("merge_key", ())),
        merge_order=tuple(out_raw.pop("merge_order", ())),
        merge_buckets=int(out_raw.pop("merge_buckets", 64)),
        merge_keep_versions=int(out_raw.pop("merge_keep_versions", 2)),
        delete_column=out_raw.pop("delete_column", None),
        merge_bucket_columns=tuple(out_raw.pop("merge_bucket_columns", ())),
        options=out_raw.pop("options", out_raw),
    )
    exec_raw = dict(doc.get("exec", {}))
    part_raw = exec_raw.pop("partitioning", doc.get("partitioning"))
    partitioning = None
    if part_raw:
        part_raw = dict(part_raw)
        partitioning = PartitioningSpec(
            type=part_raw.get("type", "timestamp"),
            unit=part_raw.get("unit", "hour"),
            column=part_raw.get("column", ""),
            unix_timestamp_unit=part_raw.get("unix_timestamp_unit", "sec"),
            map_side_partition_split=int(part_raw.get("map_side_partition_split", 1)),
        )
    execution = ExecSpec(
        reducers=exec_raw.get("reducers"),
        retry_tasks=bool(exec_raw.get("retry_tasks", False)),
    )
    spec = PipelineSpec(
        source=source,
        filters=filters,
        sink=sink,
        partitioning=partitioning,
        execution=execution,
    )
    spec.validate()
    return spec
