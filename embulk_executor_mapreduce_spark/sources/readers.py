"""Source readers.

The reference's source model (SURVEY.md §2.2 O1/O2): N independent input tasks,
schema declared in config, CSV parse options (charset/delimiter/quote/escape/
skip_header_lines/per-column timestamp format), and an invalid-record policy —
``stop_on_invalid_record: true`` fails the load with a *user-data* error,
``false`` skips bad records.

Spark-first: file sources go through ``spark.read`` so Catalyst sees the scan
(predicate pushdown, column pruning, partition pruning at scale); one Spark
input partition plays the role of one reference input task. The invalid-record
policy maps to FAILFAST vs PERMISSIVE+corrupt-record-drop
(reference test ``TestMapReduceExecutor.java:177-192``).

Plugin-style (non-file) sources — reference ``EmbulkInputSplit``/
``EmbulkRecordReader`` running an arbitrary InputPlugin per task index — map to
``spark.range(task_count)`` + ``mapInPandas`` driving a user task function, so
custom readers still parallelize across the cluster (SURVEY.md §7.5 risk 5).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..errors import ConfigError
from ..spec import SourceSpec
from ..types import build_schema

_CORRUPT = "__corrupt_record"


# reference symbolic newline values → literal separators
# (embulk formatter/parser `newline` option, embulk_mapred_config.yml:44)
NEWLINE_LITERALS = {"CRLF": "\r\n", "LF": "\n", "CR": "\r"}


def _csv_options(spec: SourceSpec) -> tuple[dict[str, Any], int, dict[str, str]]:
    """Resolve reference csv parser options → (spark options, skip_header_lines,
    per-column timestamp formats in Java syntax)."""
    opts: dict[str, Any] = {
        "header": False,
        "sep": ",",
        "quote": '"',
        "escape": '"',
        "encoding": "UTF-8",
        "nullValue": "",
        "timestampFormat": "yyyy-MM-dd HH:mm:ss[.SSSSSS]",
    }
    # reference csv parser options → spark csv options
    ref_map = {
        "delimiter": "sep",
        "charset": "encoding",
        "quote": "quote",
        "escape": "escape",
        "newline": "lineSep",
        "null_string": "nullValue",
    }
    options = dict(spec.options)
    skip_header = int(options.pop("skip_header_lines", 0))
    for ref_key, spark_key in ref_map.items():
        if ref_key in options:
            opts[spark_key] = options.pop(ref_key)
    # reference newline values are symbolic (CRLF|LF|CR,
    # embulk_mapred_config.yml:44); Spark wants the literal separator.
    # \n and \r\n are auto-detected by Spark's default line reader (and an
    # explicit 2-char lineSep cannot appear inside quoted fields), so only a
    # lone-CR convention needs the option set at all.
    if "lineSep" in opts:
        lit = NEWLINE_LITERALS.get(str(opts["lineSep"]).upper(), opts["lineSep"])
        if lit in ("\n", "\r\n"):
            del opts["lineSep"]
        else:
            opts["lineSep"] = lit
    # Per-column timestamp formats (reference embulk_mapred_config.yml:26-37
    # declares one per column). Spark csv has ONE global timestampFormat, so:
    # a single distinct declared format becomes the global option; with two or
    # more distinct formats the formatted columns are read as strings and
    # converted per column afterwards (_apply_column_formats) — each column
    # honors ITS declared format, like the reference.
    per_col = {
        c.name: _strptime_to_java(c.format)
        for c in spec.columns
        if c.type == "timestamp" and c.format
    }
    distinct = sorted(set(per_col.values()))
    if len(distinct) == 1:
        opts["timestampFormat"] = distinct[0]
        per_col = {}
    opts.update(options)
    return opts, skip_header, per_col


def _apply_column_formats(
    df: DataFrame, per_col: dict[str, str], stop_on_invalid: bool
) -> DataFrame:
    """Convert string-read timestamp columns with their own declared formats.
    Under stop_on_invalid_record a value that fails ITS format raises (Spark 4
    ANSI to_timestamp — the FAILFAST analog; classified user-data by the
    compiler); otherwise try_to_timestamp nulls it and the record is dropped
    (skip semantics)."""
    for name, fmt in per_col.items():
        if stop_on_invalid:
            parsed = F.to_timestamp(F.col(name), fmt)
        else:
            parsed = F.try_to_timestamp(F.col(name), F.lit(fmt))
            df = df.filter(F.col(name).isNull() | parsed.isNotNull())
        df = df.withColumn(name, parsed)
    return df


def _read_schema(spec: SourceSpec, per_col: dict[str, str]) -> T.StructType:
    """Declared schema, with per-column-formatted timestamp columns read as
    strings (converted after parse)."""
    schema = build_schema(list(spec.columns))
    if not per_col:
        return schema
    return T.StructType(
        [
            T.StructField(f.name, T.StringType(), f.nullable)
            if f.name in per_col
            else f
            for f in schema.fields
        ]
    )


def read_csv_split(
    spark: SparkSession, spec: SourceSpec
) -> tuple[DataFrame, DataFrame]:
    """CSV read with the structurally-invalid records SPLIT OFF instead of
    dropped: returns ``(clean, quarantine)`` where quarantine carries
    ``(input_file, raw_record)`` for every row PERMISSIVE mode could not
    parse. The reference logs-and-skips these (CsvParserPlugin under
    ``stop_on_invalid_record: false``); at 100 TB a log line per bad record
    is unusable — an auditable quarantine table is the production shape.

    Both frames derive from ONE lazily-planned read; executing both costs two
    scans of the source (OSS Spark has no side-output channel), which the
    caller pays only when a quarantine path is actually configured.
    """
    opts, skip_header, per_col = _csv_options(spec)
    schema = _read_schema(spec, per_col)
    body = _csv_body_lines(spark, spec, opts, skip_header)
    parse_opts = _csv_parse_opts(opts)
    parse_opts["mode"] = "PERMISSIVE"
    parse_opts["columnNameOfCorruptRecord"] = _CORRUPT
    schema_with = T.StructType(
        schema.fields + [T.StructField(_CORRUPT, T.StringType(), True)]
    )
    parsed = body.select(
        F.col("__file"),
        F.from_csv(F.col("value"), schema_with.simpleString(), parse_opts).alias("r"),
    )
    quarantine = parsed.filter(F.col(f"r.{_CORRUPT}").isNotNull()).select(
        F.col("__file").alias("input_file"),
        F.col(f"r.{_CORRUPT}").alias("raw_record"),
        F.to_json(F.struct(*[F.col(f"r.{f.name}") for f in schema.fields])).alias(
            "partial_parse"
        ),
    )
    clean = (
        parsed.filter(F.col(f"r.{_CORRUPT}").isNull()).select("r.*").drop(_CORRUPT)
    )
    return _apply_column_formats(clean, per_col, False), quarantine


def read_json_split(
    spark: SparkSession, spec: SourceSpec
) -> tuple[DataFrame, DataFrame]:
    """JSONL twin of :func:`read_csv_split` — ``(clean, quarantine)`` with
    the same quarantine schema ``(input_file, raw_record, partial_parse)``,
    so one audit-table layout serves both line formats."""
    schema = build_schema(list(spec.columns))
    parse_opts = {k: str(v) for k, v in spec.options.items()}
    parse_opts["mode"] = "PERMISSIVE"
    parse_opts["columnNameOfCorruptRecord"] = _CORRUPT
    schema_with = T.StructType(
        schema.fields + [T.StructField(_CORRUPT, T.StringType(), True)]
    )
    parsed = spark.read.text(spec.path).select(
        F.col("_metadata.file_path").alias("__file"),
        F.from_json(F.col("value"), schema_with, parse_opts).alias("r"),
    )
    quarantine = parsed.filter(F.col(f"r.{_CORRUPT}").isNotNull()).select(
        F.col("__file").alias("input_file"),
        F.col(f"r.{_CORRUPT}").alias("raw_record"),
        F.to_json(F.struct(*[F.col(f"r.{f.name}") for f in schema.fields])).alias(
            "partial_parse"
        ),
    )
    clean = (
        parsed.filter(F.col(f"r.{_CORRUPT}").isNull()).select("r.*").drop(_CORRUPT)
    )
    return clean, quarantine


def _read_csv(spark: SparkSession, spec: SourceSpec) -> DataFrame:
    opts, skip_header, per_col = _csv_options(spec)
    schema = _read_schema(spec, per_col)

    if spec.stop_on_invalid_record and skip_header <= 1:
        # native reader, FAILFAST — no corrupt-record column in play
        if skip_header == 1:
            opts["header"] = True
        opts["mode"] = "FAILFAST"
        df = spark.read.options(**opts).schema(schema).csv(spec.path)
    else:
        # text + from_csv for every path that needs the corrupt-record
        # column (skip-bad-rows) or an arbitrary-N header skip. The native
        # csv scan refuses any plan whose pruned schema references ONLY the
        # corrupt column (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — which is
        # exactly what a count()-style consumer of the filtered frame
        # produces; from_csv's corrupt field is an ordinary struct member
        # with no such restriction. Line-splitting semantics are identical
        # (the engine, like Spark's default csv mode, does not support
        # quoted embedded newlines without multiLine).
        df = _read_csv_via_text(spark, spec, opts, schema, skip_header)
    return _apply_column_formats(df, per_col, spec.stop_on_invalid_record)


def _csv_parse_opts(opts: dict[str, Any]) -> dict[str, str]:
    parse_opts = {
        k: str(v)
        for k, v in opts.items()
        if k in ("sep", "quote", "escape", "nullValue", "timestampFormat")
    }
    # Native csv scans fall back to ISO-8601 parsing when a custom
    # timestampFormat fails; from_csv disables that fallback by default, which
    # would corrupt-flag rows the native reader (and round 1/2 of this engine)
    # accepted — e.g. the engine's own csv sink emitting `1997-10-31T00:00:00`.
    parse_opts["enableDateTimeParsingFallback"] = "true"
    return parse_opts


def _csv_body_lines(
    spark: SparkSession,
    spec: SourceSpec,
    opts: dict[str, Any],
    skip_header: int,
) -> DataFrame:
    """Raw csv line frame ``(value, __file)`` with the per-file header skip
    applied (reference supports arbitrary N; Spark's header option skips
    exactly one).

    With ``skip_header == 0`` this is a plain text scan — no window, no
    shuffle. Otherwise the first N lines per FILE are dropped via row_number
    ordered by in-file position: ``_metadata.file_block_start`` (the split's
    byte offset) as the major key, the monotonic id breaking ties WITHIN a
    split (rows of one split are read sequentially). Ordering by monotonic
    id alone would silently depend on Spark packing a file's splits into
    partitions in offset order — an undocumented scheduler detail; under any
    other packing a later split could sort before the header split and data
    rows would be dropped in its place. Guarded by a multi-split test
    (tests/test_retry_and_csv_parity.py)."""
    txt = (
        spark.read.options(
            **{k: v for k, v in opts.items() if k in ("encoding", "lineSep")}
        )
        .text(spec.path)
        .select(
            "value",
            F.col("_metadata.file_path").alias("__file"),
            F.col("_metadata.file_block_start").alias("__blk"),
            F.monotonically_increasing_id().alias("__pos"),
        )
    )
    if skip_header > 0:
        w = Window.partitionBy("__file").orderBy("__blk", "__pos")
        txt = txt.withColumn("__rn", F.row_number().over(w)).filter(
            F.col("__rn") > skip_header
        )
    return txt.select("value", "__file")


def _read_csv_via_text(
    spark: SparkSession,
    spec: SourceSpec,
    opts: dict[str, Any],
    schema: T.StructType,
    skip_header: int,
) -> DataFrame:
    """text scan → per-file header skip → ``from_csv`` parse under the same
    options/invalid-record mode (see the dispatch comment in _read_csv)."""
    body = _csv_body_lines(spark, spec, opts, skip_header)
    parse_opts = _csv_parse_opts(opts)
    parse_opts["mode"] = "FAILFAST" if spec.stop_on_invalid_record else "PERMISSIVE"
    if spec.stop_on_invalid_record:
        parsed = body.select(
            F.from_csv(F.col("value"), schema.simpleString(), parse_opts).alias("r")
        )
        return parsed.select("r.*")
    parse_opts["columnNameOfCorruptRecord"] = _CORRUPT
    schema_with = T.StructType(
        schema.fields + [T.StructField(_CORRUPT, T.StringType(), True)]
    )
    parsed = body.select(
        F.from_csv(F.col("value"), schema_with.simpleString(), parse_opts).alias("r")
    )
    return parsed.select("r.*").filter(F.col(_CORRUPT).isNull()).drop(_CORRUPT)


def _strptime_to_java(fmt: str) -> str:
    """Ruby/strptime-style format (reference config) → Java DateTimeFormatter."""
    table = {
        "%Y": "yyyy",
        "%m": "MM",
        "%d": "dd",
        "%H": "HH",
        "%M": "mm",
        "%S": "ss",
        "%N": "SSSSSSSSS",
        "%6N": "SSSSSS",
        "%3N": "SSS",
        "%z": "XX",
        "%Z": "zz",
        "%%": "%",
    }
    out = fmt
    for k, v in table.items():
        out = out.replace(k, v)
    return out


TaskFn = Callable[[int], Iterator[pd.DataFrame]]
_TASK_REGISTRY: dict[str, TaskFn] = {}


def register_task_source(name: str, fn: TaskFn) -> None:
    """Register a plugin-style reader: ``fn(task_index)`` yields pandas
    DataFrames matching the declared schema (the InputPlugin.run analog)."""
    _TASK_REGISTRY[name] = fn


class _ListAccum:
    """AccumulatorParam collecting (task_index, error) pairs from workers —
    the in-task error side-channel for retry_tasks=false (reference analog:
    AttemptState files on HDFS read back by the driver, O13/O15)."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def _read_task(
    spark: SparkSession,
    spec: SourceSpec,
    retry_tasks: bool = True,
    error_sink=None,
) -> DataFrame:
    """Plugin-style source. O14 semantics (reference EmbulkMapReduce.java:586-599):

    - ``retry_tasks=True``: a task failure propagates — Spark retries the task
      up to ``spark.task.maxFailures`` and fails the job if it keeps failing
      (the reference rethrows so MR retries up to maxattempts).
    - ``retry_tasks=False`` (reference default): the failure is RECORDED into
      ``error_sink`` (a list accumulator) and swallowed — the task contributes
      zero rows and the job continues; the driver surfaces the recorded
      failures in the PipelineReport (reference: task "succeeds" in MR terms,
      driver still sees the exception via attempt-state files).

    Partitioned pipelines always propagate regardless of the flag — reducers
    must not start on missing input (EmbulkPartitioningMapReduce.java:132-141);
    the compiler enforces that by passing retry_tasks=True.
    """
    if not spec.task_count or spec.task_count <= 0:
        raise ConfigError("task source requires task_count > 0")
    fn_name = spec.options.get("task_fn")
    if fn_name not in _TASK_REGISTRY:
        raise ConfigError(f"task source fn {fn_name!r} is not registered")
    fn = _TASK_REGISTRY[fn_name]
    schema = build_schema(list(spec.columns))

    # one Spark partition per input task == one reference input split
    # (EmbulkInputFormat.java:21-27: 1 split per task index)
    tasks = spark.range(spec.task_count).repartition(spec.task_count, "id")

    def run_tasks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for task_index in pdf["id"]:
                if retry_tasks or error_sink is None:
                    yield from fn(int(task_index))
                else:
                    try:
                        yield from fn(int(task_index))
                    except Exception as exc:  # noqa: BLE001 — recorded, by design
                        error_sink.add(
                            [(int(task_index), f"{type(exc).__name__}: {exc}")]
                        )

    return tasks.mapInPandas(run_tasks, schema=schema)


def task_error_accumulator(spark: SparkSession):
    """Create the (task_index, error) side-channel accumulator."""
    return spark.sparkContext.accumulator([], _ListAccum())


def _read_binaryfile(spark: SparkSession, spec: SourceSpec) -> DataFrame:
    """Raw-file multimodal ingestion: Spark's binaryFile source yields one row
    per file — (path, modificationTime, length, content binary) — the scan
    stage that feeds the mapInPandas decode operators in
    operators/multimodal.py. ``pathGlobFilter`` (e.g. ``*.jpg``) and
    ``recursiveFileLookup`` pass through as options; driver-side listing is
    Spark's own distributed file index, so a 100 TB image corpus scans like
    any other file source."""
    reader = spark.read.format("binaryFile")
    opts = dict(spec.options)
    if "glob" in opts:
        opts["pathGlobFilter"] = opts.pop("glob")
    return reader.options(**opts).load(spec.path)


def apply_json_type(df: DataFrame, spec: SourceSpec) -> DataFrame:
    """SURVEY §7.5.2 VariantType pilot (VERDICT r11 item 4): opt-in
    ``options: {json_type: variant}`` converts every declared ``json``
    column from canonical JSON text to Spark 4's native ``VariantType``
    via ``parse_json`` — typed access (``variant_get``) without a
    per-query ``from_json`` schema, heterogeneous object-vs-array columns
    included. Canonical-string stays the DEFAULT: variant is a binary
    encoding; parquet/json/xml sinks write it natively, csv/ORC sinks
    re-serialize it through ``to_json`` at the sink
    (``sinks/writer._render_variants`` — lossless for JSON-sourced
    values).

    Invalid-JSON policy mirrors the row-level invalid-record policy at
    value granularity: ``stop_on_invalid_record: true`` parses with
    ``parse_json`` (malformed → loud MALFORMED_RECORD_IN_PARSING, the
    user-data classification); ``false`` uses ``try_parse_json``
    (malformed → NULL, the skip analog)."""
    jt = str(spec.options.get("json_type", "string")).lower()
    if jt == "string":
        return df
    if jt != "variant":
        raise ConfigError(
            f"options.json_type must be 'string' (default) or 'variant', "
            f"got {spec.options.get('json_type')!r}"
        )
    json_cols = [c.name for c in spec.columns if c.type == "json"]
    if not json_cols:
        raise ConfigError(
            "options.json_type: variant requires declared columns of type "
            "'json' (nothing to convert)"
        )
    parse = F.parse_json if spec.stop_on_invalid_record else F.try_parse_json
    for name in json_cols:
        df = df.withColumn(name, parse(F.col(name)))
    return df


def read_source(
    spark: SparkSession,
    spec: SourceSpec,
    retry_tasks: bool = True,
    error_sink=None,
) -> DataFrame:
    return apply_json_type(
        _read_source_dispatch(spark, spec, retry_tasks, error_sink), spec
    )


def _read_source_dispatch(
    spark: SparkSession,
    spec: SourceSpec,
    retry_tasks: bool = True,
    error_sink=None,
) -> DataFrame:
    if spec.options.get("guess"):
        # embulk-guess analog (sources/guess.py): resolve the schema from a
        # bounded sample at plan time, then compile exactly like a
        # hand-declared columns block. Batch-only — the streaming front
        # door raises its own ConfigError (a stream needs the schema before
        # any file exists to sample).
        from .guess import resolve_guess

        spec = resolve_guess(spark, spec)
    if spec.type == "csv":
        _reject_merge_state_path(spec)
        return _read_csv(spark, spec)
    if spec.type in ("ltsv", "regex"):
        # embulk parser-plugin analogs (parser-ltsv / parser-regex):
        # expression-only parse chains over the text source — see
        # sources/lineparsers.py for the policy surface (stop/skip/quarantine
        # parity with csv)
        from . import lineparsers

        _reject_merge_state_path(spec)
        fn = lineparsers.read_ltsv if spec.type == "ltsv" else lineparsers.read_regex
        return fn(spark, spec)
    if spec.type == "table":
        # managed-table scan (read-back of the "table" sink): a bucketBy
        # layout rides along, so downstream joins/aggregates on the bucket
        # key plan with zero exchanges on this side — the spec-level entry
        # to the standing-graph pagerank path (SCALING.md §3 decision rule)
        return spark.table(spec.table)
    if spec.type == "table_changes":
        # merge-sink CDC feed as a declarative source (VERDICT r10 item 1):
        # the whole filter surface composes downstream, so drift gates /
        # enrichment over a feed run from pure YAML. Plan shape is the
        # API's own — a pruned changelog scan when covered, else the
        # changed-bucket pair-diff recompute (sinks/changes.table_changes).
        # Import is local: sinks.changes → sinks.writer, and writer/readers
        # are siblings with no cycle today, but keeping the sink machinery
        # out of this module's import graph is the established pattern for
        # the source dispatch's optional branches.
        from ..sinks.changes import table_changes
        from ..spec import validate_table_changes_source

        # re-run the FULL config matrix here: the `join` filter stage
        # parses its lookup-side source straight through source_from →
        # read_source, bypassing PipelineSpec.validate() — a malformed
        # CDC block must still fail as config with the same messages, not
        # as a ValueError/AnalysisException inside table_changes
        validate_table_changes_source(spec)
        # a path with no version pointer raises NotAMergeStateError, a
        # ConfigError, so run_pipeline classifies it as config, not infra
        return table_changes(
            spark,
            spec.path,
            list(spec.keys),
            from_version=spec.from_version,
            to_version=spec.to_version,
            fmt=spec.options.get("format", "parquet"),
            per_version=spec.per_version,
            use_changelog=spec.use_changelog,
        )
    if spec.type == "merge_state":
        # direct read-back of the merge SINK's keyed state (r12): pointer →
        # manifest → explicit bucket-dir scan (sinks/writer.read_merge_state
        # — the ONLY supported read path; the data dirs are underscore-
        # prefixed, invisible to a naive file listing). options.version
        # time-travels to any retained snapshot — the training-
        # reproducibility contract from pure YAML. The internal bucket
        # column is an implementation detail and is dropped.
        from ..sinks.writer import MERGE_BUCKET_COL, read_merge_state
        from ..spec import validate_merge_state_source

        validate_merge_state_source(spec)  # join-path re-validation
        state = read_merge_state(
            spark,
            spec.path,
            fmt=spec.options.get("format", "parquet"),
            version=spec.options.get("version"),
        )
        return state.drop(MERGE_BUCKET_COL)
    if spec.type == "binaryfile":
        _reject_merge_state_path(spec)
        return _read_binaryfile(spark, spec)
    if spec.type == "task":
        return _read_task(spark, spec, retry_tasks=retry_tasks, error_sink=error_sink)
    if spec.type == "text":
        # raw line-oriented corpus ingestion (one row per line, column named
        # by option line_column, default "line") — the front door for
        # C4-style text pipelines: text source → quality/dedup filter chain
        # → parquet sink. wholetext: true yields one row per FILE instead
        # (document-per-file corpora); both stay a narrow scan, no shuffle.
        _reject_merge_state_path(spec)
        opts = dict(spec.options)
        line_col = opts.pop("line_column", "line")
        wholetext = bool(opts.pop("wholetext", False))
        df = spark.read.options(**opts).text(spec.path, wholetext=wholetext)
        df = df.withColumnRenamed("value", line_col)
        if wholetext:
            df = df.select(
                F.input_file_name().alias("path"), F.col(line_col)
            )
        return df
    if spec.type == "json":
        _reject_merge_state_path(spec)
        return _read_json(spark, spec)
    if spec.type == "xml":
        # Spark 4 native XML datasource (built in since 4.0 — no external
        # jar). rowTag is mandatory for the reader; default mirrors the
        # sink's "row". timestampFormat default matches the sink so an
        # engine-written dataset roundtrips at microsecond fidelity.
        opts = {
            "rowTag": "row",
            "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
            # the reader trims surrounding whitespace by default — silent
            # value corruption (same class as the csv writer's Univocity
            # trim flags, pinned off in sinks/writer.py)
            "ignoreSurroundingSpaces": False,
            **spec.options,
        }
        reader = spark.read.options(**opts)
        if spec.columns:
            reader = reader.schema(build_schema(list(spec.columns)))
        return reader.format("xml").load(spec.path)
    if spec.type in ("parquet", "orc"):
        _reject_merge_state_path(spec)
        if spec.type == "parquet":
            # tolerate TIMESTAMP(NANOS) parquet files (read as long nanos)
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        reader = spark.read.options(**spec.options)
        if spec.columns:
            reader = reader.schema(build_schema(list(spec.columns)))
        return getattr(reader, spec.type)(spec.path)
    raise ConfigError(f"unknown source type {spec.type!r}")


def _reject_merge_state_path(spec: SourceSpec) -> None:
    """Pointer-era merge-state paths must not be scanned as plain file
    sources: the data dirs are underscore-prefixed, so the scan silently
    reads ZERO rows — fail loud with the fix instead (r12). Covers every
    file source that can point at a state dir: the four formats a merge
    sink stores (parquet/orc/csv/json, all of which
    validate_merge_state_source allows) plus text/binaryfile, which see
    the same zero-file listing when misdirected at a state dir (every
    state artifact is underscore-prefixed). Reuses the writer's own
    _local/_CURRENT_FILE so the probe cannot drift from the pointer
    protocol."""
    import os

    from ..sinks.writer import _CURRENT_FILE, _local

    if spec.path and os.path.exists(
        os.path.join(_local(spec.path), _CURRENT_FILE)
    ):
        raise ConfigError(
            f"{spec.path!r} is a merge-sink state (it has a {_CURRENT_FILE} "
            "pointer); read it with `type: merge_state` — a plain "
            f"{spec.type} scan of a pointer-era state sees no files"
        )


def _read_json(spark: SparkSession, spec: SourceSpec) -> DataFrame:
    """JSON-lines with the same invalid-record policy as CSV (the policy is a
    SourceSpec field, not a csv-only option — a malformed JSONL line must
    fail the load under ``stop_on_invalid_record: true`` and be dropped under
    ``false``, never silently become an all-null row, which is what Spark's
    default PERMISSIVE json read produces).

    Shape mirrors :func:`_read_csv`: FAILFAST keeps the native json scan;
    the skip path goes text-scan → ``from_json`` with an ordinary
    corrupt-record struct field (the native PERMISSIVE scan has the same
    QUERY_ONLY_CORRUPT_RECORD_COLUMN pruning restriction as csv). Without a
    declared schema the policy cannot be evaluated (nothing to fail against)
    and the native reader with passthrough options is used as before.
    """
    if not spec.columns:
        return spark.read.options(**spec.options).json(spec.path)
    schema = build_schema(list(spec.columns))
    if spec.stop_on_invalid_record:
        return (
            spark.read.options(**spec.options)
            .option("mode", "FAILFAST")
            .schema(schema)
            .json(spec.path)
        )
    parse_opts = {k: str(v) for k, v in spec.options.items()}
    parse_opts["mode"] = "PERMISSIVE"
    parse_opts["columnNameOfCorruptRecord"] = _CORRUPT
    schema_with = T.StructType(
        schema.fields + [T.StructField(_CORRUPT, T.StringType(), True)]
    )
    parsed = spark.read.text(spec.path).select(
        F.from_json(F.col("value"), schema_with, parse_opts).alias("r")
    )
    return parsed.select("r.*").filter(F.col(_CORRUPT).isNull()).drop(_CORRUPT)
