"""Spec → DataFrame compiler and runner (the engine's MapReduceExecutor analog).

Query lifecycle parity (SURVEY.md §3): parse/validate happened in
:mod:`..spec`; here we build the plan —

    read_source → filter chain → [bucket + salt repartition] → sink

which is exactly the reference's two job shapes:

- **no partitioning** → a single narrow-dependency chain, Catalyst pipelines
  scan→filters→write into one stage with zero exchanges (reference map-only
  job, ``MapReduceExecutor.java:294-302``);
- **partitioning** → one hash exchange on (bucket[, salt]) before the write
  (reference map+shuffle+reduce, ``MapReduceExecutor.java:285-293``), with
  ``reducers`` controlling write-task count like the reference's reduce count.

Steps 4–9 of the reference lifecycle (job materialization, submit/poll, state
files, attempt dedup) are Spark's scheduler; the report (O15) is collected
in-band instead of via HDFS state-file polling.

Unlike the reference, local mode does NOT silently drop partitioning
(SURVEY.md §4.3 quirk 4 — a wart we deliberately fix): semantics are identical
at every scale.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import NoReturn

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..errors import (
    ConfigError,
    MergeCommitConflictError,
    RemoteTaskFailedDataError,
    RemoteTaskFailedError,
)
from ..operators.filters import apply_filter_chain
from ..operators.partitioning import bucket_expr, salt_expr
from ..sinks.writer import write_sink
from ..sources.readers import read_source, task_error_accumulator
from ..spec import PipelineSpec

BUCKET_COL = "__bucket"
SALT_COL = "__salt"

# Spark exception classes that indicate bad user data rather than infra
# failure (reference UserDataExceptions.isUserDataException classification,
# AttemptState.java:97-116).
_USER_DATA_MARKERS = (
    "Malformed",
    "BadRecordException",
    "CSV",
    "cannot be parsed",
    "could not be parsed",
    "FAILFAST",
    "MALFORMED_RECORD",
    "CannotParse",
    "CANNOT_PARSE",
    "DateTimeException",
    # worker-wrapped raise_error/assert_true (the structured condition is
    # often lost through the stage-failure wrapping; the formatted message
    # keeps the class name)
    "USER_RAISED_EXCEPTION",
)

# Spark 4 error classes that mean "your data is bad" (structured complement
# to the string markers — exc.getCondition() when the exception carries one)
_USER_DATA_ERROR_CLASSES = (
    "MALFORMED_RECORD_IN_PARSING",
    "MALFORMED_CSV_RECORD",
    "CANNOT_PARSE_TIMESTAMP",
    "CANNOT_PARSE_JSON_FIELD",
    "CAST_INVALID_INPUT",
    "NUMERIC_VALUE_OUT_OF_RANGE",
    # raise_error()/assert_true() fired in-plan — the drift_report stage's
    # gate and any user-authored with_column assertion: definitionally a
    # data-contract failure, not infra
    "USER_RAISED_EXCEPTION",
)


def _is_user_data_error(exc: Exception) -> bool:
    """User-data vs infra classification (reference
    UserDataExceptions.isUserDataException, AttemptState.java:97-116).
    Prefer Spark's structured error condition; fall back to message markers
    (worker-wrapped exceptions often only carry the formatted message)."""
    cond = None
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(exc, attr, None)
        if callable(fn):
            try:
                cond = fn()
                break
            except Exception:  # noqa: BLE001 — probing optional API
                pass
    if cond and any(c in str(cond) for c in _USER_DATA_ERROR_CLASSES):
        return True
    msg = str(exc)
    return any(m in msg for m in _USER_DATA_MARKERS)


@dataclass
class PipelineReport:
    """Execution report (reference AttemptState reports, O15 — collected
    in-band via Spark instead of HDFS state files)."""

    output_rows: int = 0
    # rows that ENTERED the sink stage (streaming path: summed over every
    # micro-batch progress event). For append sinks this equals committed
    # output; under ``mode: merge`` the committed state can be SMALLER
    # (keyed dedup) — output_rows then reports this input-side count, the
    # only figure measurable without re-reading merged state.
    input_rows: int = 0
    output_tasks: int = 0
    partitioned: bool = False
    wall_seconds: float = 0.0
    succeeded: bool = False
    error: str | None = None
    # recorded-and-skipped task failures under retry_tasks=false (O14):
    # [(task_index, "ExcType: message")] — the reference surfaces these via
    # attempt-state files (EmbulkMapReduce.java:586-599); we use an accumulator
    failed_tasks: list = field(default_factory=list)
    # rows written to source.invalid_record_path (structurally-invalid CSV
    # records quarantined instead of silently dropped)
    quarantined_rows: int = 0
    # repr of a swallowed Observation-read failure (ADVICE r4): when set,
    # output_rows=0 means "metrics unavailable", NOT a verified empty write
    metrics_error: str | None = None


def compile_pipeline(
    spark: SparkSession, spec: PipelineSpec, error_sink=None
) -> DataFrame:
    """Build the (lazy) DataFrame plan for a validated spec. The returned
    frame still carries the bucket column if partitioning is configured and
    the sink wants per-bucket layout."""
    spec.validate()
    # O14: retry_tasks=false records-and-continues ONLY for non-partitioned
    # pipelines; partitioned mappers always propagate (reducers must not start
    # on missing input, EmbulkPartitioningMapReduce.java:132-141)
    effective_retry = spec.execution.retry_tasks or spec.partitioning is not None
    df = read_source(
        spark, spec.source, retry_tasks=effective_retry, error_sink=error_sink
    )
    return _apply_stages(df, spec)


def _apply_stages(df: DataFrame, spec: PipelineSpec) -> DataFrame:
    """Everything after the source: filter chain + bucket/salt repartition."""
    spark = df.sparkSession
    df = apply_filter_chain(df, spec.filters)

    if spec.partitioning is not None:
        p = spec.partitioning
        df = df.withColumn(
            BUCKET_COL,
            bucket_expr(df, p.column, p.unit, p.unix_timestamp_unit),
        )
        keys = [F.col(BUCKET_COL)]
        if p.map_side_partition_split > 1:
            df = df.withColumn(SALT_COL, salt_expr(p.map_side_partition_split))
            keys.append(F.col(SALT_COL))
        # reducers default = input parallelism (MapReduceExecutor.java:98);
        # defaultParallelism avoids materializing RDD lineage at compile time
        # (df.rdd.getNumPartitions() forced a conversion on every compile)
        n = spec.execution.reducers or spark.sparkContext.defaultParallelism or 1
        df = df.repartition(n, *keys)
        if p.map_side_partition_split > 1:
            df = df.drop(SALT_COL)
        if not spec.sink.partition_by_bucket:
            df = df.drop(BUCKET_COL)
    return df


# Streaming can execute the row-level subset of the filter surface (plus
# stream-static joins and SQL over them); blocking stages (sort/limit) and
# bare aggregates (which need watermark + output-mode choices the batch spec
# doesn't carry) are rejected up front with a clear error.
_STREAM_SAFE_FILTERS = {
    "select",
    "drop",
    "rename",
    "cast",
    "filter",
    "with_column",
    "pandas",
    "join",
    "sql",
    "url_canonicalize",  # pure column expressions — map-only, streams as-is
    # r8 text append stages: struct-pack projections (operators/filters.py),
    # map-only, stream as-is; the batch-only siblings (repetition_stats,
    # minhash_dedup, pagerank) are NOT here — eager loops / corpus-wide
    # self-aggregation have no incremental form
    "text_stats",
    "quality_score",
    "language_id",
    "token_count",
    "fingerprint",
    "pii_scrub",
    "chunk",  # posexplode fan-out — per-row, no state
}


def _raise_classified(report: PipelineReport, exc: Exception) -> NoReturn:
    """Record a failed load's error on ``report`` and re-raise it
    classified (O13). A merge-commit conflict (retryable multi-writer
    contention, state consistent) and a ConfigError (the reference's
    ConfigException: fix the spec, don't retry) surface as they are; any
    other failure becomes RemoteTaskFailedDataError when it is the input
    data's fault, else RemoteTaskFailedError."""
    report.error = f"{type(exc).__name__}: {exc}"
    if isinstance(exc, (MergeCommitConflictError, ConfigError)):
        raise exc
    if _is_user_data_error(exc):
        raise RemoteTaskFailedDataError(report.error) from exc
    raise RemoteTaskFailedError(report.error) from exc


def _run_cdc_tail(spark: SparkSession, spec: PipelineSpec) -> PipelineReport:
    """Streaming consumption of a merge-sink change feed: a rate-limited
    version-tail loop that applies each committed version's increment
    through the SAME filter chain and sink machinery as the batch path —
    the natural consumer of the declarative CDC source.

    Execution model (deliberately NOT a Spark file-stream over
    ``_changelog/``): the changelog's commit point is the version MARKER,
    which a path-listing file source cannot honor — it would consume
    unmarked in-flight dirs and double-count stale-rebuilt part files.
    Each poll instead runs the shared version-tail protocol
    (:func:`..streaming.ingest._tail_versions`, the one every CDC
    composition uses): it reads the state pointer, reads the pending
    versions as one ``table_changes(lo, hi, per_version=True)`` span,
    applies each version's slice in commit order, and advances the
    checkpoint after each version commits — the shape of a foreachBatch
    consumer with the version as the epoch. A version whose raw feed is
    empty (an identical re-commit) advances the checkpoint with no sink
    write.

    Exactly-once across retries:

    - **file sinks** (parquet/orc/json/csv): each increment is written
      under a ``_commit_version=<v>`` partition with dynamic partition
      overwrite, so a retry of version v (crash after write, before the
      checkpoint advance) REPLACES that version's partition instead of
      appending duplicates — increments are deterministic (committed
      state + deterministic filter chain), so the rewrite is bit-equal.
    - **merge sinks**: the increment is upserted by key (keyed argmax);
      re-applying the same increment converges to the same state content
      (one extra no-op state version is the only trace of a retry). The
      sink receives the feed ROWS as an upsert batch — ``delete`` /
      ``update_preimage`` rows are data like any other; a consumer
      mirroring the source state filters ``_change_type`` in the chain
      (e.g. keep insert+update_postimage) rather than expecting the sink
      to interpret CDC semantics.

    Checkpoint: ``options.checkpoint`` (a directory). Omitted = a fresh
    tempdir, i.e. one bounded availableNow-style pass per call (the same
    durability the file-stream pipelines get from their per-run tempdir
    checkpointLocation); set it to make successive calls incremental and
    retries resumable. ``options.max_polls`` (default 1) and
    ``options.poll_seconds`` (default 1.0) turn the single pass into a
    rate-limited follow loop — each poll re-reads the pointer and drains
    any versions committed since.

    At 100 TB: each increment is one commit's changes — a changed-bucket
    pruned pair-diff, or with a materialized changelog a join-free pruned
    scan of one ``_changelog/v<N>/`` dir; per-poll driver work is one
    pointer read (O(1) metadata), so the loop's cost scales with change
    volume, never with state size.
    """
    import tempfile

    from pyspark.sql import Observation

    from ..sinks.changes import COMMIT_VERSION_COL, table_changes
    from ..sinks.writer import _merge_file_sink
    from ..spec import validate_table_changes_source
    from ..streaming.ingest import _tail_versions

    src = spec.source
    # re-validate at the dispatch: secondary entry paths must not skip
    # validation
    validate_table_changes_source(src)
    if not src.per_version:
        raise ConfigError(
            "streaming table_changes requires per_version: true (the tail "
            "applies per-commit increments; the net endpoint feed is a "
            "bounded two-snapshot diff — read it through run_pipeline)"
        )
    if spec.sink.type not in ("parquet", "orc", "json", "csv"):
        raise ConfigError(
            f"streaming table_changes sink type {spec.sink.type!r} is not "
            "supported (file sinks parquet|orc|json|csv, optionally with "
            "mode: merge); null/memory sinks are batch-only"
        )
    fmt = src.options.get("format", "parquet")
    try:
        max_polls = int(src.options.get("max_polls", 1))
        poll_seconds = float(src.options.get("poll_seconds", 1.0))
    except (ValueError, TypeError) as exc:
        raise ConfigError(f"bad max_polls/poll_seconds: {exc}") from exc
    if max_polls < 1:
        raise ConfigError(f"options.max_polls must be >= 1, got {max_polls}")
    if poll_seconds < 0:
        raise ConfigError(
            f"options.poll_seconds must be >= 0, got {poll_seconds}"
        )
    merge_mode = spec.sink.mode == "merge"
    version_sink = spec.sink
    if not merge_mode:
        if COMMIT_VERSION_COL in spec.sink.partition_by:
            raise ConfigError(
                f"sink partition_by already contains {COMMIT_VERSION_COL} "
                "(the streaming tail adds it as the exactly-once partition)"
            )
        from dataclasses import replace as _replace

        version_sink = _replace(
            spec.sink,
            mode="overwrite",
            partition_overwrite="dynamic",
            partition_by=(*spec.sink.partition_by, COMMIT_VERSION_COL),
        )
    bucket = BUCKET_COL if spec.sink.partition_by_bucket else None
    # one directory for every poll (an omitted checkpoint is one tempdir
    # per call, not per poll)
    ck_dir = src.options.get("checkpoint") or tempfile.mkdtemp(
        prefix="ckpt_cdc_tail_"
    )
    report = PipelineReport(partitioned=spec.partitioning is not None)

    def apply(v: int, inc: DataFrame) -> None:
        # the slice drops _commit_version; the file sink partitions on it
        # and merge mirrors order by it. Then the SAME stage pipeline as
        # the batch path (filter chain + bucket/salt repartition)
        df = _apply_stages(
            inc.withColumn(COMMIT_VERSION_COL, F.lit(v).cast("long")), spec
        )
        obs = Observation(f"cdc_tail_v{v}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if merge_mode:
            _merge_file_sink(df, spec.sink)
        else:
            write_sink(df, version_sink, bucket_col=bucket)
        try:
            rows = int(obs.get["rows"])
        except Exception as metric_exc:  # noqa: BLE001 — see run_pipeline
            rows = 0
            report.metrics_error = repr(metric_exc)
        report.input_rows += rows
        report.output_rows += rows

    t0 = time.time()
    try:
        for poll in range(max_polls):
            if poll:
                time.sleep(poll_seconds)
            _tail_versions(
                spark, src.path, ck_dir, src.from_version, src.to_version,
                "ckpt_cdc_tail_", apply,
                span_feed=lambda lo, hi: table_changes(
                    spark, src.path, list(src.keys), lo, hi, fmt=fmt,
                    per_version=True, use_changelog=src.use_changelog,
                ),
            )
        report.succeeded = True
    except Exception as exc:  # noqa: BLE001 — classify then re-raise
        _raise_classified(report, exc)
    finally:
        report.wall_seconds = time.time() - t0
    return report


def run_pipeline_streaming(spark: SparkSession, spec: PipelineSpec) -> PipelineReport:
    """Execute the SAME pipeline spec incrementally: readStream source →
    identical filter chain → writeStream file sink, driven to completion with
    availableNow (a bounded replay of the unbounded path — Structured
    Streaming's core promise, and the engine's unified batch/streaming story).
    The output multiset must equal the batch ``run_pipeline`` result
    (asserted in tests/test_streaming_reports.py).

    Partitioned specs stream too: the bucket(+salt) repartition and
    per-bucket directory layout apply per micro-batch.
    """
    import tempfile
    from pathlib import Path as _Path

    from ..sources.readers import _apply_column_formats, _csv_options, _read_schema
    from ..types import build_schema

    def _as_stream_dir(path: str) -> str:
        """File-stream sources watch a DIRECTORY; expose a single-file path
        through a tempdir symlink (read-only shim — production points at a
        real landing directory)."""
        p = _Path(path)
        if not p.is_file():
            return path
        watch = _Path(tempfile.mkdtemp(prefix="stream_src_"))
        (watch / p.name).symlink_to(p)
        return str(watch)

    spec.validate()
    for f in spec.filters:
        if f.type not in _STREAM_SAFE_FILTERS:
            raise ConfigError(
                f"filter type {f.type!r} is not streamable (eager iteration, "
                f"corpus-wide self-aggregation, or watermark/output-mode "
                f"semantics the batch spec does not carry); run it through "
                f"the batch path (run_pipeline)"
            )
    if spec.sink.type in ("null", "memory"):
        raise ConfigError(
            "streaming pipeline requires a file sink (null/memory sinks are "
            "batch-only — use run_pipeline for a dry run)"
        )
    if spec.source.invalid_record_path is not None:
        raise ConfigError(
            "invalid_record_path is not streamable (the quarantine split "
            "writes a second batch table); run the quarantine load with "
            "run_pipeline, or stream with skip semantics "
            "(stop_on_invalid_record: false drops malformed records)"
        )

    src = spec.source
    if (
        src.type in ("csv", "ltsv", "json")
        and not src.columns
        and src.options.get("guess")
    ):
        raise ConfigError(
            "options.guess is batch-only (a stream needs the schema before "
            "any file exists to sample); run `embulk guess`-style inference "
            "once via the batch path, then declare the columns it produced"
        )
    if src.type in ("csv", "parquet", "orc", "json", "text", "ltsv", "regex"):
        # same silent-zero-rows trap as the batch path, but worse here: a
        # file STREAM on a pointer-era merge state watches an (apparently)
        # empty directory forever — no error, no data (r12 residue close)
        from ..sources.readers import _reject_merge_state_path

        _reject_merge_state_path(src)
    if src.type == "csv":
        opts, skip_header, per_col = _csv_options(src)
        if skip_header > 1:
            raise ConfigError(
                "skip_header_lines > 1 is not streamable (Spark's stream CSV "
                "reader can only skip a single header line per file); run "
                "this source through the batch path (run_pipeline), which "
                "supports arbitrary skip_header_lines"
            )
        if skip_header == 1:
            opts["header"] = True
        # invalid-record policy parity with the batch path: fail vs DROP —
        # default PERMISSIVE would let a malformed line through as an
        # all-null row. (DROPMALFORMED's pruned-parse caveat doesn't bite
        # here: the sink materializes every column, so the full row is
        # always parsed.)
        opts["mode"] = "FAILFAST" if src.stop_on_invalid_record else "DROPMALFORMED"
        reader = spark.readStream.options(**opts).schema(_read_schema(src, per_col))
        df = reader.csv(_as_stream_dir(src.path))
        df = _apply_column_formats(df, per_col, src.stop_on_invalid_record)
    elif src.type in ("parquet", "orc", "json"):
        s_opts = dict(src.options)
        if src.type == "json" and src.columns:
            s_opts["mode"] = (
                "FAILFAST" if src.stop_on_invalid_record else "DROPMALFORMED"
            )
        if src.columns:
            schema = build_schema(list(src.columns))
        else:
            # file-stream sources require a schema; take it from a batch peek
            schema = getattr(spark.read.options(**s_opts), src.type)(
                src.path
            ).schema
        df = getattr(
            spark.readStream.options(**s_opts).schema(schema), src.type
        )(_as_stream_dir(src.path))
    elif src.type == "text":
        # line-oriented corpus stream (landing-directory tail for C4-style
        # text pipelines); wholetext is batch-only
        t_opts = dict(src.options)
        line_col = t_opts.pop("line_column", "line")
        if t_opts.pop("wholetext", False):
            raise ConfigError(
                "wholetext text source is not streamable (one-row-per-file "
                "reads are batch-only); run it through run_pipeline"
            )
        df = (
            spark.readStream.options(**{str(k): str(v) for k, v in t_opts.items()})
            .text(_as_stream_dir(src.path))
            .withColumnRenamed("value", line_col)
        )
    elif src.type in ("ltsv", "regex"):
        # parser-plugin analogs stream for free: the parse chain is
        # expression-only (sources/lineparsers.py), so the identical batch
        # parse applies to the text stream — stop/skip policy included
        from ..sources.lineparsers import (
            _text_options,
            parsed_ltsv_lines,
            parsed_regex_lines,
        )

        lines = spark.readStream.options(**_text_options(src)).text(
            _as_stream_dir(src.path)
        )
        parse = parsed_ltsv_lines if src.type == "ltsv" else parsed_regex_lines
        df = parse(lines, src)
    elif src.type == "table":
        raise ConfigError(
            "table source is not streamable (vanilla-Spark managed tables "
            "have no streaming-capable provider; readStream.table needs a "
            "Delta-class format); scan it through the batch path "
            "(run_pipeline)"
        )
    elif src.type == "table_changes":
        # the CDC tail is its own runner: per-version increments in commit
        # order with a checkpointed offset, not a file-stream (which cannot
        # honor the changelog's marker commit point) — see _run_cdc_tail
        return _run_cdc_tail(spark, spec)
    else:
        raise ConfigError(f"source type {src.type!r} is not streamable")

    from ..sources.readers import apply_json_type

    df = apply_json_type(df, src)  # json_type: variant opt-in (batch parity)
    # the SAME stage pipeline as the batch path (filter chain + bucket/salt
    # repartition; salt_expr is content-hash based, so it is deterministic
    # per micro-batch retry too) — one implementation (r12 review finding 4)
    df = _apply_stages(df, spec)

    report = PipelineReport(partitioned=spec.partitioning is not None)
    # recentProgress is capped (spark.sql.streaming.numRecentProgressUpdates,
    # default 100) — a long availableNow run would silently under-count rows.
    # Raise the retention so the post-run sum sees every micro-batch.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    t0 = time.time()
    try:
        if spec.sink.mode == "merge":
            # CDC-style streaming upsert: each micro-batch applies the SAME
            # keyed-argmax merge as the batch sink (foreachBatch — the
            # standard Spark bridge from a stream to a non-append sink).
            # State converges identically to replaying the batches through
            # run_pipeline because the merge is idempotent and
            # order-insensitive for versioned rows.
            from ..sinks.writer import _merge_file_sink

            writer = (
                df.writeStream.foreachBatch(
                    lambda batch_df, _epoch: _merge_file_sink(batch_df, spec.sink)
                )
                .option(
                    "checkpointLocation", tempfile.mkdtemp(prefix="ckpt_pipeline_")
                )
                .trigger(availableNow=True)
            )
            q = writer.start()
            q.awaitTermination()
        else:
            # the batch writer's per-format preparation (variant → json
            # text, csv quote/escape/header defaults, xml rowTag) — one
            # implementation, so batch and streaming runs of one spec
            # produce files the engine's own sources read back identically
            from ..sinks.writer import prepare_file_sink

            df, sink_opts = prepare_file_sink(df, spec.sink)
            # ltsv rides the text datasource (prepare rendered the line col)
            stream_fmt = "text" if spec.sink.type == "ltsv" else spec.sink.type
            writer = (
                df.writeStream.format(stream_fmt)
                .outputMode("append")
                .options(**{str(k): v for k, v in sink_opts.items()})
                .option(
                    "checkpointLocation", tempfile.mkdtemp(prefix="ckpt_pipeline_")
                )
                .trigger(availableNow=True)
            )
            part_cols = list(spec.sink.partition_by)
            if spec.sink.partition_by_bucket:
                part_cols = [BUCKET_COL, *part_cols]
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            q = writer.start(spec.sink.path)
            q.awaitTermination()
        report.succeeded = True
        report.input_rows = sum(int(p.numInputRows) for p in q.recentProgress)
        # append sinks commit exactly what they ingest; merge sinks may
        # collapse keys — input is the measurable figure either way (see
        # PipelineReport.input_rows)
        report.output_rows = report.input_rows
    except Exception as exc:  # noqa: BLE001 — classify then re-raise
        _raise_classified(report, exc)
    finally:
        report.wall_seconds = time.time() - t0
    return report


def run_pipeline(spark: SparkSession, spec: PipelineSpec) -> PipelineReport:
    """Execute the pipeline; classify failures user-data vs infra (O13)."""
    report = PipelineReport(partitioned=spec.partitioning is not None)
    errors = (
        task_error_accumulator(spark) if spec.source.type == "task" else None
    )
    t0 = time.time()
    try:
        from pyspark.sql import Observation

        if spec.source.invalid_record_path is not None:
            # quarantine split: bad records become an auditable JSON table,
            # good records continue through the identical stage chain
            from ..sources.guess import resolve_guess
            from ..sources.lineparsers import read_ltsv_split, read_regex_split
            from ..sources.readers import read_csv_split, read_json_split

            spec.validate()
            # the quarantine branch reads through the split fns, not the
            # dispatch — resolve options.guess here too, or a guess+
            # quarantine spec validates then dies on the empty schema
            source = resolve_guess(spark, spec.source)
            split = {
                "json": read_json_split,
                "ltsv": read_ltsv_split,
                "regex": read_regex_split,
            }.get(source.type, read_csv_split)
            clean, quarantine = split(spark, source)
            qobs = Observation("quarantine_metrics")
            quarantine = quarantine.observe(
                qobs, F.count(F.lit(1)).alias("rows")
            )
            quarantine.write.mode("overwrite").json(
                spec.source.invalid_record_path
            )
            report.quarantined_rows = int(qobs.get["rows"])
            df = _apply_stages(clean, spec)
        else:
            df = compile_pipeline(spark, spec, error_sink=errors)
        # row count measured IN the write pass via observe() — no second job
        # re-reading the committed output (and no csv-header recount bug).
        # The memory sink is eager by default (cache + count in write_sink),
        # so it observes too; only the opt-in LAZY memory view (options.eager
        # = false) skips the observation — obs.get would block forever on a
        # plan that never runs.
        lazy_memory = (
            spec.sink.type == "memory"
            and str(spec.sink.options.get("eager", "true")).lower() == "false"
        )
        obs = None
        if not lazy_memory:
            obs = Observation("pipeline_metrics")
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        bucket = BUCKET_COL if spec.sink.partition_by_bucket else None
        write_sink(df, spec.sink, bucket_col=bucket)
        report.succeeded = True
        if obs is not None:
            try:
                report.output_rows = int(obs.get["rows"])
            except Exception as metric_exc:  # noqa: BLE001
                # a plan that scheduled ZERO tasks (e.g. an empty merge
                # batch) may never deliver its CollectMetrics row; the only
                # thing it can have written is nothing. The exception is
                # RECORDED (ADVICE r4: a py4j/connection failure after a
                # non-empty write would otherwise silently report 0 rows) so
                # downstream consumers can distinguish "empty" from
                # "metrics unavailable".
                report.output_rows = 0
                report.metrics_error = repr(metric_exc)
        if spec.sink.type not in ("null", "memory") and spec.sink.path:
            # output tasks = committed data files (one per write task), a
            # filesystem listing rather than a Spark job
            from pathlib import Path

            if spec.sink.mode == "merge":
                # merge state: a recursive listing of the root
                # would sweep _trees/ across ALL retained versions (ADVICE
                # r4 — over-counting by the previous snapshot's replaced
                # bucket dirs); count only the dirs the CURRENT manifest
                # references
                from ..sinks.writer import (
                    _current_version,
                    _load_manifest,
                    _local,
                )

                local = _local(spec.sink.path)
                man = _load_manifest(local, _current_version(spec.sink.path))
                roots = [Path(local) / rel for rel in man["buckets"].values()]
                report.output_tasks = sum(
                    1
                    for root in roots
                    for p in root.rglob("part-*")
                    if not p.name.endswith(".crc")
                )
            else:
                report.output_tasks = sum(
                    1
                    for p in Path(spec.sink.path).rglob("part-*")
                    if not p.name.endswith(".crc")
                )
            # commit audit manifest (the reference surfaces per-task reports
            # via HDFS attempt-state files, O15; downstream orchestration
            # reads this instead of re-counting the output)
            import json as _json

            # manifest records the AS-WRITTEN schema: the file-sink
            # preparation can rewrite column types (variant → json text on
            # csv/orc, per-column timestamp formats → formatted strings on
            # csv), so the pre-write df's types would lie to downstream
            # readers (r12 review findings 3 + second pass). Re-deriving
            # the prepared frame is plan-only — no job runs.
            written = df
            if spec.sink.mode != "merge" and spec.sink.type in (
                "parquet",
                "csv",
                "json",
                "orc",
                "xml",
            ):
                from ..sinks.writer import prepare_file_sink

                written, _ = prepare_file_sink(df, spec.sink)
            manifest = {
                "rows": report.output_rows,
                "output_tasks": report.output_tasks,
                "columns": [
                    {"name": f.name, "type": f.dataType.simpleString()}
                    for f in written.schema.fields
                ],
                "partitioned": report.partitioned,
                "sink_type": spec.sink.type,
                "sink_mode": spec.sink.mode,
                "quarantined_rows": report.quarantined_rows,
            }
            (Path(spec.sink.path) / "_manifest.json").write_text(
                _json.dumps(manifest, indent=1)
            )
    except Exception as exc:  # noqa: BLE001 — classify then re-raise
        _raise_classified(report, exc)
    finally:
        if errors is not None:
            report.failed_tasks = sorted(errors.value)
        report.wall_seconds = time.time() - t0
    return report
