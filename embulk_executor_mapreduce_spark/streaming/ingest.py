"""Streaming ingest operators.

Design: every operator is a function DataFrame → DataFrame that works on BOTH
batch and streaming frames (Structured Streaming's core promise) — the same
bucket/window/dedup logic the batch engine uses, run incrementally. Tests and
the catalog drive them with ``availableNow`` over the parquet testdata +
a memory sink, which processes the full input as one incremental run and
stops — semantically a bounded replay of the unbounded path.

Watermarks bound state: an hourly windowed agg with a 2-hour watermark keeps
O(active windows) state per key regardless of input size — the property that
matters at 100 TB/day ingest.
"""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_ts_field(sf_dir: str) -> T.DataType:
    """Metadata-only probe of the events table's physical ``ts`` encoding.

    The testdata generator has shipped three encodings across rounds (see
    catalog.load): TIMESTAMP(NANOS) → read as long under the nanosAsLong
    legacy conf; TIMESTAMP(MICROS) isAdjustedToUTC=false → TIMESTAMP_NTZ;
    isAdjustedToUTC=true → TIMESTAMP. A streaming read needs the schema up
    front, so probe the footer (pyarrow, no data read) instead of guessing.
    """
    import pyarrow.parquet as pq

    t = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    # Unit first: nanosAsLong reads TIMESTAMP(NANOS) as bigint regardless of
    # isAdjustedToUTC, so 'timestamp[ns, tz=UTC]' must land in the long branch.
    if getattr(t, "unit", None) == "ns":
        return T.LongType()
    if getattr(t, "tz", None) is None:
        return T.TimestampNTZType()
    return T.TimestampType()


def events_stream_schema(sf_dir: str) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", _events_ts_field(sf_dir)),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental parquet source over the events table (stand-in for a Kafka
    topic; swap format for production). Normalizes ``ts`` to TimestampType
    whatever its physical encoding (nanos-long → integer-division micros;
    NTZ → cast, identical instant under the pinned-UTC session).

    The file-stream source wants a directory to watch; the testdata table is
    a single file, so expose it through a tempdir symlink (read-only shim —
    production points at a real landing directory).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    watch_dir = Path(tempfile.mkdtemp(prefix="events_stream_"))
    (watch_dir / "events.parquet").symlink_to(f"{sf_dir}/events.parquet")
    raw = spark.readStream.schema(events_stream_schema(sf_dir)).parquet(str(watch_dir))
    ts_type = dict(raw.dtypes)["ts"]
    if ts_type == "bigint":
        # Floor (not truncate) nanos→micros so pre-epoch values with sub-µs
        # components land on the same instant as the batch path (catalog.load
        # uses the identical form). `div` alone truncates toward zero, which
        # is 1 µs late for negative nanos.
        return raw.withColumn(
            "ts", F.expr("timestamp_micros((ts - pmod(ts, 1000)) div 1000)")
        )
    if ts_type == "timestamp_ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def hourly_counts_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windowed counts with late-data watermark. State per
    (window, event_type) only while the window can still receive data."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        # exact scaled-integer sum (order-independent across micro-batches;
        # see exactmath module note)
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))) / F.lit(100.0)).alias(
                "sum_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_sec"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "4 hours"
) -> DataFrame:
    """Session windows (dynamic-length, gap-closed) per user — Structured
    Streaming's native sessionization (``F.session_window``), state bounded by
    the watermark. Emits one row per closed session: (user_id,
    session_start_sec, n_events, sum_value_cents-exact)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))) / F.lit(100.0)).alias(
                "sum_value"
            ),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start_sec"),
            "n_events",
            "sum_value",
        )
    )


def sliding_enriched_stream(
    events: DataFrame,
    segments: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window aggregation over a stream ENRICHED by a static
    dimension — the two streaming shapes the rest of the catalog doesn't
    cover:

    * **stream-static join**: the static side (a per-user segment lookup)
      is broadcast into every micro-batch — no join state, no watermark
      needed on the static side; the canonical dimension-enrichment shape.
    * **sliding windows**: ``F.window(ts, window, slide)`` assigns each
      event to ``window/slide`` overlapping windows (2 here); state is per
      (window, segment) and expires at the watermark like tumbling windows.

    Exactmath discipline: value sums accumulate as integer cents so the
    result is identical however events are split across micro-batches.
    ``segments`` must carry (user_id, segment).
    """
    enriched = events.join(F.broadcast(segments), "user_id")
    return (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "segment")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))) / F.lit(100.0)).alias(
                "sum_value"
            ),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_sec"),
            "segment",
            "n_events",
            "sum_value",
        )
    )


def stream_stream_join(
    events: DataFrame, horizon: str = "1 day", watermark: str = "2 days"
) -> DataFrame:
    """Stream-stream inner join with an event-time range constraint: each
    purchase joins the same user's signups within the preceding ``horizon``.
    Both sides are watermarked and the join carries the time bound, so Spark
    can expire buffered state — the requirement for unbounded-input joins.
    Emits (user_id, p_event_id, s_event_id); inner-join matches stream out as
    they are found (no window close needed)."""
    p = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event_id"),
        )
        .withWatermark("p_ts", watermark)
    )
    s = (
        events.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user_id"),
            F.col("ts").alias("s_ts"),
            F.col("event_id").alias("s_event_id"),
        )
        .withWatermark("s_ts", watermark)
    )
    return p.join(
        s,
        (F.col("user_id") == F.col("s_user_id"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr(f"interval {horizon}")),
    ).select("user_id", "p_event_id", "s_event_id")


def streaming_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once-per-key within the watermark horizon
    (dropDuplicatesWithinWatermark) — the streaming analog of exact dedup."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_stream_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drive a streaming frame to completion with availableNow and return the
    materialized result (bounded replay of the incremental path)."""
    spark = df.sparkSession
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"ckpt_{name}_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


SESSION_STATE_SCHEMA = "user_id LONG, n_events LONG, total_value DOUBLE"


def stateful_user_rollup(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running rollup (event count + value sum) maintained in the state
    store across micro-batches — the escape hatch for operators Spark's
    built-in stateful ops can't express (reference analog: an Embulk
    FilterPlugin holding state). Emits the updated rollup for every user seen
    in each batch; with availableNow replay the final row per user must equal
    the batch groupBy (asserted in tests + the catalog's DuckDB oracle).

    Exactmath discipline: the state holds the value sum as integer CENTS
    (per-row ``floor(v*100+0.5)`` then exact int64 sum) — a float accumulator
    would make the emitted total depend on row arrival order across
    micro-batches, which no batch oracle could reproduce."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(
                np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype(np.int64).sum()
            )
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
        )

    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSION_STATE_SCHEMA,
        stateStructType="n_events LONG, total_cents LONG",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _claim_tagged_sink(
    state_path: str,
    corpus_path: str,
    merge_key: tuple[str, ...],
    merge_order: tuple[str, ...],
    merge_buckets: int,
    step,
):
    """The one batch body behind every claim-tagged ``foreachBatch`` sink
    (exact, near-dup, semantic, two-level semantic, image): persist the
    batch, read the committed state (explicit :func:`_artifacts_ready`
    probe, not try/except — a read error on a PRESENT state must surface,
    never silently dedup against nothing), run the sink's ``step``, then
    write.

    ``step(batch, state, claim)`` returns ``(corpus_rows, delta,
    artifact_writes)``: the batch's surviving corpus rows, the state delta
    to merge on ``merge_key`` ordered by ``merge_order``, and zero-arg
    artifact writers (trained centroids) that run sequentially and FIRST —
    a crash after them re-loads the identical artifacts, a crash before
    them retrains bit-identically (deterministic trainers).

    Exactly-once from at-least-once: ``foreachBatch`` may re-run a batch
    after a partial failure, so both remaining writes are per-batch
    idempotent —

    * the corpus rows go to a batch-scoped partition directory
      (``ingest_batch=<id>``, mode=overwrite): a retry overwrites its own
      rows, never duplicates them;
    * the state merge is keyed with a deterministic delta, so re-merging
      it is a no-op;
    * ``step`` dedups with ``claim=lit(batch_id)``: a retry whose state
      merge already committed re-admits exactly its own claims and
      reproduces the same corpus rows (without the claim column, the
      retry would see its own rows in state, emit nothing, and the dir
      overwrite would LOSE the batch).

    Being idempotent in ANY completion order, the corpus write and the
    state merge run as independent concurrent actions
    (:func:`...session.run_independent_actions`), so one action's driver
    planning tail hides under the other's execution."""
    from ..session import run_independent_actions
    from ..sinks.writer import read_merge_state, write_sink
    from ..spec import SinkSpec

    sink = SinkSpec(
        type="parquet",
        path=state_path,
        mode="merge",
        merge_key=merge_key,
        merge_order=merge_order,
        merge_buckets=merge_buckets,
    )

    def _process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # the step runs several actions over the same micro-batch scan
        batch = batch.persist()
        try:
            state = (
                read_merge_state(spark, state_path)
                if _artifacts_ready(state_path)
                else None
            )
            novel, delta, artifact_writes = step(batch, state, F.lit(batch_id))
            for write in artifact_writes:
                write()
            run_independent_actions(
                lambda: novel.write.mode("overwrite").parquet(
                    f"{corpus_path}/ingest_batch={batch_id}"
                ),
                lambda: write_sink(delta, sink),
            )
        finally:
            batch.unpersist()

    return _process


def _run_foreach_batch(stream: DataFrame, process, checkpoint: str) -> None:
    """Drive ``stream`` through the ``foreachBatch`` body ``process`` to
    completion (availableNow — bounded replay of the unbounded crawl; the
    checkpoint + claim-tagged state give exactly-once across restarts)."""
    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_dedup_sink(
    state_path: str,
    corpus_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    merge_buckets: int = 64,
):
    """``foreachBatch`` body for the continuous-crawl corpus dedup loop: each
    micro-batch keeps only never-seen content (against the persisted
    fingerprint state AND within the batch), appends it to the corpus, and
    merges the fingerprint delta into state through the bucket-pruned merge
    sink keyed on ``text_hash`` — per-batch cost is O(batch), never
    O(corpus) or O(state). Exactly-once construction:
    :func:`_claim_tagged_sink`. The returned function is also the unit the
    retry tests drive directly."""
    from ..operators.dedup import incremental_dedup

    def step(batch, seen, claim):
        novel, delta = incremental_dedup(batch, seen, text_col, id_col, claim=claim)
        return novel, delta, ()

    return _claim_tagged_sink(
        state_path, corpus_path, ("text_hash",), ("keep_doc_id",),
        merge_buckets, step,
    )


def run_incremental_dedup_stream(
    docs: DataFrame,
    state_path: str,
    corpus_path: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    merge_buckets: int = 64,
) -> None:
    """Drive a document stream through :func:`incremental_dedup_sink` to
    completion (availableNow — bounded replay of the unbounded crawl)."""
    _run_foreach_batch(
        docs,
        incremental_dedup_sink(
            state_path, corpus_path, text_col, id_col, merge_buckets
        ),
        checkpoint,
    )


def incremental_neardup_sink(
    state_path: str,
    corpus_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    merge_buckets: int = 64,
    min_matches: int = 12,
):
    """``foreachBatch`` body for the continuous-crawl NEAR-dup loop — the
    fuzzy sibling of :func:`incremental_dedup_sink`: MinHash band rows
    merge into the band index on ``(id, band)``, with the same
    exactly-once construction (:func:`_claim_tagged_sink`)."""
    from ..operators.dedup import incremental_minhash_dedup

    def step(batch, seen, claim):
        novel, delta = incremental_minhash_dedup(
            batch, seen, text_col, id_col, min_matches=min_matches, claim=claim
        )
        return novel, delta, ()

    return _claim_tagged_sink(
        state_path, corpus_path, (id_col, "band"), ("band_key",),
        merge_buckets, step,
    )


def incremental_semantic_sink(
    state_path: str,
    corpus_path: str,
    centroid_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    merge_buckets: int = 64,
    k: int | None = None,
    iters: int = 2,
    threshold_micro: int = 250_000,
):
    """``foreachBatch`` body for the continuous-crawl SEMANTIC dedup loop —
    the embedding sibling of :func:`incremental_neardup_sink`, same
    exactly-once construction (:func:`_claim_tagged_sink`).

    Centroid lifecycle: the FIRST batch trains the table (deterministic
    Lloyd's — a replay retrains bit-identically, so the overwrite is
    idempotent) and persists it BEFORE any corpus or state write; every
    later batch loads and assigns only. The load is an existence probe,
    not try/except: a transient read error on a PRESENT centroid table
    must surface — an except branch would silently RETRAIN on this batch
    and overwrite the table every committed state row was assigned
    against. Centroid drift over a long crawl is handled offline (retrain
    on a sample + one-pass state re-assignment), not in the hot loop."""
    from ..operators.dedup import incremental_semantic_dedup

    def step(batch, state, claim):
        spark = batch.sparkSession
        cents = (
            spark.read.parquet(centroid_path)
            if _artifacts_ready(centroid_path)
            else None
        )
        novel, delta, trained = incremental_semantic_dedup(
            batch,
            state,
            cents,
            vec_col=vec_col,
            id_col=id_col,
            k=k,
            iters=iters,
            threshold_micro=threshold_micro,
            claim=claim,
        )
        writes = ()
        if trained is not None:
            writes = (lambda: trained.write.mode("overwrite").parquet(centroid_path),)
        return novel, delta, writes

    return _claim_tagged_sink(
        state_path, corpus_path, (id_col, "cell"), ("nrm",),
        merge_buckets, step,
    )


def incremental_semantic_two_level_sink(
    state_path: str,
    corpus_path: str,
    centroid_path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    merge_buckets: int = 64,
    coarse_k: int | None = None,
    sub_k: int | None = None,
    iters: int = 2,
    threshold_micro: int = 250_000,
):
    """``foreachBatch`` body for the TWO-LEVEL continuous-crawl semantic
    dedup loop — :func:`incremental_semantic_sink` past the flat-k 65536
    broadcast cap: the first batch trains BOTH centroid levels (persisted
    as ``{centroid_path}/coarse`` and ``/sub``), every later batch assigns
    against the stored pair (two broadcast joins, no retraining) and
    dedups on the leaf key (cell, scid). Same exactly-once construction
    (:func:`_claim_tagged_sink`), deterministic trainers so replays are
    bit-identical.

    The two centroid writes are not atomic; ``sub`` is written last, so a
    crash between them leaves coarse-without-sub. The loader treats ANY
    missing half as untrained and the retry retrains both —
    deterministically identical, overwrite-safe."""
    from ..operators.dedup import incremental_semantic_dedup_two_level

    coarse_path, sub_path = f"{centroid_path}/coarse", f"{centroid_path}/sub"

    def step(batch, state, claim):
        spark = batch.sparkSession
        cents = (
            (spark.read.parquet(coarse_path), spark.read.parquet(sub_path))
            if _artifacts_ready(coarse_path, sub_path)
            else None
        )
        novel, delta, trained = incremental_semantic_dedup_two_level(
            batch,
            state,
            cents,
            vec_col=vec_col,
            id_col=id_col,
            coarse_k=coarse_k,
            sub_k=sub_k,
            iters=iters,
            threshold_micro=threshold_micro,
            claim=claim,
        )
        writes = ()
        if trained is not None:
            writes = (
                lambda: trained[0].write.mode("overwrite").parquet(coarse_path),
                lambda: trained[1].write.mode("overwrite").parquet(sub_path),
            )
        return novel, delta, writes

    return _claim_tagged_sink(
        state_path, corpus_path, (id_col, "cell"), ("nrm",),
        merge_buckets, step,
    )


def run_incremental_semantic_stream(
    vectors: DataFrame,
    state_path: str,
    corpus_path: str,
    centroid_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    merge_buckets: int = 64,
    k: int | None = None,
    threshold_micro: int = 250_000,
) -> None:
    """Drive an embedding stream through :func:`incremental_semantic_sink`
    to completion (availableNow — bounded replay of the unbounded crawl;
    the checkpoint + claim-tagged state give exactly-once across restarts,
    same contract as :func:`run_incremental_dedup_stream`)."""
    _run_foreach_batch(
        vectors,
        incremental_semantic_sink(
            state_path,
            corpus_path,
            centroid_path,
            vec_col=vec_col,
            id_col=id_col,
            merge_buckets=merge_buckets,
            k=k,
            threshold_micro=threshold_micro,
        ),
        checkpoint,
    )


def run_incremental_semantic_two_level_stream(
    vectors: DataFrame,
    state_path: str,
    corpus_path: str,
    centroid_path: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    merge_buckets: int = 64,
    coarse_k: int | None = None,
    sub_k: int | None = None,
    threshold_micro: int = 250_000,
) -> None:
    """Drive an embedding stream through
    :func:`incremental_semantic_two_level_sink` to completion (availableNow
    — bounded replay of the unbounded crawl; checkpoint + claim-tagged
    state give exactly-once across restarts, same contract as
    :func:`run_incremental_semantic_stream`)."""
    _run_foreach_batch(
        vectors,
        incremental_semantic_two_level_sink(
            state_path,
            corpus_path,
            centroid_path,
            vec_col=vec_col,
            id_col=id_col,
            merge_buckets=merge_buckets,
            coarse_k=coarse_k,
            sub_k=sub_k,
            threshold_micro=threshold_micro,
        ),
        checkpoint,
    )


def _artifacts_ready(*paths: str) -> bool:
    """True iff EVERY persisted-artifact path is COMMITTED, judged by its
    commit marker — the ``_CURRENT`` pointer for merge-sink states, the
    ``_SUCCESS`` marker for plain parquet artifact dirs — never by bare
    directory existence (r14 advisor finding: a crash during the FIRST
    state merge, or mid-way through a centroid/codebook parquet write,
    leaves a directory without a marker; calling that "present" made every
    retry fail permanently on read, whereas calling it absent lets the
    retry rebuild deterministically). A transient IO error on a COMMITTED
    artifact still surfaces at read time — the probe never wraps the read
    in try/except (r13 review finding)."""
    import os

    from ..sinks.writer import _local, _pointer_version

    def _committed(p: str) -> bool:
        local = _local(p)
        if not os.path.exists(local):
            return False
        if _pointer_version(local) is not None:
            return True  # committed merge-sink state
        return os.path.exists(os.path.join(local, "_SUCCESS"))

    return all(_committed(p) for p in paths)


#: catch-up chunk size: a tail computes at most this many adjacent-pair
#: diffs as ONE persisted span plan. Bounds the span cache at this many
#: commits' changed rows.
_FUSE_SPAN = 16


def _tail_versions(
    spark: SparkSession,
    source_path: str,
    checkpoint: str | None,
    from_version: int,
    to_version: int | None,
    tmp_prefix: str,
    apply,
    span_feed,
    max_span: int | None = None,
) -> int:
    """The version-tail protocol shared by every CDC consumer (the four
    ``run_cdc_*_ingest`` compositions and the declarative tail,
    ``plans/compiler._run_cdc_tail``): load the fsync'd checkpoint
    (corrupt → ConfigError naming the file; delivery is idempotent so
    deleting it restarts safely), guard the upstream pointer, apply
    committed versions in order via ``apply(v, batch)``, and advance the
    checkpoint AFTER each version commits — a crash anywhere re-runs
    exactly one version, which every ``apply`` body must make idempotent.
    Returns the last applied version.

    Pending versions are read in chunks of at most ``_FUSE_SPAN``: each
    chunk is ONE ``span_feed(lo, hi)`` plan, persisted once; version
    presence comes from one distinct-collect over it, and each present
    version's increment is a filter on ``_commit_version`` over the
    cached span. A one-version catch-up is a one-version span. The span
    union is the same per-pair ``snapshot_diff`` construction a
    single-pair read runs (``sinks/changes.table_changes``), so each
    slice is bit-equal to that version's own feed; a crash mid-chunk
    resumes by building a fresh span from the last committed version.

    ``span_feed(lo, hi)`` returns the consumer's feed for ``(lo, hi]``,
    already filtered/projected, PLUS the ``_commit_version`` column.
    ``apply(v, batch)`` receives version v's NON-EMPTY slice with that
    column dropped; a version absent from the span is an empty increment
    — the checkpoint advances with no ``apply`` call, so no consumer ever
    trains artifacts on, or commits a no-op state version for, an empty
    batch.

    ``max_span``: a consumer-specific ceiling on the chunk size — the
    default is tuned for row-light feeds (postings rows, vectors); a
    PAYLOAD-heavy feed (the image composition: raw encoded bytes ride
    the span cache until its last version applies) passes a lower bound
    so the pinned bytes stay ~that many commits deep."""
    import json as _json
    import os
    import tempfile

    from ..errors import ConfigError
    from ..session import aqe_cached_plan_scope
    from ..sinks.changes import COMMIT_VERSION_COL
    from ..sinks.writer import _current_version, _fsync_write

    ck_dir = checkpoint or tempfile.mkdtemp(prefix=tmp_prefix)
    os.makedirs(ck_dir, exist_ok=True)
    ck_file = os.path.join(ck_dir, "offset.json")
    start = from_version
    # open-and-catch, not exists→open (TOCTOU discipline): a missing
    # checkpoint means "start from from_version"; a PRESENT but unreadable
    # one must not silently reprocess delivered versions
    try:
        with open(ck_file) as f:
            start = max(start, int(_json.load(f)["last_version"]))
    except FileNotFoundError:
        pass
    except (ValueError, KeyError, TypeError) as exc:
        raise ConfigError(
            f"corrupt CDC checkpoint {ck_file!r} ({exc}); delete it to "
            "restart from from_version (per-version delivery is idempotent)"
        ) from exc
    current = _current_version(source_path)
    to_v = current if to_version is None else min(current, to_version)
    chunk = _FUSE_SPAN if max_span is None else min(_FUSE_SPAN, max(1, max_span))
    last = lo = start
    while lo < to_v:
        hi = min(lo + chunk, to_v)
        # scoped AQE-in-cache: the span plan materializes once with
        # runtime coalescing/broadcasts; the scope must open BEFORE
        # .persist() (the flag binds at cache registration — see
        # session.aqe_cached_plan_scope)
        with aqe_cached_plan_scope(spark):
            feed = span_feed(lo, hi).persist()
            try:
                present = {
                    r[0]
                    for r in feed.select(COMMIT_VERSION_COL)
                    .distinct()
                    .collect()
                }
                for v in range(lo + 1, hi + 1):
                    if v in present:
                        apply(
                            v,
                            feed.filter(
                                F.col(COMMIT_VERSION_COL) == v
                            ).drop(COMMIT_VERSION_COL),
                        )
                    # an absent version is an empty increment: the
                    # checkpoint advances with no apply call
                    _fsync_write(ck_file, _json.dumps({"last_version": v}))
                    last = v
            finally:
                feed.unpersist()
        lo = hi
    return last


def _span_batch(
    spark: SparkSession, source_path: str, keys: list[str],
    lo: int, hi: int, id_col: str, vec_col: str,
) -> DataFrame:
    """The ``span_feed`` of the vector and image compositions: every
    version in ``(lo, hi]``'s NEW CONTENT in one per-version change-feed
    plan — insert/update_postimage rows only (delete/update_preimage rows
    are state mirror-keeping, not corpus content), projected to (id,
    value) and tagged by ``_commit_version``."""
    from ..sinks.changes import (
        CHANGE_TYPE_COL,
        COMMIT_VERSION_COL,
        table_changes,
    )

    return (
        table_changes(spark, source_path, keys, lo, hi, per_version=True)
        .filter(F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage"))
        .select(id_col, vec_col, COMMIT_VERSION_COL)
    )


def run_cdc_semantic_ingest(
    spark: SparkSession,
    source_path: str,
    keys: list[str],
    state_path: str,
    corpus_path: str,
    centroid_path: str,
    checkpoint: str | None = None,
    from_version: int = 0,
    to_version: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    merge_buckets: int = 64,
    coarse_k: int | None = None,
    sub_k: int | None = None,
    iters: int = 2,
    threshold_micro: int = 250_000,
) -> int:
    """CDC tail × semantic dedup composition — the production wiring for
    continuous training-data ingest: a ``table_changes`` follow-mode feed
    over an upstream merge-sink table
    drives :func:`incremental_semantic_two_level_sink`, one per-commit
    increment per ``foreachBatch``-style call, with the COMMIT VERSION as
    the batch id / exactly-once claim.

    Version-tail discipline is the shared :func:`_tail_versions`; both
    halves of a re-run version are idempotent by construction:

    - the corpus write lands under ``ingest_batch=<version>`` (overwrite —
      bit-equal recompute, per the deterministic trainer/assigner);
    - the state merge is claim-tagged ``claim=lit(version)``, so a retry
      whose merge already committed reconstructs the pre-batch state view
      (the against-state lookup ignores its own claims) and converges to
      the same survivors instead of dropping the batch as all-duplicate.

    An EMPTY increment (delete-only or no-op commit) never reaches the
    sink — :func:`_tail_versions` advances the checkpoint without an
    ``apply`` call — so the centroid pair is never trained on an empty
    batch (which would persist empty centroids and silently drop every
    later version's content) and no no-op state version is committed.

    At 100 TB: per version the feed is a changed-bucket pruned diff, the
    dedup is assign-only against broadcast centroids + the bucket-pruned
    band state — nothing scales with either the upstream table size or
    the accumulated corpus.

    Returns the last applied version (``from_version`` if none pending).
    """
    process = incremental_semantic_two_level_sink(
        state_path,
        corpus_path,
        centroid_path,
        vec_col=vec_col,
        id_col=id_col,
        merge_buckets=merge_buckets,
        coarse_k=coarse_k,
        sub_k=sub_k,
        iters=iters,
        threshold_micro=threshold_micro,
    )

    return _tail_versions(
        spark, source_path, checkpoint, from_version, to_version,
        "ckpt_cdc_sem_", lambda v, batch: process(batch, v),
        span_feed=lambda lo, hi: _span_batch(
            spark, source_path, keys, lo, hi, id_col, vec_col
        ),
    )


def run_cdc_postings_ingest(
    spark: SparkSession,
    source_path: str,
    keys: list[str],
    index_root: str,
    checkpoint: str | None = None,
    from_version: int = 0,
    to_version: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    merge_buckets: int = 64,
    delete_col: str | None = None,
) -> int:
    """CDC tail × persisted BM25 postings index — continuous
    lexical-index maintenance under :func:`_tail_versions`: a
    ``table_changes`` follow-mode feed over an upstream documents merge
    table keeps the term-bucketed postings + stats deltas current, one
    committed version per increment, via
    :func:`...operators.search.bm25_index_delta`:

    * insert/update_postimage rows re-tokenize ASSIGN-ONLY into postings
      upserts on ``(term, doc_id)``;
    * delete/update_preimage rows supply the OLD term sets — dropped
      pairs retire through keyed-DELETE tombstones (never an index probe
      by doc_id, which the term-bucketed layout couldn't prune);
    * the version's net ``(n_delta, sumdl_delta)`` lands in its own
      idempotent stats dir.

    ``delete_col``: the UPSTREAM table's tombstone marker, when it uses
    keyed DELETE — upstream retirements then arrive as ``delete`` rows
    carrying the last live text and cascade into the index as tombstones
    (the full right-to-be-forgotten path, upstream to serving).

    An EMPTY increment (no-op re-commit) advances the checkpoint only
    (the :func:`_tail_versions` rule) — no empty stats dir, no no-op
    postings version. Redelivery of a version is idempotent end to end
    (same rows at the same ``_ingest_version``, same stats dir content).
    No training artifacts exist on this path, so there is no
    first-increment deferral to get wrong. Returns the last applied
    version."""
    from ..operators.search import bm25_index_delta
    from ..sinks.changes import CHANGE_TYPE_COL, table_changes

    def apply(v: int, feed: DataFrame) -> None:
        # the slice filters the persisted span cache: every feed row is
        # consumed (insert/update_postimage → new, delete/update_preimage
        # → old) by several actions without recomputing the diff
        ct = F.col(CHANGE_TYPE_COL)
        bm25_index_delta(
            feed.filter(ct.isin("insert", "update_postimage")).select(
                id_col, text_col
            ),
            feed.filter(ct.isin("delete", "update_preimage")).select(
                id_col, text_col
            ),
            index_root,
            version=v,
            id_col=id_col,
            text_col=text_col,
            merge_buckets=merge_buckets,
        )

    return _tail_versions(
        spark, source_path, checkpoint, from_version, to_version,
        "ckpt_cdc_post_", apply,
        span_feed=lambda lo, hi: table_changes(
            spark, source_path, keys, lo, hi, per_version=True,
            delete_col=delete_col,
        ),
    )


def run_cdc_ann_index_ingest(
    spark: SparkSession,
    source_path: str,
    keys: list[str],
    index_root: str,
    checkpoint: str | None = None,
    from_version: int = 0,
    to_version: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_sub: int = 4,
    sub_dim: int = 16,
    n_codes: int = 16,
    merge_buckets: int = 64,
) -> int:
    """CDC tail × persisted ANN index composition — continuous index
    maintenance, the sibling of :func:`run_cdc_semantic_ingest`: a
    ``table_changes`` follow-mode feed over an upstream embeddings merge
    table keeps the IVF-PQ index current, one committed version per
    increment.

    Artifact lifecycle mirrors the semantic sink's centroid rule: the
    first NON-EMPTY delivered increment trains the centroid table + PQ
    codebook (deterministic sort-limit stand-in / swap for kmeans_train —
    a replay retrains bit-identically, so the overwrite is idempotent)
    and persists BOTH to ``{index_root}/centroids`` + ``/codebook``
    BEFORE any index write; every later increment probes their existence
    explicitly (:func:`_artifacts_ready` — a read error on a present
    artifact surfaces, it never silently retrains) and assigns only. An
    EMPTY increment (delete-only or no-op commit) never reaches ``apply``
    (the :func:`_tail_versions` rule), so no empty artifacts are trained
    and no no-op state version is committed.

    Index deltas upsert through the merge sink on ``(cand_id, s)``
    ordered by the monotone ``_ingest_version`` column — so when an
    upstream UPDATE re-assigns a vector, the LATEST version's codes win
    regardless of how the code numbers happen to compare (ordering by
    ``code`` would keep whichever code sorted higher).
    Redelivery of a version rewrites the same (key, version) rows —
    idempotent with no claim machinery.

    Scope note (documented, standard): ``delete`` rows do NOT remove index
    entries inline — a deleted vector's codes go stale until the
    maintenance compaction, exactly FAISS's remove-then-rebuild posture;
    the search side re-ranks against the CURRENT corpus, so stale entries
    cost shortlist slots, never wrong vectors. Reconcile on the
    deployment's schedule with
    :func:`...operators.similarity.ann_index_compact` — an
    anti-join against the current corpus keys rewriting only the stale
    ids' buckets, after which the index is bit-identical to a fresh
    assign of the current corpus against the same frozen artifacts.

    Returns the last applied version (``from_version`` if none pending).
    """
    from ..operators.similarity import ivf_pq_index_assign, ivf_pq_index_train
    from ..sinks.writer import write_sink
    from ..spec import SinkSpec

    cents_path = f"{index_root}/centroids"
    cb_path = f"{index_root}/codebook"
    sink = SinkSpec(
        type="parquet",
        path=f"{index_root}/index",
        mode="merge",
        merge_key=("cand_id", "s"),
        merge_order=("_ingest_version",),
        sort_by=("cid",),
        merge_buckets=merge_buckets,
    )

    def apply(v: int, batch: DataFrame) -> None:
        if not _artifacts_ready(cents_path, cb_path):
            cents, cb = ivf_pq_index_train(
                batch,
                id_col=id_col,
                vec_col=vec_col,
                n_centroids=n_centroids,
                n_sub=n_sub,
                sub_dim=sub_dim,
                n_codes=n_codes,
                # "lowest": the first delivered increment's ids need not
                # start near 0, and an id-prefix filter over such a batch
                # would train EMPTY artifacts (r14; see ivf_pq_index_train)
                selection="lowest",
            )
            # codebook last, so a partial pair is always
            # centroids-without-codebook (→ next increment retrains both)
            cents.write.mode("overwrite").parquet(cents_path)
            cb.write.mode("overwrite").parquet(cb_path)
        write_sink(
            ivf_pq_index_assign(
                batch,
                spark.read.parquet(cents_path),
                spark.read.parquet(cb_path),
                id_col=id_col,
                vec_col=vec_col,
                n_sub=n_sub,
                sub_dim=sub_dim,
            ).withColumn("_ingest_version", F.lit(v)),
            sink,
        )

    return _tail_versions(
        spark, source_path, checkpoint, from_version, to_version,
        "ckpt_cdc_ann_", apply,
        span_feed=lambda lo, hi: _span_batch(
            spark, source_path, keys, lo, hi, id_col, vec_col
        ),
    )


def incremental_image_sink(
    state_path: str,
    corpus_path: str,
    id_col: str = "img_id",
    payload_col: str = "payload",
    bands: int = 4,
    max_hamming: int = 6,
    merge_buckets: int = 64,
):
    """``foreachBatch`` body for the continuous-crawl IMAGE near-dup loop
    — the perceptual sibling of :func:`incremental_dedup_sink`: each batch
    of ``(id, payload)`` images is dHashed over real decoded pixels
    (:func:`...operators.images.image_dhash` — one Arrow pass) and
    deduped against the persisted ``(band, bkey, img_id, dhash)`` band
    index via :func:`...operators.images.incremental_image_neardup`;
    survivors' payload rows land in a batch-scoped idempotent corpus dir
    and their band rows merge claim-tagged into the state.

    Same exactly-once construction as every sibling sink
    (:func:`_claim_tagged_sink`; hashing is deterministic, so a replay
    recomputes bit-identically). The step joins the survivors back to
    their payloads before the corpus write. Undecodable payloads pass
    through as novel corpus rows and never enter the index (NULL-hash
    contract)."""
    from ..operators.images import image_dhash, incremental_image_neardup

    def step(batch, state, claim):
        hashes = image_dhash(
            batch.select(F.col(id_col), F.col(payload_col)), id_col=id_col
        ).select(id_col, "dhash")
        novel, delta = incremental_image_neardup(
            hashes,
            state,
            id_col=id_col,
            bands=bands,
            max_hamming=max_hamming,
            claim=claim,
        )
        corpus = novel.join(batch, on=id_col, how="inner").select(
            id_col, payload_col, "dhash"
        )
        return corpus, delta, ()

    return _claim_tagged_sink(
        state_path, corpus_path, (id_col, "band"), ("bkey",),
        merge_buckets, step,
    )


def run_cdc_image_ingest(
    spark: SparkSession,
    source_path: str,
    keys: list[str],
    state_path: str,
    corpus_path: str,
    checkpoint: str | None = None,
    from_version: int = 0,
    to_version: int | None = None,
    id_col: str = "img_id",
    payload_col: str = "payload",
    bands: int = 4,
    max_hamming: int = 6,
    merge_buckets: int = 64,
) -> int:
    """CDC tail × incremental image near-dup composition — the
    fourth CDC-fed composition beside the semantic / ANN-index / postings
    siblings: a ``table_changes`` follow-mode feed over an upstream image
    merge table (crawled payloads keyed by image id) drives
    :func:`incremental_image_sink`, one per-commit increment per call,
    with the COMMIT VERSION as the batch id / exactly-once claim.

    Version-tail discipline is the shared :func:`_tail_versions`; both
    halves of a re-run version are idempotent (batch-scoped corpus
    overwrite + claim-tagged state merge). An EMPTY increment
    (delete-only or no-op commit) only advances the checkpoint, so no
    no-op state version can expire retained snapshots. Deleted images are
    not retired from the band index inline — the stale-until-maintenance
    posture of the ANN sibling; reconcile with
    :func:`...sinks.writer.compact_merge_state` on the deployment's
    schedule.

    At 100 TB: per version the feed is a changed-bucket pruned diff, the
    hash pass is one Arrow batch over the increment, and both dedup
    joins are (band, bkey) equi-joins — nothing scales with the upstream
    table or the accumulated corpus.

    Returns the last applied version (``from_version`` if none pending).
    """
    process = incremental_image_sink(
        state_path,
        corpus_path,
        id_col=id_col,
        payload_col=payload_col,
        bands=bands,
        max_hamming=max_hamming,
        merge_buckets=merge_buckets,
    )

    return _tail_versions(
        spark, source_path, checkpoint, from_version, to_version,
        "ckpt_cdc_img_", lambda v, batch: process(batch, v),
        span_feed=lambda lo, hi: _span_batch(
            spark, source_path, keys, lo, hi, id_col, payload_col
        ),
        # payload-heavy feed: the span cache carries raw image bytes
        # until its last version applies — bound the pinned bytes at 4
        # commits regardless of the row-light default
        max_span=4,
    )
