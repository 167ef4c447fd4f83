"""Streaming semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from embulk_executor_mapreduce_spark.catalog import events_ts_normalize_filters
from embulk_executor_mapreduce_spark.streaming.ingest import (
    read_events_stream,
    run_stream_to_memory,
    streaming_dedup,
)

SF = "/root/testdata/sf0.001"


def test_streaming_dedup_matches_batch_distinct(spark):
    stream = streaming_dedup(read_events_stream(spark, SF)).select("event_id")
    out = run_stream_to_memory(stream, "t_dedup", output_mode="append")
    batch = spark.read.parquet(f"{SF}/events.parquet").select("event_id").distinct()
    assert out.count() == batch.count()


def test_stream_is_incremental(spark):
    df = read_events_stream(spark, SF)
    assert df.isStreaming


def test_stream_nanos_normalization_exact_for_pre_epoch(spark, tmp_path):
    """Streaming sibling of test_load_nanos_normalization_exact_for_pre_epoch
    (ADVICE r11): read_events_stream must use the same floor form as the batch
    loader for nanos→micros, so pre-epoch values with sub-µs remainders land
    on identical instants in both engines."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    nanos = [
        -1_500_000_123_457,  # pre-epoch, non-zero sub-µs remainder
        -999,  # just below epoch, pure remainder
        -1_000,
        0,
        999,
        1_500_000_123_457,
    ]
    n = len(nanos)
    rows = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(["t"] * n),
            "value": pa.array([0.0] * n),
            "props": pa.array(["{}"] * n),
        }
    )
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(rows, str(sf / "events.parquet"), version="2.6")
    out = run_stream_to_memory(
        read_events_stream(spark, str(sf)).select("event_id", "ts"),
        "t_nanos_floor",
        output_mode="append",
    )
    got = {r.event_id: r.ts for r in out.collect()}
    epoch = dt.datetime(1970, 1, 1)
    want = {
        k: epoch + dt.timedelta(microseconds=v // 1000)  # Python // floors
        for k, v in enumerate(nanos)
    }
    assert got == want


def test_stateful_rollup_final_equals_batch(spark):
    """applyInPandasWithState rollup: last emission per user == batch agg."""
    from embulk_executor_mapreduce_spark.streaming.ingest import stateful_user_rollup

    out = run_stream_to_memory(
        stateful_user_rollup(read_events_stream(spark, SF)),
        "t_rollup",
        output_mode="update",
    )
    # keep the LAST emission per user (multiple micro-batches re-emit)
    final = (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
    )
    batch = (
        spark.read.parquet(f"{SF}/events.parquet")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )
    assert final.exceptAll(batch).count() == 0
    assert batch.exceptAll(final).count() == 0


def test_streaming_pipeline_equals_batch(spark, tmp_path):
    """Unified batch/streaming: the SAME spec run incrementally (readStream +
    availableNow) must produce the same output multiset as run_pipeline."""
    from embulk_executor_mapreduce_spark.plans.compiler import (
        run_pipeline,
        run_pipeline_streaming,
    )
    from embulk_executor_mapreduce_spark.spec import load_spec

    doc = {
        "in": {"type": "parquet", "path": "/root/testdata/sf0.001/events.parquet"},
        "filters": [
            {"type": "filter", "predicate": "value > 20"},
            {"type": "with_column", "name": "boosted", "expr": "floor(value * 1.1 * 100 + 0.5) / 100.0D"},
            {"type": "select", "columns": ["event_id", "user_id", "boosted"]},
        ],
    }
    batch_out = str(tmp_path / "batch")
    stream_out = str(tmp_path / "stream")
    rep_b = run_pipeline(
        spark, load_spec({**doc, "out": {"type": "parquet", "path": batch_out}})
    )
    rep_s = run_pipeline_streaming(
        spark, load_spec({**doc, "out": {"type": "parquet", "path": stream_out}})
    )
    assert rep_b.succeeded and rep_s.succeeded
    cols = ["event_id", "user_id", "boosted"]
    b = sorted(tuple(r[c] for c in cols) for r in spark.read.parquet(batch_out).collect())
    s = sorted(tuple(r[c] for c in cols) for r in spark.read.parquet(stream_out).collect())
    assert b == s and len(b) > 0


def test_streaming_pipeline_partitioned_bucket_layout(spark, tmp_path):
    from pathlib import Path

    from embulk_executor_mapreduce_spark.plans.compiler import run_pipeline_streaming
    from embulk_executor_mapreduce_spark.spec import load_spec

    out = str(tmp_path / "out")
    rep = run_pipeline_streaming(
        spark,
        load_spec(
            {
                "in": {"type": "parquet", "path": "/root/testdata/sf0.001/events.parquet"},
                "filters": [
                    *events_ts_normalize_filters("/root/testdata/sf0.001/events.parquet"),
                ],
                "out": {"type": "parquet", "path": out, "partition_by_bucket": True},
                "exec": {"reducers": 4, "partitioning": {"column": "ts", "unit": "day"}},
            }
        ),
    )
    assert rep.succeeded and rep.partitioned
    assert len(list(Path(out).glob("__bucket=*"))) >= 28
    assert spark.read.parquet(out).count() == 1000


def test_streaming_pipeline_rejects_blocking_stages(spark, tmp_path):
    import pytest as _pytest

    from embulk_executor_mapreduce_spark.errors import ConfigError
    from embulk_executor_mapreduce_spark.plans.compiler import run_pipeline_streaming
    from embulk_executor_mapreduce_spark.spec import load_spec

    spec = load_spec(
        {
            "in": {"type": "parquet", "path": "/root/testdata/sf0.001/events.parquet"},
            "filters": [{"type": "sort", "by": ["value desc"]}],
            "out": {"type": "parquet", "path": str(tmp_path / "x")},
        }
    )
    with _pytest.raises(ConfigError, match="not streamable"):
        run_pipeline_streaming(spark, spec)


def test_streaming_text_source_pipeline(spark, tmp_path):
    """Line-oriented text source streams: landing-directory tail → filter
    chain → parquet sink via availableNow; same rows as the batch path."""
    from embulk_executor_mapreduce_spark.plans.compiler import run_pipeline_streaming
    from embulk_executor_mapreduce_spark.spec import load_spec

    src = tmp_path / "landing"
    src.mkdir()
    (src / "a.txt").write_text("keep one\ndrop\nkeep two\n")
    out = str(tmp_path / "out")
    rep = run_pipeline_streaming(
        spark,
        load_spec(
            {
                "in": {"type": "text", "path": str(src)},
                "filters": [{"type": "filter", "predicate": "line LIKE 'keep%'"}],
                "out": {"type": "parquet", "path": out},
            }
        ),
    )
    assert rep.succeeded
    assert sorted(r.line for r in spark.read.parquet(out).collect()) == [
        "keep one", "keep two",
    ]


def test_streaming_merge_sink_cdc_upsert(spark, tmp_path):
    """CDC-style streaming upsert: a stream of versioned change records,
    processed one file per micro-batch, converges to latest-version-per-key —
    identical to replaying the batches through the batch merge sink."""
    from embulk_executor_mapreduce_spark.plans.compiler import run_pipeline_streaming
    from embulk_executor_mapreduce_spark.spec import load_spec

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "changes"
    src.mkdir()
    schema = pa.schema(
        [("id", pa.int64()), ("name", pa.string()), ("ver", pa.int64())]
    )
    pq.write_table(
        pa.table(
            {"id": [1, 2], "name": ["a", "b"], "ver": [10, 10]}, schema=schema
        ),
        str(src / "f1.parquet"),
    )
    pq.write_table(
        pa.table(
            {"id": [1, 3, 2], "name": ["a2", "c", "stale"], "ver": [20, 10, 5]},
            schema=schema,
        ),
        str(src / "f2.parquet"),
    )

    out = str(tmp_path / "state")
    rep = run_pipeline_streaming(
        spark,
        load_spec(
            {
                "in": {
                    "type": "parquet",
                    "path": str(src),
                    "columns": [
                        {"name": "id", "type": "long"},
                        {"name": "name", "type": "string"},
                        {"name": "ver", "type": "long"},
                    ],
                    "maxFilesPerTrigger": 1,
                },
                "out": {
                    "type": "parquet",
                    "path": out,
                    "mode": "merge",
                    "merge_key": ["id"],
                    "merge_order": ["ver"],
                },
            }
        ),
    )
    assert rep.succeeded
    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    state = {r.id: (r.name, r.ver) for r in read_merge_state(spark, out).collect()}
    assert state == {1: ("a2", 20), 2: ("b", 10), 3: ("c", 10)}


def test_streaming_invalid_record_policy_parity(spark, tmp_path):
    """A malformed CSV line under streaming must behave like batch: dropped
    under stop_on_invalid_record: false (never an all-null row — the default
    PERMISSIVE stream would emit one), and invalid_record_path (a batch
    quarantine split) is a clean ConfigError, not a silent ignore."""
    import pytest

    from embulk_executor_mapreduce_spark.errors import ConfigError
    from embulk_executor_mapreduce_spark.plans.compiler import (
        run_pipeline_streaming,
    )
    from embulk_executor_mapreduce_spark.spec import load_spec

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.csv").write_text("1,alpha\nbad_row_no_number,x\n3,gamma\n")
    cols = [{"name": "id", "type": "long"}, {"name": "name", "type": "string"}]
    out = str(tmp_path / "out")
    doc = {
        "in": {"type": "csv", "path": str(src), "columns": cols},
        "out": {"type": "parquet", "path": out},
    }
    rep = run_pipeline_streaming(spark, load_spec(doc))
    assert rep.succeeded
    rows = sorted((r.id, r.name) for r in spark.read.parquet(out).collect())
    assert rows == [(1, "alpha"), (3, "gamma")]

    with pytest.raises(ConfigError, match="not streamable"):
        run_pipeline_streaming(
            spark,
            load_spec(
                {
                    **doc,
                    "in": {**doc["in"], "invalid_record_path": str(tmp_path / "q")},
                }
            ),
        )


class TestIncrementalDedupStream:
    """Continuous-crawl dedup front door: foreachBatch → incremental_dedup →
    bucket-pruned merge state. Exactly-once under retry interleavings."""

    ROWS1 = [(10, "aaa"), (11, "aaa"), (12, "bbb")]
    ROWS2 = [(20, "bbb"), (21, "ccc")]

    @staticmethod
    def _write_file(path, rows):
        import pandas as pd

        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(path)

    def _corpus_ids(self, spark, corpus):
        return sorted(
            r.doc_id for r in spark.read.parquet(str(corpus)).collect()
        )

    def test_cross_batch_dedup_and_retry_idempotence(self, spark, tmp_path):
        import os

        from embulk_executor_mapreduce_spark.streaming.ingest import (
            incremental_dedup_sink,
            run_incremental_dedup_stream,
        )

        land = tmp_path / "landing"
        land.mkdir()
        # two files, forced into two ordered micro-batches
        self._write_file(land / "b1.parquet", self.ROWS1)
        self._write_file(land / "b2.parquet", self.ROWS2)
        os.utime(land / "b1.parquet", (1_700_000_000, 1_700_000_000))
        os.utime(land / "b2.parquet", (1_700_000_100, 1_700_000_100))

        state = str(tmp_path / "fp_state")
        corpus = str(tmp_path / "corpus")
        docs = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land))
        )
        run_incremental_dedup_stream(
            docs, state, corpus, str(tmp_path / "ckpt"), merge_buckets=8
        )
        # in-batch dup (11) and cross-batch dup (20: "bbb" seen in batch 0)
        # both dropped; corpus partition dirs carry the batch provenance
        assert self._corpus_ids(spark, corpus) == [10, 12, 21]
        batches = {
            r.ingest_batch
            for r in spark.read.parquet(corpus).select("ingest_batch").collect()
        }
        assert batches == {0, 1}
        # fingerprint state: one row per distinct content, first-seen claims
        from embulk_executor_mapreduce_spark.sinks.writer import (
            read_merge_state,
        )

        fps = {
            r.text_hash: (r.keep_doc_id, r.claim_batch)
            for r in read_merge_state(spark, state).collect()
        }
        assert sorted(fps.values()) == [(10, 0), (12, 0), (21, 1)]

        sink = incremental_dedup_sink(state, corpus, merge_buckets=8)

        # RETRY of batch 1 (same batch_id, same rows — the at-least-once
        # replay after a crash between state merge and checkpoint commit):
        # claim column re-admits its own rows, dir overwrite keeps one copy
        sink(spark.createDataFrame(self.ROWS2, "doc_id long, text string"), 1)
        assert self._corpus_ids(spark, corpus) == [10, 12, 21]

        # a NEW batch re-ingesting already-seen content is a no-op
        sink(spark.createDataFrame(self.ROWS2, "doc_id long, text string"), 7)
        assert self._corpus_ids(spark, corpus) == [10, 12, 21]

    def test_retry_after_state_commit_but_lost_corpus_write(
        self, spark, tmp_path
    ):
        """The nasty interleaving: state merge committed, corpus write lost.
        Without the claim column the retry would emit an empty novel set and
        the batch's rows would be lost forever; with it, the retry
        reconstructs exactly its own rows."""
        import shutil

        from embulk_executor_mapreduce_spark.streaming.ingest import (
            incremental_dedup_sink,
        )

        state = str(tmp_path / "fp_state")
        corpus = str(tmp_path / "corpus")
        sink = incremental_dedup_sink(state, corpus, merge_buckets=8)
        mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

        sink(mk(self.ROWS1), 0)
        sink(mk(self.ROWS2), 1)
        # crash: batch 1's corpus dir vanishes after its state merge landed
        shutil.rmtree(f"{corpus}/ingest_batch=1")
        assert self._corpus_ids(spark, corpus) == [10, 12]
        # replay batch 1 → converges to the same corpus, no duplicates
        sink(mk(self.ROWS2), 1)
        assert self._corpus_ids(spark, corpus) == [10, 12, 21]
        from embulk_executor_mapreduce_spark.sinks.writer import (
            read_merge_state,
        )

        fps = {
            r.text_hash: (r.keep_doc_id, r.claim_batch)
            for r in read_merge_state(spark, state).collect()
        }
        assert sorted(fps.values()) == [(10, 0), (12, 0), (21, 1)]


class TestIncrementalNeardupStream:
    """Near-dup crawl loop retry interleavings (fuzzy sibling of
    TestIncrementalDedupStream)."""

    BASE = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "sailors watch from the harbor wall and debate the merits of "
        "spark partitioning strategies at one hundred terabyte scale"
    )
    OTHER = (
        "completely different content about recipe ingredients flour "
        "butter sugar eggs vanilla folded gently into batter and baked "
        "until golden at one hundred eighty degrees for forty minutes"
    )

    def _corpus_ids(self, spark, corpus):
        return sorted(
            r.doc_id for r in spark.read.parquet(str(corpus)).collect()
        )

    def test_retry_after_index_commit_but_lost_corpus_write(
        self, spark, tmp_path
    ):
        import shutil

        from embulk_executor_mapreduce_spark.streaming.ingest import (
            incremental_neardup_sink,
        )

        state = str(tmp_path / "band_index")
        corpus = str(tmp_path / "corpus")
        sink = incremental_neardup_sink(state, corpus, merge_buckets=8)
        mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")

        # batch 0: near-dup pair (11 ~ 10) + distinct doc
        sink(mk([(10, self.BASE), (11, self.BASE + " indeed"), (12, self.OTHER)]), 0)
        assert self._corpus_ids(spark, corpus) == [10, 12]
        # batch 1: one state-dup (near 10), one novel
        third = (
            "a third unrelated passage concerning maritime navigation "
            "charts sextants chronometers and the longitude problem solved "
            "by john harrison with his marine timekeepers"
        )
        sink(mk([(20, "surely " + self.BASE), (21, third)]), 1)
        assert self._corpus_ids(spark, corpus) == [10, 12, 21]

        # crash window: index merge committed, corpus dir lost → the retry
        # must ignore its own claims and reconstruct doc 21 (without the
        # claim column every doc would match its own index entry and the
        # batch would collapse to empty)
        shutil.rmtree(f"{corpus}/ingest_batch=1")
        sink(mk([(20, "surely " + self.BASE), (21, third)]), 1)
        assert self._corpus_ids(spark, corpus) == [10, 12, 21]

        # a NEW batch re-ingesting the same content is a content-level no-op
        sink(mk([(20, "surely " + self.BASE), (21, third)]), 9)
        assert self._corpus_ids(spark, corpus) == [10, 12, 21]
        from embulk_executor_mapreduce_spark.sinks.writer import (
            read_merge_state,
        )

        idx = {
            (r.doc_id, r.claim_batch)
            for r in read_merge_state(spark, state).collect()
        }
        assert {d for d, _ in idx} == {10, 12, 21}
        assert all(c in (0, 1) for _, c in idx)


class TestIncrementalSemanticSink:
    """Exactly-once for the SEMANTIC crawl loop (the embedding sibling of
    TestIncrementalNeardupSink's retry battery)."""

    @staticmethod
    def _vec(seed, wiggle=0.0):
        return [
            ((seed * 31 + j * 7) % 13 - 6) / 6.0 + wiggle * (j % 2)
            for j in range(8)
        ]

    @staticmethod
    def _corpus_ids(spark, corpus):
        return sorted(r.vec_id for r in spark.read.parquet(str(corpus)).collect())

    def test_retry_after_state_commit_but_lost_corpus_write(self, spark, tmp_path):
        import shutil

        from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state
        from embulk_executor_mapreduce_spark.streaming.ingest import (
            incremental_semantic_sink,
        )

        state = str(tmp_path / "state")
        corpus = str(tmp_path / "corpus")
        cents = str(tmp_path / "centroids")
        sink = incremental_semantic_sink(
            state, corpus, cents, merge_buckets=8, k=2, iters=1,
            threshold_micro=999_000,
        )
        mk = lambda rows: spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

        # batch 0: near-dup pair (11 ~ 10) + a distinct vector; trains cents
        sink(mk([(10, self._vec(1)), (11, self._vec(1, 1e-4)), (12, self._vec(50))]), 0)
        assert self._corpus_ids(spark, corpus) == [10, 12]
        assert spark.read.parquet(cents).count() == 2

        # batch 1: one state-dup (near 10), one novel direction
        sink(mk([(20, self._vec(1, 2e-4)), (21, self._vec(7))]), 1)
        assert self._corpus_ids(spark, corpus) == [10, 12, 21]

        # crash window: state merge committed, corpus dir lost → the retry
        # must ignore its own claims and reconstruct vec 21 (without the
        # claim every doc would cosine-1.0 its own state row and the batch
        # would collapse to empty)
        shutil.rmtree(f"{corpus}/ingest_batch=1")
        sink(mk([(20, self._vec(1, 2e-4)), (21, self._vec(7))]), 1)
        assert self._corpus_ids(spark, corpus) == [10, 12, 21]

        # a NEW batch re-ingesting the same content is a content-level no-op
        sink(mk([(20, self._vec(1, 2e-4)), (21, self._vec(7))]), 9)
        assert self._corpus_ids(spark, corpus) == [10, 12, 21]
        st = {
            (r.vec_id, r.claim_batch)
            for r in read_merge_state(spark, state).collect()
        }
        assert {v for v, _ in st} == {10, 12, 21}
        assert all(c in (0, 1) for _, c in st)


def test_run_incremental_semantic_stream_end_to_end(spark, tmp_path):
    """The embedding crawl as a real Structured Streaming run: a parquet
    stream of vector batches replays through the semantic loop
    (availableNow), the corpus holds one row per semantic survivor, and a
    RESTART with new files continues against the persisted centroids and
    state."""
    from embulk_executor_mapreduce_spark.streaming.ingest import (
        run_incremental_semantic_stream,
    )

    def vec(seed, wiggle=0.0):
        return [((seed * 31 + j * 7) % 13 - 6) / 6.0 + wiggle * (j % 2) for j in range(8)]

    src = tmp_path / "stream_src"
    src.mkdir()
    state = str(tmp_path / "state")
    corpus = str(tmp_path / "corpus")
    cents = str(tmp_path / "centroids")
    ckpt = str(tmp_path / "ckpt")
    schema = "vec_id long, embedding array<double>"

    spark.createDataFrame(
        [(10, vec(1)), (11, vec(1, 1e-4)), (12, vec(50))], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))

    def stream():
        return spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src) + "/*")

    run_incremental_semantic_stream(
        stream(), state, corpus, cents, ckpt, merge_buckets=8, k=2,
        threshold_micro=999_000,
    )
    ids = sorted(r.vec_id for r in spark.read.parquet(corpus).collect())
    assert ids == [10, 12]

    # restart with a new file: assigns against persisted centroids, drops
    # the near-dup of a committed survivor, admits the novel direction
    spark.createDataFrame(
        [(20, vec(1, 2e-4)), (21, vec(7))], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    run_incremental_semantic_stream(
        stream(), state, corpus, cents, ckpt, merge_buckets=8, k=2,
        threshold_micro=999_000,
    )
    ids = sorted(r.vec_id for r in spark.read.parquet(corpus).collect())
    assert ids == [10, 12, 21]


class TestIncrementalSemanticTwoLevelSink:
    """Exactly-once for the TWO-LEVEL semantic crawl loop (r6) — the √k×√k
    sibling of TestIncrementalSemanticSink: both centroid levels persist,
    increments assign against the stored pair, retries ignore their own
    claims, and a crashed half-written centroid pair retrains."""

    @staticmethod
    def _vec(seed, wiggle=0.0):
        return [
            ((seed * 31 + j * 7) % 13 - 6) / 6.0 + wiggle * (j % 2)
            for j in range(8)
        ]

    @staticmethod
    def _corpus_ids(spark, corpus):
        return sorted(r.vec_id for r in spark.read.parquet(str(corpus)).collect())

    def _sink(self, state, corpus, cents):
        from embulk_executor_mapreduce_spark.streaming.ingest import (
            incremental_semantic_two_level_sink,
        )

        # sub_k=1 keeps leaf == cell so the exactly-once battery mirrors the
        # flat sink's expectations (with sub_k=2 on a 3-vector batch the
        # row_number init seeds the near-dup PAIR as separate sub-centroids
        # — correct tree behavior, wrong fixture for a retry test). The
        # multi-leaf interplay is value-hash-oracled by the catalog query
        # semantic_dedup_two_level_incremental_state.
        return incremental_semantic_two_level_sink(
            state, corpus, cents, merge_buckets=8, coarse_k=2, sub_k=1,
            iters=1, threshold_micro=999_000,
        )

    def test_crawl_loop_with_retry_and_partial_centroids(self, spark, tmp_path):
        import shutil

        from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

        state = str(tmp_path / "state")
        corpus = str(tmp_path / "corpus")
        cents = str(tmp_path / "centroids")
        sink = self._sink(state, corpus, cents)
        mk = lambda rows: spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

        # batch 0: near-dup pair (11 ~ 10) + a distinct vector; trains the pair
        sink(mk([(10, self._vec(1)), (11, self._vec(1, 1e-4)), (12, self._vec(50))]), 0)
        assert self._corpus_ids(spark, corpus) == [10, 12]
        assert spark.read.parquet(f"{cents}/coarse").count() == 2
        assert {tuple(r) for r in spark.read.parquet(f"{cents}/sub").select("cell").distinct().collect()}

        # batch 1: one state-dup (near 10), one novel direction — assigns only
        sink(mk([(20, self._vec(1, 2e-4)), (21, self._vec(7))]), 1)
        assert self._corpus_ids(spark, corpus) == [10, 12, 21]

        # crash window: state committed, corpus dir lost → retry must ignore
        # its own claims and reconstruct vec 21
        shutil.rmtree(f"{corpus}/ingest_batch=1")
        sink(mk([(20, self._vec(1, 2e-4)), (21, self._vec(7))]), 1)
        assert self._corpus_ids(spark, corpus) == [10, 12, 21]

        # state carries the LEAF key and only original claims
        st = read_merge_state(spark, state)
        assert {"cell", "scid", "vec_id", "v", "nrm", "claim_batch"} <= set(st.columns)
        rows = {(r.vec_id, r.claim_batch) for r in st.collect()}
        assert {v for v, _ in rows} == {10, 12, 21}
        assert all(c in (0, 1) for _, c in rows)

    def test_partial_centroid_pair_retrains(self, spark, tmp_path):
        """A crash between the coarse and sub writes leaves a partial pair;
        the next replay must retrain BOTH (deterministically identical)
        rather than assigning against half a tree."""
        import shutil

        state = str(tmp_path / "state")
        corpus = str(tmp_path / "corpus")
        cents = str(tmp_path / "centroids")
        sink = self._sink(state, corpus, cents)
        mk = lambda rows: spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        batch0 = [(10, self._vec(1)), (11, self._vec(1, 1e-4)), (12, self._vec(50))]
        sink(mk(batch0), 0)
        coarse0 = sorted(map(tuple, spark.read.parquet(f"{cents}/coarse").collect()))
        shutil.rmtree(f"{cents}/sub")  # simulate the mid-pair crash
        sink(mk(batch0), 0)  # replay retrains both halves
        assert sorted(map(tuple, spark.read.parquet(f"{cents}/coarse").collect())) == coarse0
        assert spark.read.parquet(f"{cents}/sub").count() > 0
        assert self._corpus_ids(spark, corpus) == [10, 12]


def test_run_incremental_semantic_two_level_stream_end_to_end(spark, tmp_path):
    """The two-level embedding crawl as a real Structured Streaming run:
    first availableNow pass trains + persists the centroid PAIR, a RESTART
    with new files assigns against the stored pair and continues against
    the persisted state — the streaming twin of
    test_run_incremental_semantic_stream_end_to_end."""
    from embulk_executor_mapreduce_spark.streaming.ingest import (
        run_incremental_semantic_two_level_stream,
    )

    def vec(seed, wiggle=0.0):
        return [((seed * 31 + j * 7) % 13 - 6) / 6.0 + wiggle * (j % 2) for j in range(8)]

    src = tmp_path / "stream_src"
    src.mkdir()
    state = str(tmp_path / "state")
    corpus = str(tmp_path / "corpus")
    cents = str(tmp_path / "centroids")
    ckpt = str(tmp_path / "ckpt")
    schema = "vec_id long, embedding array<double>"

    spark.createDataFrame(
        [(10, vec(1)), (11, vec(1, 1e-4)), (12, vec(50))], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f0"))

    def stream():
        return spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src) + "/*")

    kw = dict(merge_buckets=8, coarse_k=2, sub_k=1, threshold_micro=999_000)
    run_incremental_semantic_two_level_stream(
        stream(), state, corpus, cents, ckpt, **kw
    )
    ids = sorted(r.vec_id for r in spark.read.parquet(corpus).collect())
    assert ids == [10, 12]
    assert spark.read.parquet(f"{cents}/coarse").count() == 2

    spark.createDataFrame(
        [(20, vec(1, 2e-4)), (21, vec(7))], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    run_incremental_semantic_two_level_stream(
        stream(), state, corpus, cents, ckpt, **kw
    )
    ids = sorted(r.vec_id for r in spark.read.parquet(corpus).collect())
    assert ids == [10, 12, 21]


class TestSpecStagesStream:
    """Streaming front door for the r8 declarative text stages (VERDICT r8
    item 8): text_stats → quality_score → gate → pii_scrub over a FILE
    STREAM into the batch-scoped idempotent corpus sink, retry-interleaved
    like the dedup loops. The stages are pure struct-pack projections
    (stream-classified), so the foreachBatch body is apply_filter_chain +
    one partition-dir overwrite — the same exactly-once-from-at-least-once
    contract as incremental_dedup_sink."""

    FILTERS = [
        {"type": "text_stats"},
        {"type": "quality_score"},
        {"type": "filter", "predicate": "quality >= 0.4"},
        {"type": "pii_scrub"},
    ]
    GOOD = (
        "the quick brown fox and a dozen of steady hands mail "
        "reports to ops@example.com citing badge 123456 in the log"
    )
    BAD = "x y z"  # < 10 tokens, no stopword band → quality below the gate
    ROWS1 = [(0, GOOD, "src0"), (1, BAD, "src0")]
    ROWS2 = [(2, GOOD + " again and again the end", "src1")]

    def _spec_filters(self):
        from embulk_executor_mapreduce_spark.spec import load_spec

        return load_spec(
            {
                "in": {"type": "parquet", "path": "/dev/null"},
                "filters": self.FILTERS,
                "out": {"type": "null"},
            }
        ).filters

    def _sink(self, corpus: str):
        from embulk_executor_mapreduce_spark.operators.filters import (
            apply_filter_chain,
        )

        filters = self._spec_filters()

        def _process(batch, batch_id: int) -> None:
            out = apply_filter_chain(batch, filters)
            # batch-scoped partition dir, mode=overwrite: a retry
            # overwrites its own rows, never duplicates them
            out.write.mode("overwrite").parquet(
                f"{corpus}/ingest_batch={batch_id}"
            )

        return _process

    def _corpus(self, spark, corpus):
        return sorted(
            (r.doc_id, r.text)
            for r in spark.read.parquet(str(corpus)).collect()
        )

    def test_stream_equals_batch_and_retry_idempotence(self, spark, tmp_path):
        import os

        import pandas as pd

        from embulk_executor_mapreduce_spark.operators.filters import (
            apply_filter_chain,
        )

        land = tmp_path / "landing"
        land.mkdir()
        cols = ["doc_id", "text", "source"]
        pd.DataFrame(self.ROWS1, columns=cols).to_parquet(land / "b1.parquet")
        pd.DataFrame(self.ROWS2, columns=cols).to_parquet(land / "b2.parquet")
        os.utime(land / "b1.parquet", (1_700_000_000,) * 2)
        os.utime(land / "b2.parquet", (1_700_000_100,) * 2)

        corpus = str(tmp_path / "corpus")
        docs = (
            spark.readStream.schema("doc_id long, text string, source string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land))
        )
        q = (
            docs.writeStream.foreachBatch(self._sink(corpus))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        got = self._corpus(spark, corpus)
        # parity: the streamed corpus equals the SAME stage chain run batch
        batch_df = spark.createDataFrame(
            self.ROWS1 + self.ROWS2, "doc_id long, text string, source string"
        )
        want = sorted(
            (r.doc_id, r.text)
            for r in apply_filter_chain(batch_df, self._spec_filters()).collect()
        )
        assert got == want
        # the gate dropped the junk doc; the scrub REPLACED the pii
        ids = [i for i, _ in got]
        assert ids == [0, 2]
        assert all("<EMAIL>" in t and "<DIGITS>" in t for _, t in got)
        assert all("ops@example.com" not in t for _, t in got)
        # audit columns landed
        out_cols = spark.read.parquet(corpus).columns
        for c in ("n_tokens", "quality", "n_email", "n_digits"):
            assert c in out_cols, out_cols

        # RETRY of batch 1 (at-least-once replay): converges, no duplicates
        sink = self._sink(corpus)
        sink(
            spark.createDataFrame(
                self.ROWS2, "doc_id long, text string, source string"
            ),
            1,
        )
        assert self._corpus(spark, corpus) == want


class TestPrepStagesStream:
    """Streaming front door for the stream-safe subset of the r10-oracled
    prep stages (token_count / fingerprint / chunk are pure struct-pack /
    posexplode projections — classified in _STREAM_SAFE_FILTERS; the
    batch-only siblings repetition_stats / minhash_dedup / decontaminate
    are correctly rejected). Runs the SAME spec through
    run_pipeline_streaming and run_pipeline and asserts multiset equality —
    the unified batch/streaming contract at the chunk fan-out's row
    multiplication, not just row-level maps."""

    def _spec(self, src: str, out: str, sink_type: str = "parquet") -> dict:
        return {
            "in": {"type": "parquet", "path": src},
            "filters": [
                {"type": "text_stats"},
                {"type": "token_count"},
                {"type": "fingerprint"},
                {"type": "chunk", "window": 4, "stride": 3},
            ],
            "out": {"type": sink_type, "path": out},
        }

    def test_stream_equals_batch_through_chunk_fanout(self, spark, tmp_path):
        import pandas as pd

        from embulk_executor_mapreduce_spark.plans.compiler import (
            run_pipeline,
            run_pipeline_streaming,
        )
        from embulk_executor_mapreduce_spark.spec import load_spec

        land = tmp_path / "landing"
        land.mkdir()
        rows = [
            (0, "alpha beta gamma delta epsilon zeta eta theta", "s0"),
            (1, "one two three", "s0"),
            (2, "solo", "s1"),
        ]
        pd.DataFrame(rows, columns=["doc_id", "text", "source"]).to_parquet(
            land / "b.parquet"
        )
        stream_out = str(tmp_path / "stream_out")
        batch_out = str(tmp_path / "batch_out")

        rep = run_pipeline_streaming(
            spark, load_spec(self._spec(str(land), stream_out))
        )
        assert rep.succeeded and rep.partitioned is False
        run_pipeline(spark, load_spec(self._spec(str(land), batch_out)))

        def rows_of(path):
            df = spark.read.parquet(path)
            cols = sorted(df.columns)
            return sorted(tuple(r[c] for c in cols) for r in df.collect())

        got, want = rows_of(stream_out), rows_of(batch_out)
        assert got == want and len(got) > 0
        # the fan-out really multiplied rows: doc 0 has 8 tokens → windows
        # at starts 0/3/6 (window 4, stride 3) = 3 chunks; docs 1, 2 → 1
        by_doc = {}
        df = spark.read.parquet(stream_out)
        for r in df.select("doc_id", "chunk_idx").collect():
            by_doc.setdefault(r.doc_id, set()).add(r.chunk_idx)
        assert {k: len(v) for k, v in sorted(by_doc.items())} == {0: 3, 1: 1, 2: 1}
        # appended columns rode through the stream
        for c in ("n_tokens", "n_bpeish_tokens", "fingerprint", "chunk_text"):
            assert c in df.columns

    def test_batch_only_prep_stages_rejected_for_streaming(self, spark, tmp_path):
        import pytest as _pytest

        from embulk_executor_mapreduce_spark.errors import ConfigError
        from embulk_executor_mapreduce_spark.plans.compiler import (
            run_pipeline_streaming,
        )
        from embulk_executor_mapreduce_spark.spec import load_spec

        for stage in (
            {"type": "repetition_stats", "id": "doc_id"},
            {"type": "minhash_dedup", "id": "doc_id"},
            {
                "type": "decontaminate",
                "benchmark": {"type": "parquet", "path": str(tmp_path)},
                "id": "doc_id",
            },
        ):
            spec = load_spec(
                {
                    "in": {"type": "parquet", "path": str(tmp_path)},
                    "filters": [stage],
                    "out": {"type": "parquet", "path": str(tmp_path / "o")},
                }
            )
            with _pytest.raises(ConfigError, match="not streamable"):
                run_pipeline_streaming(spark, spec)


def test_streaming_csv_sink_matches_batch_writer_conventions(spark, tmp_path):
    """r12 review (second pass): the streaming csv sink must apply the SAME
    writer defaults as the batch path (header, quote='\"', escape='\"') so
    the engine's own csv source reads either output identically — pinned
    with a value containing quotes and commas."""
    from embulk_executor_mapreduce_spark.plans.compiler import (
        run_pipeline,
        run_pipeline_streaming,
    )
    from embulk_executor_mapreduce_spark.spec import load_spec

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.jsonl").write_text(
        '{"id": 1, "s": "plain"}\n{"id": 2, "s": "a \\"quoted\\", comma"}\n'
    )
    cols = [{"name": "id", "type": "long"}, {"name": "s", "type": "string"}]
    outs = {}
    for mode, runner in (("batch", run_pipeline), ("stream", run_pipeline_streaming)):
        out = str(tmp_path / mode)
        runner(
            spark,
            load_spec(
                {
                    "in": {"type": "json", "path": str(src), "columns": cols},
                    "out": {"type": "csv", "path": out},
                }
            ),
        )
        # read back through the ENGINE's csv source (quote/escape '"',
        # header skip) — the roundtrip contract both paths must meet
        from embulk_executor_mapreduce_spark.sources.readers import read_source

        back = read_source(
            spark,
            load_spec(
                {
                    "in": {
                        "type": "csv",
                        "path": out,
                        "columns": cols,
                        "options": {"skip_header_lines": 1},
                    },
                    "out": {"type": "null"},
                }
            ).source,
        )
        outs[mode] = sorted((r.id, r.s) for r in back.collect())
    assert outs["batch"] == outs["stream"] == [
        (1, "plain"),
        (2, 'a "quoted", comma'),
    ]


def test_streaming_pipeline_salt_parity_with_batch(spark, tmp_path):
    """r12 (post-seal test pin): the streaming front door now runs the
    SAME _apply_stages chain as batch, so map_side_partition_split salt
    applies to streams too — salt must spread write tasks WITHOUT leaking
    into the output or the directory layout, and the multiset must equal
    the batch run."""
    from pathlib import Path

    from embulk_executor_mapreduce_spark.plans.compiler import (
        run_pipeline,
        run_pipeline_streaming,
    )
    from embulk_executor_mapreduce_spark.spec import load_spec

    doc = {
        "in": {"type": "parquet", "path": "/root/testdata/sf0.001/events.parquet"},
        "filters": [*events_ts_normalize_filters("/root/testdata/sf0.001")],
        "exec": {
            "reducers": 4,
            "partitioning": {
                "column": "ts",
                "unit": "day",
                "map_side_partition_split": 4,
            },
        },
    }
    outs = {}
    for mode, runner in (("batch", run_pipeline), ("stream", run_pipeline_streaming)):
        out = str(tmp_path / mode)
        rep = runner(
            spark,
            load_spec(
                {**doc, "out": {"type": "parquet", "path": out, "partition_by_bucket": True}}
            ),
        )
        assert rep.succeeded and rep.partitioned
        back = spark.read.parquet(out)
        assert "__salt" not in back.columns  # salt never leaks
        assert len(list(Path(out).glob("__salt=*"))) == 0
        assert len(list(Path(out).glob("__bucket=*"))) >= 28
        outs[mode] = sorted(
            tuple(r[c] for c in ("event_id", "__bucket")) for r in back.select("event_id", "__bucket").collect()
        )
    assert outs["batch"] == outs["stream"] and len(outs["batch"]) == 1000
