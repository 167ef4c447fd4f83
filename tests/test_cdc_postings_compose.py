"""CDC tail × persisted BM25 postings index (r14, VERDICT r13 item 3):
the third `_tail_versions` composition — insert/update/delete increments
from a table_changes feed maintain the term-bucketed postings + stats
deltas, with upstream keyed-DELETE retirements cascading to index
tombstones and the retry interleavings idempotent end to end."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from embulk_executor_mapreduce_spark.operators.search import (
    bm25_topk,
    bm25_topk_indexed,
)
from embulk_executor_mapreduce_spark.sinks.writer import write_sink
from embulk_executor_mapreduce_spark.spec import SinkSpec
from embulk_executor_mapreduce_spark.streaming.ingest import (
    run_cdc_postings_ingest,
)

TERMS = ("alpha", "gamma", "zeta")
WORDS = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]


def _text(i: int) -> str:
    return " ".join(WORDS[j % 6] for j in range(i, i + 3 + i % 5))


def _frame(spark, rows, rev, dead=False):
    return spark.createDataFrame(
        [(i, t, rev, dead) for i, t in rows],
        "doc_id long, text string, rev long, _del boolean",
    )


def _upstream_sink(path):
    return SinkSpec(
        type="parquet",
        path=str(path),
        mode="merge",
        merge_key=("doc_id",),
        merge_order=("rev",),
        merge_keep_versions=6,
        delete_column="_del",
    )


def _probe(spark, root, k=10):
    return sorted(
        map(tuple, bm25_topk_indexed(spark, str(root), TERMS, k=k).collect())
    )


def test_cdc_postings_tracks_upstream_through_update_and_delete(spark, tmp_path):
    """insert → update → upstream keyed-DELETE: after each tailed version
    the probe equals the inline scorer over the CURRENT live corpus —
    including the delete cascading from the upstream tombstone into
    postings tombstones via the preimage the feed carries."""
    up = tmp_path / "up"
    s = _upstream_sink(up)
    base = [(i, _text(i)) for i in range(30)]
    write_sink(_frame(spark, [], 0), s)  # v0 bootstrap (never delivered)
    write_sink(_frame(spark, base, 1), s)  # v1: inserts
    write_sink(_frame(spark, [(3, "zeta zeta nu")], 2), s)  # v2: update
    write_sink(_frame(spark, [(4, _text(4))], 3, dead=True), s)  # v3: delete
    root = tmp_path / "ix"
    last = run_cdc_postings_ingest(
        spark, str(up), ["doc_id"], str(root),
        checkpoint=str(tmp_path / "ck"), delete_col="_del",
    )
    assert last == 3
    current = spark.createDataFrame(
        [(i, t) for i, t in base if i not in (3, 4)] + [(3, "zeta zeta nu")],
        "doc_id long, text string",
    )
    assert _probe(spark, root) == sorted(
        map(tuple, bm25_topk(current, TERMS, k=10).collect())
    )
    ids = {r[0] for r in _probe(spark, root, k=30)}
    assert 4 not in ids


def test_cdc_postings_retry_after_commit_is_idempotent(spark, tmp_path):
    """Redelivery of a version whose postings merge + stats dir already
    committed converges bit-for-bit (same _ingest_version rows, same
    stats dir content) — no claim machinery needed."""
    up = tmp_path / "up"
    s = _upstream_sink(up)
    write_sink(_frame(spark, [], 0), s)
    write_sink(_frame(spark, [(i, _text(i)) for i in range(20)], 1), s)
    write_sink(_frame(spark, [(5, "zeta zeta nu")], 2), s)
    root = tmp_path / "ix"
    ck = tmp_path / "ck"
    assert run_cdc_postings_ingest(
        spark, str(up), ["doc_id"], str(root), checkpoint=str(ck),
        delete_col="_del",
    ) == 2
    before = _probe(spark, root, k=20)
    os.remove(os.path.join(str(ck), "offset.json"))  # lose the checkpoint
    assert run_cdc_postings_ingest(
        spark, str(up), ["doc_id"], str(root), checkpoint=str(ck),
        delete_col="_del",
    ) == 2
    assert _probe(spark, root, k=20) == before


def test_cdc_postings_empty_increment_writes_nothing(spark, tmp_path):
    """A no-op re-commit (empty diff) advances the checkpoint but must
    not create an empty stats dir or a no-op postings version."""
    up = tmp_path / "up"
    s = _upstream_sink(up)
    rows = [(i, _text(i)) for i in range(10)]
    write_sink(_frame(spark, [], 0), s)
    write_sink(_frame(spark, rows, 1), s)
    root = tmp_path / "ix"
    ck = tmp_path / "ck"
    run_cdc_postings_ingest(
        spark, str(up), ["doc_id"], str(root), checkpoint=str(ck),
        delete_col="_del",
    )
    stats_dirs = sorted(os.listdir(os.path.join(str(root), "stats")))
    trees = sorted(os.listdir(os.path.join(str(root), "postings", "_trees")))
    write_sink(_frame(spark, rows[:3], 1), s)  # identical → empty diff v2
    assert run_cdc_postings_ingest(
        spark, str(up), ["doc_id"], str(root), checkpoint=str(ck),
        delete_col="_del",
    ) == 2
    assert sorted(os.listdir(os.path.join(str(root), "stats"))) == stats_dirs
    assert sorted(
        os.listdir(os.path.join(str(root), "postings", "_trees"))
    ) == trees
