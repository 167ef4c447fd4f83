"""Fused CDC catch-up: a multi-version tail computes its per-pair diffs
as ONE persisted span plan per chunk. These tests pin the contract: the
span size is value-invisible — same index/state/corpus content as
driving the tail one version per call (each call then reads a
one-version span), empty versions still advance the checkpoint without a
state bump, splitting a catch-up into several spans does not change
results, and a resume mid-catch-up converges to the one-shot result."""

from __future__ import annotations

import os

from embulk_executor_mapreduce_spark.sinks.writer import (
    read_merge_state,
    write_sink,
)
from embulk_executor_mapreduce_spark.streaming.ingest import (
    run_cdc_image_ingest,
    run_cdc_postings_ingest,
)

from test_cdc_image_compose import _paths, _upstream
from test_cdc_postings_compose import _frame, _probe, _text, _upstream_sink


def _postings_upstream(spark, tmp_path):
    """v0 bootstrap, v1 inserts, v2 update, v3 keyed delete, v4 EMPTY
    re-commit — a 4-pending-version catch-up with every change class the
    presence semantics must reproduce (insert/update/delete/empty)."""
    up = tmp_path / "up"
    s = _upstream_sink(up)
    base = [(i, _text(i)) for i in range(24)]
    write_sink(_frame(spark, [], 0), s)
    write_sink(_frame(spark, base, 1), s)
    write_sink(_frame(spark, [(3, "zeta zeta nu")], 2), s)
    write_sink(_frame(spark, [(4, _text(4))], 3, dead=True), s)
    write_sink(_frame(spark, base[:5], 1), s)  # identical → empty diff v4
    return up


def _ingest(spark, up, root, ck, to_version=None):
    return run_cdc_postings_ingest(
        spark, str(up), ["doc_id"], str(root), checkpoint=str(ck),
        to_version=to_version, delete_col="_del",
    )


def test_fused_postings_matches_per_version(spark, tmp_path):
    """The fused span feed must be value-invisible: index + stats after a
    fused 4-version catch-up equal a one-version-per-call replay of the
    same upstream — including the delete cascade and the empty v4."""
    up = _postings_upstream(spark, tmp_path)
    fused_root = tmp_path / "ix_fused"
    assert _ingest(spark, up, fused_root, tmp_path / "ck_fused") == 4
    single_root = tmp_path / "ix_single"
    for v in (1, 2, 3, 4):
        assert _ingest(spark, up, single_root, tmp_path / "ck_single", v) == v
    assert _probe(spark, fused_root, k=30) == _probe(spark, single_root, k=30)
    # the empty v4 advanced the checkpoint without a stats dir / postings
    # version on BOTH paths
    for root in (fused_root, single_root):
        stats = sorted(os.listdir(os.path.join(str(root), "stats")))
        assert stats and all(not d.endswith("v4") for d in stats)


def test_fused_postings_chunked_span_matches(spark, tmp_path):
    """A 4-version catch-up driven as two fused spans of 2 (the second
    starting from the first's committed state) reproduces the one-span
    result."""
    up = _postings_upstream(spark, tmp_path)
    one_root = tmp_path / "ix_one"
    assert _ingest(spark, up, one_root, tmp_path / "ck_one") == 4
    two_root = tmp_path / "ix_two"
    assert _ingest(spark, up, two_root, tmp_path / "ck_two", 2) == 2
    assert _ingest(spark, up, two_root, tmp_path / "ck_two") == 4
    assert _probe(spark, one_root, k=30) == _probe(spark, two_root, k=30)


def _state_rows(spark, state):
    return sorted(
        map(
            tuple,
            read_merge_state(spark, state)
            .select("band", "bkey", "img_id", "dhash", "claim_batch")
            .collect(),
        )
    )


def test_fused_image_matches_per_version_and_resumes(spark, tmp_path):
    """The image composition's fused catch-up keeps the per-version claim
    semantics (batch 2's state probe sees batch 1's committed rows, never
    its own claims): a fused 2-version drive and a resumed drive (version
    1 alone, then the rest — one one-version span per call) land on
    identical state + corpus content."""
    up = _upstream(spark, tmp_path)
    f_state, f_corpus, f_ckpt = _paths(tmp_path, "fused")
    assert run_cdc_image_ingest(
        spark, up, ["img_id"], f_state, f_corpus, checkpoint=f_ckpt
    ) == 2
    r_state, r_corpus, r_ckpt = _paths(tmp_path, "resumed")
    assert run_cdc_image_ingest(
        spark, up, ["img_id"], r_state, r_corpus, checkpoint=r_ckpt,
        to_version=1,
    ) == 1
    assert run_cdc_image_ingest(
        spark, up, ["img_id"], r_state, r_corpus, checkpoint=r_ckpt
    ) == 2
    assert _state_rows(spark, f_state) == _state_rows(spark, r_state)
    for v in (1, 2):
        assert sorted(
            r["img_id"]
            for r in spark.read.parquet(f"{f_corpus}/ingest_batch={v}").collect()
        ) == sorted(
            r["img_id"]
            for r in spark.read.parquet(f"{r_corpus}/ingest_batch={v}").collect()
        )
