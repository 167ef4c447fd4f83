"""Driver-local BPE fast path (r17, ``operators/bpe_local.py``): the
collected-vocabulary merge loop must be BIT-EQUAL to the distributed
iteration it replaces — rows and schema — on corpora that exercise the
semantics the distributed loop pins (one-pass adjacent repeats, weighted
ties broken on the joined pair string, post-collapse NULL ranks), and the
over-cap dispatch must fall back to the unchanged loop."""

from __future__ import annotations

import pytest

from embulk_executor_mapreduce_spark.plans import inspect as plan_inspect


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


CORPORA = [
    # the classic Sennrich-style corpus (weighted counts, lexicographic tie)
    "low lower lowest low low newer new",
    # adjacent repeats: 'a b a b' must merge to 'ab ab' in ONE round
    "abab abab ab ab ba",
    # collapse-to-exhaustion: single-char words run out of pairs -> NULL ranks
    "a a a b",
    # ties everywhere (every pair count 1): pure pair-string tie-breaking
    "xy yz zx",
]


@pytest.mark.parametrize("text", CORPORA)
def test_bpe_train_fast_matches_loop(spark, text):
    from embulk_executor_mapreduce_spark.operators import bpe_local, text as t

    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    fast = bpe_local.bpe_train(docs, n_merges=6)
    loop = t.bpe_train(docs, n_merges=6)
    assert fast.schema == loop.schema
    assert _rows(fast) == _rows(loop)


@pytest.mark.parametrize("text", CORPORA)
def test_bpe_segment_fast_matches_loop(spark, text):
    from embulk_executor_mapreduce_spark.operators import bpe_local, text as t

    docs = spark.createDataFrame(
        [(1, text), (2, text.split(" ", 1)[0]), (3, "")],
        "doc_id long, text string",
    )
    fast = bpe_local.bpe_segment(docs, n_merges=4)
    loop = t.bpe_segment(docs, n_merges=4)
    assert fast.schema == loop.schema
    assert _rows(fast) == _rows(loop)


def test_bpe_over_cap_falls_back_to_distributed_loop(spark, monkeypatch):
    """Past the word cap the dispatch must run the UNCHANGED distributed
    loop (on the already-materialized word table) and never the local
    trainer — and produce the same merge table either way."""
    from embulk_executor_mapreduce_spark.operators import bpe_local

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low newer new")], "doc_id long, text string"
    )
    expected = _rows(bpe_local.bpe_train(docs, n_merges=6))
    expected_seg = _rows(bpe_local.bpe_segment(docs, n_merges=6))

    calls = {"local": 0}
    orig = bpe_local._local_merge_loop

    def spy(*a, **kw):
        calls["local"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(bpe_local, "_local_merge_loop", spy)
    monkeypatch.setattr(plan_inspect, "COLLECT_MAX_ROWS", 3)
    over_cap = bpe_local.bpe_train(docs, n_merges=6)
    assert calls["local"] == 0
    assert _rows(over_cap) == expected

    seg_over_cap = bpe_local.bpe_segment(docs, n_merges=6)
    assert calls["local"] == 0
    assert _rows(seg_over_cap) == expected_seg


def test_bpe_fast_path_classic_merges(spark):
    """The fast path reproduces the hand-derived classic merge sequence
    (the distributed loop's own acceptance example)."""
    from embulk_executor_mapreduce_spark.operators.bpe_local import bpe_train

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low newer new")], "doc_id long, text string"
    )
    got = {
        r.merge_rank: (r.pair, r.merged)
        for r in bpe_train(docs, n_merges=6).collect()
    }
    assert got[0] == ("l o", "lo")
    assert got[1] == ("lo w", "low")
    assert got[2] == ("low </w>", "low</w>")
    assert got[3] == ("e r", "er")
    assert got[4] == ("e w", "ew")
    assert got[5] == ("er </w>", "er</w>")

    tiny = spark.createDataFrame([(1, "a a")], "doc_id long, text string")
    rows = {r.merge_rank: r.pair for r in bpe_train(tiny, n_merges=3).collect()}
    assert rows[0] == "a </w>"
    assert rows[1] is None and rows[2] is None
