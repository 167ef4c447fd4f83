"""Integer PageRank: bit-exact Spark↔DuckDB parity + semantic invariants."""

import duckdb
import pytest
from pyspark.sql import functions as F

from embulk_executor_mapreduce_spark.operators.graph import (
    PR_SCALE,
    pagerank,
    pagerank_cte_sql,
)
from embulk_executor_mapreduce_spark.plans import inspect as plan_inspect


def _reference_pagerank(edges, iters, scale=PR_SCALE, num=85, den=100):
    """Independent plain-Python reimplementation of the documented integer
    semantics (dict loops, no DataFrames) — guards both engine versions
    against a shared misunderstanding."""
    e = sorted(set(edges))
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    init = scale // n
    base = (den - num) * scale // (den * n)
    rank = {v: init for v in nodes}
    for _ in range(iters):
        nxt = {v: base for v in nodes}
        for s, d in e:
            nxt[d] += (rank[s] * num) // (den * outdeg[s])
        rank = nxt
    return rank


TINY = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]  # 3 is dangling-source-only


def test_pagerank_tiny_graph_matches_reference(spark):
    got = {
        r.node: r.rank
        for r in pagerank(
            spark.createDataFrame(TINY, "src long, dst long"), iters=4
        ).collect()
    }
    assert got == _reference_pagerank(TINY, iters=4)
    # node 2 has the most in-links → highest rank; dangling-only 3 sits at base
    assert max(got, key=got.get) == 2
    assert got[3] == min(got.values())


def _pseudo_edges(n_nodes=1000, per_node=3):
    """Deterministic pseudo-random multigraph with cycles, hubs, and
    dangling nodes; same closed form generates the SQL side."""
    return [
        (i, (i * i + 7 * j * j + 13) % n_nodes)
        for i in range(n_nodes)
        for j in range(per_node)
        if i % 17 != 0  # every 17th node is dangling (no out-edges)
    ]


def test_pagerank_spark_duckdb_bit_exact(spark, monkeypatch):
    edges = _pseudo_edges()
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted((r.node, r.rank) for r in pagerank(df, iters=5).collect())
    edges_sql = (
        "SELECT i AS src, (i*i + 7*j*j + 13) % 1000 AS dst "
        "FROM range(1000) t(i), range(3) u(j) WHERE i % 17 != 0"
    )
    want = sorted(
        (int(n), int(r))
        for n, r in duckdb.sql(pagerank_cte_sql(edges_sql, iters=5)).fetchall()
    )
    assert got == want
    assert got == sorted(_reference_pagerank(edges, iters=5).items())
    # the r17 driver-local fast path handled the default run above; the
    # distributed loop must stay bit-equal to the same oracle
    from embulk_executor_mapreduce_spark.operators import graph as G

    monkeypatch.setattr(plan_inspect, "COLLECT_MAX_ROWS", 0)
    loop = sorted((r.node, r.rank) for r in pagerank(df, iters=5).collect())
    assert loop == want


def test_pagerank_driver_path_dispatch_and_fallbacks(spark, monkeypatch):
    """r17 driver-local fast path: real runs on cap-sized DISTINCT edge
    sets collect once and iterate locally (bit-equal to the loop,
    dangling redistribution and n_nodes included); NULL endpoints and
    plan-inspection runs (checkpoint=False) keep the distributed loop."""
    from embulk_executor_mapreduce_spark.operators import graph as G

    local_runs: list[int] = []
    orig = G._pagerank_local

    def spy(*a, **kw):
        local_runs.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(G, "_pagerank_local", spy)
    edges = _pseudo_edges(n_nodes=120)
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = sorted(
        map(tuple, pagerank(df, iters=3, redistribute_dangling=True).collect())
    )
    assert local_runs
    budget = plan_inspect.COLLECT_MAX_ROWS
    monkeypatch.setattr(plan_inspect, "COLLECT_MAX_ROWS", 0)
    loop = pagerank(df, iters=3, redistribute_dangling=True)
    assert fast == sorted(map(tuple, loop.collect()))
    assert pagerank(df, iters=3, redistribute_dangling=True).schema == loop.schema
    monkeypatch.setattr(plan_inspect, "COLLECT_MAX_ROWS", budget)
    # n_nodes hint feeds the local arithmetic identically
    n = len({s for s, _ in edges} | {d for _, d in edges})
    with_hint = sorted(
        map(tuple, pagerank(df, iters=3, n_nodes=n).collect())
    )
    assert with_hint == sorted(map(tuple, pagerank(df, iters=3).collect()))
    # NULL endpoint -> the local mirror declines, the loop still answers
    null_df = spark.createDataFrame(
        [(0, 1), (1, None), (1, 2)], "src long, dst long"
    )
    local_runs.clear()
    out = pagerank(null_df, iters=2).collect()
    assert local_runs  # probed ...
    assert len(out) > 0  # ... fell back, loop produced the ranks
    # checkpoint=False (plan inspection) never probes the driver path
    local_runs.clear()
    pagerank(df, iters=1, checkpoint=False)
    assert not local_runs


@pytest.mark.parametrize("redistribute", [False, True])
def test_pagerank_empty_edges_same_on_every_path(spark, monkeypatch, redistribute):
    """An empty edge set with no n_nodes hint ranks nothing: the driver
    path, the distributed loop and its checkpoint=False form all return
    the same empty, schema-equal frame."""
    from embulk_executor_mapreduce_spark.operators import graph as G

    empty = spark.createDataFrame([], "src long, dst long")
    local = pagerank(empty, iters=2, redistribute_dangling=redistribute)
    no_ck = pagerank(
        empty, iters=2, redistribute_dangling=redistribute, checkpoint=False
    )
    monkeypatch.setattr(G, "_pagerank_local", lambda *a, **kw: None)
    loop = pagerank(empty, iters=2, redistribute_dangling=redistribute)
    for got in (no_ck, loop):
        assert got.schema == local.schema
        assert got.collect() == local.collect() == []


def test_pagerank_mass_and_determinism(spark):
    edges = _pseudo_edges(n_nodes=200)
    df = spark.createDataFrame(edges, "src long, dst long")
    a = {r.node: r.rank for r in pagerank(df, iters=3).collect()}
    b = {r.node: r.rank for r in pagerank(df, iters=3).collect()}
    assert a == b  # bit-deterministic across runs
    assert all(v > 0 for v in a.values())
    # flooring + dangling drop only ever LOSE mass vs the ideal total
    assert sum(a.values()) <= PR_SCALE


def test_pagerank_dedups_edges(spark):
    dup = spark.createDataFrame(TINY + TINY, "src long, dst long")
    got = {r.node: r.rank for r in pagerank(dup, iters=4).collect()}
    assert got == _reference_pagerank(TINY, iters=4)


def test_event_graph_pagerank_full_oracle_parity(spark):
    """The exact (fn, oracle) pair staged for r04 catalog registration,
    driven through the same strict compare the round driver uses."""
    from embulk_executor_mapreduce_spark.catalog import load
    from embulk_executor_mapreduce_spark.operators.graph import (
        event_transition_edges,
        event_transition_edges_sql,
    )
    from tests.oracle import compare

    def fn(spark, sf_dir):
        edges = event_transition_edges(load(spark, sf_dir, "events"))
        return pagerank(edges, iters=5)

    oracle = pagerank_cte_sql(event_transition_edges_sql("events"), iters=5)
    ok, msg = compare(spark, "/root/testdata/sf0.01", fn, oracle)
    assert ok, msg


def _reference_pagerank_dangling(edges, iters, scale=PR_SCALE, num=85, den=100):
    """Independent plain-Python mirror of the redistribute_dangling=True
    semantics: each iteration, mass on nodes without out-edges is shared
    uniformly as (num * dm) // (den * n)."""
    e = sorted(set(edges))
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    n = len(nodes)
    init = scale // n
    base = (den - num) * scale // (den * n)
    rank = {v: init for v in nodes}
    for _ in range(iters):
        dm = sum(r for v, r in rank.items() if v not in outdeg)
        share = (dm * num) // (den * n)
        nxt = {v: base + share for v in nodes}
        for s, d in e:
            nxt[d] += (rank[s] * num) // (den * outdeg[s])
        rank = nxt
    return rank


def test_pagerank_dangling_redistribution_3way_bit_exact(spark):
    edges = _pseudo_edges()
    got = sorted(
        (r.node, r.rank)
        for r in pagerank(
            spark.createDataFrame(edges, "src long, dst long"),
            iters=4,
            redistribute_dangling=True,
        ).collect()
    )
    edges_sql = (
        "SELECT i AS src, (i*i + 7*j*j + 13) % 1000 AS dst "
        "FROM range(1000) t(i), range(3) u(j) WHERE i % 17 != 0"
    )
    want = sorted(
        (int(n), int(r))
        for n, r in duckdb.sql(
            pagerank_cte_sql(edges_sql, iters=4, redistribute_dangling=True)
        ).fetchall()
    )
    assert got == want
    assert got == sorted(_reference_pagerank_dangling(edges, iters=4).items())


def test_pagerank_dangling_mass_conservation_property(spark):
    """With redistribution the only mass loss is integer flooring: total
    rank stays within n-ulp floor loss of SCALE per iteration, and is
    strictly above the drop-variant's total on a graph with dangling
    nodes; the default variant is unchanged by the new code path."""
    edges = _pseudo_edges(n_nodes=200)
    df = spark.createDataFrame(edges, "src long, dst long")
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    n, iters = len(nodes), 3
    redist = {r.node: r.rank for r in pagerank(df, iters=iters, redistribute_dangling=True).collect()}
    drop = {r.node: r.rank for r in pagerank(df, iters=iters).collect()}
    assert sum(redist.values()) <= PR_SCALE
    # floor-loss bound: each iteration floors ≤1 ulp per node at the base
    # term, per node at the share term, and per edge at the contribution
    loss_bound = iters * (2 * n + len(set(edges)) + 1)
    assert sum(redist.values()) >= PR_SCALE - loss_bound
    assert sum(redist.values()) > sum(drop.values())
    assert drop == _reference_pagerank(edges, iters=iters)


def test_pagerank_releases_distinct_edge_cache_after_first_iteration(
    spark, monkeypatch
):
    """VERDICT r8 item 2 (ADVICE r7-3): the non-bucketed path must not hold
    TWO edge-sized caches for the whole loop. Once the first iteration's
    eager checkpoint has materialized the ``ew`` and ``nodes`` caches, the
    distinct-edge cache ``e`` they derive from must be released. Pinned by
    event order: exactly one unpersist fires between the first and second
    localCheckpoint calls (the early release of ``e``), and the values on a
    dangling-heavy graph are bit-identical to the plain-Python reference —
    i.e. the in-loop dangling anti-join no longer depends on the released
    cache."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _CDF
    except ImportError:  # pre-connect pyspark: one DataFrame class
        from pyspark.sql import DataFrame as _CDF

    events = []
    orig_cp, orig_up = _CDF.localCheckpoint, _CDF.unpersist

    def spy_cp(self, eager=True):
        events.append("checkpoint")
        return orig_cp(self, eager=eager)

    def spy_up(self, blocking=False):
        events.append("unpersist")
        return orig_up(self, blocking=blocking)

    edges = [(i % 23, (i * 5 + 1) % 29) for i in range(200)]
    df = spark.createDataFrame(edges, "src long, dst long")
    # this guard pins the LOOP's cache discipline; force past the r17
    # driver-local fast path (which runs no loop and checkpoints nothing)
    from embulk_executor_mapreduce_spark.operators import graph as G

    monkeypatch.setattr(plan_inspect, "COLLECT_MAX_ROWS", 0)
    _CDF.localCheckpoint, _CDF.unpersist = spy_cp, spy_up
    try:
        got = pagerank(df, iters=3, redistribute_dangling=True).collect()
    finally:
        _CDF.localCheckpoint, _CDF.unpersist = orig_cp, orig_up

    i0, i1 = events.index("checkpoint"), events.index("checkpoint", events.index("checkpoint") + 1)
    between = events[i0 + 1 : i1]
    assert between == ["unpersist"], events
    # tail cleanup still runs: e (idempotent re-call) + ew + nodes
    assert events.count("unpersist") == 4, events
    assert sorted((r.node, r.rank) for r in got) == sorted(
        _reference_pagerank_dangling(edges, iters=3).items()
    )


def test_pagerank_nonbucketed_loop_body_no_edge_side_exchange(
    spark, monkeypatch
):
    """VERDICT r7 item 6: the non-bucketed path's repartition("src") +
    persist cache must make every steady-state iteration shuffle ONLY
    rank-cardinality frames — the edge (data-sized) cache feeds the
    contribution join straight from InMemoryTableScan with no Exchange
    above it. Checked on the REAL loop: a localCheckpoint spy captures each
    iteration's executedPlan before truncation, and the JVM tree-walk
    (plans.inspect.live_plan_nodes) counts only live nodes — toString
    string-counting would double-count the cached relation's one-time
    build plan. Broadcast is disabled so the tiny test graph plans the
    same SMJ shape a 100 TB edge list gets."""
    from embulk_executor_mapreduce_spark.plans.inspect import (
        ancestor_names,
        live_plan_nodes,
    )

    try:
        from pyspark.sql.classic.dataframe import DataFrame as _CDF
    except ImportError:  # pre-connect pyspark: one DataFrame class
        from pyspark.sql import DataFrame as _CDF

    captured = []
    orig = _CDF.localCheckpoint

    def spy(self, eager=True):
        captured.append(self._jdf.queryExecution().executedPlan())
        return orig(self, eager=eager)

    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # loop-shape guard: force past the r17 driver-local fast path
    from embulk_executor_mapreduce_spark.operators import graph as G

    monkeypatch.setattr(plan_inspect, "COLLECT_MAX_ROWS", 0)
    _CDF.localCheckpoint = spy
    try:
        pagerank(
            spark.createDataFrame(_pseudo_edges(50), "src long, dst long"),
            iters=3,
        )
    finally:
        _CDF.localCheckpoint = orig
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)

    assert len(captured) == 3
    edge_cols = {"src", "dst", "outdeg"}
    for it in (1, 2):  # steady state: the cache is materialized after iter 0
        nodes = live_plan_nodes(captured[it])
        shuffles = [
            (i, cols)
            for i, (_, name, cols) in enumerate(nodes)
            if name == "ShuffleExchangeExec"
        ]
        # exactly two live shuffles per iteration, both node-cardinality:
        # the rank frame meeting the cache's hash(src) partitioning, and
        # the contribution groupBy(dst) partial-agg exchange
        assert len(shuffles) == 2, nodes
        for _, cols in shuffles:
            assert "outdeg" not in cols, nodes
            assert not edge_cols <= set(cols), nodes
        # the edge cache is actually used, as a leaf of the join ...
        scans = [
            i
            for i, (_, name, cols) in enumerate(nodes)
            if name == "InMemoryTableScanExec" and edge_cols <= set(cols)
        ]
        assert scans, nodes
        # ... with no shuffle between it and the join that consumes it
        for i in scans:
            anc = ancestor_names(nodes, i)
            join_path = anc[: next(
                k for k, n in enumerate(anc) if "Join" in n
            )]
            assert "ShuffleExchangeExec" not in join_path, anc


def test_pagerank_bucketed_edges_zero_edge_exchanges(spark):
    """Pre-bucketed edge layout (VERDICT r4 item 8): with the edge list
    written bucketBy(src), the per-iteration rank-join and the outdeg
    aggregate read the scan's bucket partitioning — no exchange on the
    edge (data-sized) side; only the node-cardinality rank frame shuffles.
    Measured as: (a) the bucketed scan shows up as bucketed in the plan,
    (b) the ONE-iteration plan has strictly fewer shuffle exchanges than
    the identical plan over unbucketed edges, by exactly the two
    edge-side exchanges (join + outdeg), (c) ranks are bit-identical."""
    from embulk_executor_mapreduce_spark.operators.graph import (
        pagerank_bucketed_edges,
    )
    from embulk_executor_mapreduce_spark.plans.inspect import num_exchanges

    edges = spark.createDataFrame(
        [(i % 17, (i * 7 + 3) % 17) for i in range(300)], "src long, dst long"
    )
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # big-big
    bucketed = None
    try:
        # checkpoint=False keeps the iteration lineage in the plan so the
        # exchange count is inspectable (a checkpointed frame is a LogicalRDD)
        flat = pagerank(edges, iters=1, checkpoint=False)
        flat_ex = num_exchanges(flat)
        bucketed = pagerank_bucketed_edges(
            edges, table="pr_guard_edges", buckets=4, iters=1, checkpoint=False
        )
        buck_ex = num_exchanges(bucketed)
        plan = bucketed._jdf.queryExecution().toString()
        assert "Bucketed: true" in plan, plan
        # the edge-side exchanges (rank-join input, outdeg input, and the
        # write-time distinct that the flat plan re-derives per lineage
        # branch) are gone; at these pinned plan shapes 11 -> 5
        assert buck_ex < flat_ex, (buck_ex, flat_ex)
        assert buck_ex <= 5, (buck_ex, flat_ex)
        # and the LAYOUT change must not move a single rank bit
        assert sorted(map(tuple, bucketed.collect())) == sorted(
            map(tuple, flat.collect())
        )
        # checkpoint=False leaves the uniquely-named table alive for the
        # plan inspection above; its name rides on the frame for cleanup
        assert bucketed.bucketed_edges_table.startswith("pr_guard_edges_")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
        from embulk_executor_mapreduce_spark.operators.graph import (
            drop_bucketed_edges,
        )

        name = getattr(bucketed, "bucketed_edges_table", None)
        if name:
            drop_bucketed_edges(spark, name)
