"""Property tests for the non-oracle operators: SimHash locality, LSH recall,
and the dedup survivor invariants."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from embulk_executor_mapreduce_spark.operators.dedup import (
    exact_dedup,
    simhash64,
)
from embulk_executor_mapreduce_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucket_topk,
    pq_adc_topk,
)
from embulk_executor_mapreduce_spark.plans import inspect as plan_inspect

SF = "/root/testdata/sf0.001"


def _hamming(a: int, b: int) -> int:
    return bin((a ^ b) & (2**64 - 1)).count("1")


def test_simhash_locality(spark):
    """Near-identical docs get near-identical simhashes; disjoint docs don't."""
    base = "the quick brown fox jumps over the lazy dog " * 8
    docs = [
        Row(doc_id=1, text=base + "alpha beta"),
        Row(doc_id=2, text=base + "alpha gamma"),  # near-dup of 1
        Row(doc_id=3, text="completely different vocabulary entirely " * 10),
    ]
    got = {r.doc_id: r.simhash for r in simhash64(spark.createDataFrame(docs), "text", "doc_id").collect()}
    near = _hamming(got[1], got[2])
    far = _hamming(got[1], got[3])
    assert near < far, f"simhash locality violated: near={near} far={far}"
    assert near <= 16


def test_exact_dedup_survivors(spark):
    docs = [
        Row(doc_id=10, text="aaa"),
        Row(doc_id=11, text="aaa"),
        Row(doc_id=12, text="bbb"),
    ]
    out = exact_dedup(spark.createDataFrame(docs), "text", "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [10, 12]


def test_lsh_recall_vs_bruteforce(spark):
    """The LSH top-k must recover a reasonable fraction of true neighbors —
    and every returned neighbor's cos_sim must match brute force exactly."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    brute = brute_force_topk(emb, k=5)
    approx = lsh_bucket_topk(emb, k=5)
    b = {(r.query_id, r.cand_id): r.cos_sim for r in brute.collect()}
    a = {(r.query_id, r.cand_id): r.cos_sim for r in approx.collect()}
    # scores for overlapping pairs identical
    for k_ in set(a) & set(b):
        assert abs(a[k_] - b[k_]) < 1e-9
    recall = len(set(a) & set(b)) / len(b)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_pq_adc_ranking_quality_vs_exact_l2(spark):
    """PQ/ADC self-consistency (k rows per query, non-negative ascending
    distances) plus an honest recall floor against EXACT L2 neighbors (the
    metric PQ approximates — cosine top-k is a different ranking on
    unnormalized vectors). With the deterministic id-prefix stand-in
    codebook the measured recall is 0.2 at sf0.001; a trained k-means
    codebook is the quality lever and changes no plan shape, so the floor
    here only guards against the quantizer degrading to noise."""
    import numpy as np

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    V = np.array([np.asarray(v, dtype=float) for v in pdf["embedding"]])
    exact: dict[int, set[int]] = {}
    for q in (0, 1, 2, 3):
        qi = int(np.where(ids == q)[0][0])
        d = ((V - V[qi]) ** 2).sum(axis=1)
        d[qi] = np.inf
        order = np.lexsort((ids, d))
        exact[q] = {int(ids[i]) for i in order[:5]}

    rows = pq_adc_topk(emb, k=5).collect()
    per_q: dict[int, list[float]] = {}
    got: dict[int, set[int]] = {}
    for r in rows:
        assert r.adc_dist >= 0.0
        per_q.setdefault(r.query_id, []).append(r.adc_dist)
        got.setdefault(r.query_id, set()).add(r.cand_id)
    for q, ds in per_q.items():
        assert len(ds) == 5 and ds == sorted(ds), (q, ds)
    recall = sum(len(got[q] & exact[q]) for q in exact) / (5 * len(exact))
    assert recall >= 0.15, f"PQ/ADC degraded to noise: recall={recall}"


def test_kmeans_train_improves_quantization_objective(spark):
    """Lloyd's invariant: the k-means objective (mean squared L2 to the
    assigned centroid) is non-increasing per iteration and must beat the
    id-prefix init substantially (measured: 1.24 → 0.75 at sf0.01, a 39%
    quantization-error cut — the recall lever for IVF/PQ on real clustered
    corpora; the synthetic embeddings are near-random so top-k recall itself
    is flat and is only floor-guarded here)."""
    import numpy as np

    from embulk_executor_mapreduce_spark.operators.similarity import (
        as_double,
        kmeans_train,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas().sort_values("vec_id")
    V = np.array([np.asarray(v, dtype=float) for v in pdf["embedding"]])

    def objective(C):
        d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return float(d.min(axis=1).mean())

    base = emb.select("vec_id", as_double("embedding").alias("v"))
    k = 16
    prev = objective(V[:k])
    for iters in (1, 3):
        cents = kmeans_train(base, "vec_id", "v", k=k, iters=iters)
        rows = cents.orderBy("cid").collect()
        assert len(rows) == k  # fixed-size table, corpus-independent
        cur = objective(np.array([np.asarray(r.cv) for r in rows]))
        assert cur <= prev + 1e-12, (iters, cur, prev)
        prev = cur
    assert prev < objective(V[:k]) * 0.9  # beat init by >10%


def test_kmeans_train_grouped_per_subspace(spark):
    """Grouped training (PQ codebooks): exactly k codewords per group, and
    each group's objective is trained independently below its init."""
    from embulk_executor_mapreduce_spark.operators.similarity import (
        as_double,
        kmeans_train,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.select("vec_id", as_double("embedding").alias("v"))
    sub_ix = F.explode(F.array(*[F.lit(s) for s in range(4)])).alias("s")
    subs = base.select("vec_id", "v", sub_ix).select(
        "vec_id", "s", F.slice(F.col("v"), F.col("s") * 16 + 1, 16).alias("sv")
    )
    cb = kmeans_train(subs, "vec_id", "sv", k=8, iters=2, group_cols=("s",))
    counts = {r.s: r.n for r in cb.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert counts == {0: 8, 1: 8, 2: 8, 3: 8}


def test_trained_ann_recall_floors(spark):
    """Trained IVF/PQ keep sane recall on the near-random synthetic corpus
    (training can't help recall on unclustered data — the objective test
    above carries the quality claim; this guards against degradation)."""
    import numpy as np

    from embulk_executor_mapreduce_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    V = np.array([np.asarray(v, dtype=float) for v in pdf["embedding"]])
    nrm = np.linalg.norm(V, axis=1)
    got: dict[int, set[int]] = {}
    for r in ivf_topk(emb, train_iters=3).collect():
        got.setdefault(r.query_id, set()).add(r.cand_id)
    hits = total = 0
    for q in (0, 1, 2, 3):
        qi = int(np.where(ids == q)[0][0])
        sims = V @ V[qi] / (nrm * nrm[qi])
        sims[qi] = -np.inf
        order = np.lexsort((ids, -sims))
        exact = {int(ids[i]) for i in order[:5]}
        hits += len(got.get(q, set()) & exact)
        total += 5
    assert hits / total >= 0.5, f"trained IVF recall collapsed: {hits / total}"


def test_approx_count_distinct_bounds(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    exact = ev.select("user_id").distinct().count()
    approx = ev.agg(F.approx_count_distinct("user_id").alias("a")).collect()[0].a
    assert abs(approx - exact) / exact < 0.15


def test_embedding_neardup_properties(spark):
    """Pairs are ordered (id_a < id_b), above threshold, and a self-dup
    vector pair is found with cos_sim == 1."""
    from embulk_executor_mapreduce_spark.operators.dedup import embedding_neardup

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    dup = e.limit(1).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    pairs = embedding_neardup(e.unionByName(dup), threshold=0.25).collect()
    assert all(r.id_a < r.id_b for r in pairs)
    assert all(r.cos_sim >= 0.25 for r in pairs)
    exact = [r for r in pairs if r.id_b >= 1_000_000]
    assert any(abs(r.cos_sim - 1.0) < 1e-6 for r in exact)


def test_frame_sample_fanout(spark):
    """Frame sampling fans one row out to ceil(n_frames/stride) rows with
    distinct frame hashes."""
    from embulk_executor_mapreduce_spark.operators.multimodal import (
        frame_sample_stub,
        to_binary,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    out = frame_sample_stub(to_binary(docs), stride=24)
    rows = out.collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc) == 20
    for doc_rows in by_doc.values():
        n_frames = doc_rows[0].n_frames
        assert len(doc_rows) == (n_frames + 23) // 24
        hashes = {r.frame_hash for r in doc_rows}
        assert len(hashes) == len(doc_rows)


def test_connected_components_chain_and_islands(spark):
    """Known topology: chain a-b-c-d merges into one cluster (pairwise links
    only), island e-f separate, singleton pairs nothing."""
    from embulk_executor_mapreduce_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "id_a long, id_b long",
    )
    got = {
        r.doc_id: r.cluster_id for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_converges(spark):
    """A 40-node path is the adversarial diameter case for min-label
    propagation — must still converge within the iteration bound."""
    from embulk_executor_mapreduce_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    rows = connected_components(pairs).collect()
    assert {r.cluster_id for r in rows} == {0}
    assert len(rows) == 41


def test_kmeans_train_on_sampled_subset(spark):
    """100 TB shape: training restricted to a deterministic sample
    (train_filter) — init seeds from the k lowest SAMPLED ids, every
    assign/update pass scans only the sample, the output is still exactly k
    centroids, and the sampled-trained codebook still beats the id-prefix
    init on the FULL corpus objective (codebook quality needs ~1k vectors
    per centroid, not the corpus)."""
    import numpy as np

    from pyspark.sql import functions as F

    from embulk_executor_mapreduce_spark.operators.similarity import (
        as_double,
        kmeans_train,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas().sort_values("vec_id")
    V = np.array([np.asarray(v, dtype=float) for v in pdf["embedding"]])

    def objective(C):
        d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return float(d.min(axis=1).mean())

    base = emb.select("vec_id", as_double("embedding").alias("v"))
    k = 16
    cents = kmeans_train(
        base, "vec_id", "v", k=k, iters=3,
        train_filter=F.col("vec_id") % 2 == 1,  # ids 0..k-1 NOT all present
    )
    rows = cents.orderBy("cid").collect()
    assert len(rows) == k
    assert [r.cid for r in rows] == list(range(k))
    C = np.array([np.asarray(r.cv) for r in rows])
    assert objective(C) < objective(V[:k])  # beats unsampled id-prefix init


def test_trained_ann_assign_only_matches_inline_training(spark, tmp_path):
    """Steady-state trained ANN (VERDICT r3 item 6): searching against a
    PERSISTED centroid/codebook table must reproduce the inline-trained
    results exactly — training is deterministic and the saved table round-
    trips bit-exactly (exactmath means are exact doubles), so assign-only
    is a pure cost optimization, never a semantic fork."""
    from pyspark.sql import functions as F

    from embulk_executor_mapreduce_spark.catalog import load
    from embulk_executor_mapreduce_spark.operators.similarity import (
        as_double,
        dot,
        ivf_topk,
        kmeans_train,
        pq_adc_topk,
    )

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.select(F.col("vec_id"), as_double("embedding").alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )

    inline = sorted(
        (r.query_id, r.cand_id, r.cos_sim)
        for r in ivf_topk(emb, train_iters=3).collect()
    )
    cent_path = str(tmp_path / "centroids")
    kmeans_train(base, "vec_id", "v", k=64, iters=3).write.parquet(cent_path)
    assign_only = sorted(
        (r.query_id, r.cand_id, r.cos_sim)
        for r in ivf_topk(emb, centroids=spark.read.parquet(cent_path)).collect()
    )
    assert assign_only == inline

    n_sub, sub_dim = 4, 16
    subs = base.select(
        "vec_id",
        F.explode(F.array(*[F.lit(s) for s in range(n_sub)])).alias("s"),
        "v",
    ).select(
        "vec_id",
        "s",
        F.slice(F.col("v"), F.col("s") * sub_dim + 1, sub_dim).alias("sv"),
    )
    inline_pq = sorted(
        (r.query_id, r.cand_id, r.adc_dist)
        for r in pq_adc_topk(emb, train_iters=3).collect()
    )
    cb_path = str(tmp_path / "codebook")
    kmeans_train(subs, "vec_id", "sv", k=16, iters=3, group_cols=("s",)).select(
        "s", F.col("cid").alias("code"), "cv"
    ).write.parquet(cb_path)
    assign_only_pq = sorted(
        (r.query_id, r.cand_id, r.adc_dist)
        for r in pq_adc_topk(emb, codebook=spark.read.parquet(cb_path)).collect()
    )
    assert assign_only_pq == inline_pq


def test_semantic_dedup_invariants(spark):
    """SemDeDup invariants: deterministic across runs; the min-id member of
    every cluster always survives; every survivor pair in one cluster is
    below the cosine threshold (the defining property of the output)."""
    from embulk_executor_mapreduce_spark.catalog import load
    from embulk_executor_mapreduce_spark.operators.dedup import semantic_dedup
    from embulk_executor_mapreduce_spark.operators.similarity import as_double, dot
    from pyspark.sql import functions as F

    emb = load(spark, "/root/testdata/sf0.001", "embeddings")
    a = sorted((r.vec_id, r.cid) for r in semantic_dedup(emb, k=8, iters=2).collect())
    b = sorted((r.vec_id, r.cid) for r in semantic_dedup(emb, k=8, iters=2).collect())
    assert a == b and len(a) > 0

    surv = semantic_dedup(emb, k=8, iters=2)
    # min id per cluster survives (first-wins can never drop the first)
    mins = surv.groupBy("cid").agg(F.min("vec_id").alias("m"))
    assert mins.join(
        surv, (mins.m == surv.vec_id) & (mins.cid == surv.cid), "left_anti"
    ).count() == 0
    # no surviving within-cluster pair is at/above the threshold
    base = emb.select("vec_id", as_double("embedding").alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    sv = surv.join(base, "vec_id").select("vec_id", "cid", "v", "nrm")
    x, y = sv.alias("x"), sv.alias("y")
    over = (
        x.join(
            y,
            (F.col("x.cid") == F.col("y.cid"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .where(
            F.floor(
                dot(F.col("x.v"), F.col("y.v"))
                / (F.col("x.nrm") * F.col("y.nrm"))
                * 1_000_000
                + F.lit(0.5)
            ).cast("long")
            >= 250_000
        )
        .count()
    )
    assert over == 0


def test_minhash_decontaminate_fuzzy(spark):
    """Fuzzy decontamination: a lightly-edited copy of a benchmark doc is
    dropped (where exact n-gram matching could miss it), unrelated docs
    survive, and the audit frame carries the agreement count."""
    from embulk_executor_mapreduce_spark.operators.dedup import (
        minhash_decontaminate,
    )

    bench_text = (
        "the quick brown fox jumps over the lazy dog while seventeen "
        "sailors watch from the harbor wall and debate the merits of "
        "spark partitioning strategies at one hundred terabyte scale"
    )
    clean_text = (
        "completely different content about recipe ingredients flour "
        "butter sugar eggs vanilla folded gently into batter and baked "
        "until golden at one hundred eighty degrees for forty minutes"
    )
    benchmark = spark.createDataFrame(
        [(1000, bench_text)], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "surely " + bench_text),   # paraphrase-ish: prepended word
            (2, clean_text),
            (3, bench_text + " indeed"),   # appended word
        ],
        "doc_id long, text string",
    )
    clean, cont = minhash_decontaminate(
        corpus, benchmark, "text", "doc_id", min_matches=12
    )
    assert sorted(r.doc_id for r in clean.collect()) == [2]
    audit = {r.doc_id: r.n_match for r in cont.collect()}
    assert set(audit) == {1, 3}
    assert all(v >= 12 for v in audit.values())


def test_incremental_semantic_dedup_loop(spark, tmp_path):
    """Incremental SemDeDup behavior: a later increment's near-duplicate of
    a persisted survivor is dropped, novel content lands, and re-ingesting
    the same increment is a no-op (every doc collides with itself in
    state — delta empty, state unchanged)."""
    from embulk_executor_mapreduce_spark.operators.dedup import (
        incremental_semantic_dedup,
    )
    from embulk_executor_mapreduce_spark.sinks.writer import (
        read_merge_state,
        write_sink,
    )
    from embulk_executor_mapreduce_spark.spec import SinkSpec

    def vec(seed, wiggle=0.0):
        return [((seed * 31 + j * 7) % 13 - 6) / 6.0 + wiggle * (j % 2) for j in range(8)]

    b1 = spark.createDataFrame(
        [(0, vec(1)), (2, vec(50))], "vec_id long, embedding array<double>"
    )
    # 11 ≈ near-dup of persisted 0; 13 = genuinely novel direction
    b2 = spark.createDataFrame(
        [(11, vec(1, wiggle=1e-4)), (13, vec(7))],
        "vec_id long, embedding array<double>",
    )
    state_path = str(tmp_path / "state")
    sink = SinkSpec(
        type="parquet", path=state_path, mode="merge",
        merge_key=("vec_id", "cell"), merge_order=("nrm",),
    )
    kw = dict(k=2, iters=1, threshold_micro=999_000)
    novel1, d1, trained = incremental_semantic_dedup(b1, None, None, **kw)
    assert {r.vec_id for r in novel1.collect()} == {0, 2}
    write_sink(d1, sink)
    cents = trained  # caller persists; here kept in memory is equivalent

    novel2, d2, t2 = incremental_semantic_dedup(
        b2, read_merge_state(spark, state_path), cents, **kw
    )
    assert t2 is None  # assign-only: nothing retrained
    assert {r.vec_id for r in novel2.collect()} == {13}  # 11 dropped vs state
    write_sink(d2, sink)
    state = {r.vec_id for r in read_merge_state(spark, state_path).collect()}
    assert state == {0, 2, 13}

    # idempotent re-ingestion: every doc cosines 1.0 with itself in state
    novel2b, d2b, _ = incremental_semantic_dedup(
        b2, read_merge_state(spark, state_path), cents, **kw
    )
    assert novel2b.count() == 0 and d2b.count() == 0
    write_sink(d2b, sink)  # merging the empty delta is a no-op
    assert {r.vec_id for r in read_merge_state(spark, state_path).collect()} == state


def test_reassign_semantic_state_migration(spark, tmp_path):
    """Centroid-drift migration: re-assigning the survivor state to the SAME
    centroids is a bit-exact no-op; to RETRAINED centroids it relabels cells
    without gaining/losing a survivor, and the migrated state keeps serving
    the incremental loop (a near-dup of a migrated survivor still drops)."""
    from embulk_executor_mapreduce_spark.operators.dedup import (
        incremental_semantic_dedup,
        reassign_semantic_state,
    )
    from embulk_executor_mapreduce_spark.operators.similarity import (
        as_double,
        dot,
        kmeans_train,
    )
    from pyspark.sql import functions as F

    def vec(seed, wiggle=0.0):
        return [((seed * 31 + j * 7) % 13 - 6) / 6.0 + wiggle * (j % 2) for j in range(8)]

    b1 = spark.createDataFrame(
        [(i, vec(i)) for i in (3, 7, 20, 41)], "vec_id long, embedding array<double>"
    )
    _, state, trained = incremental_semantic_dedup(b1, None, None, k=2, iters=1)
    before = sorted((r.vec_id, r.cell) for r in state.collect())

    # same centroids → bit-exact no-op
    same = reassign_semantic_state(state, trained)
    assert sorted((r.vec_id, r.cell) for r in same.collect()) == before
    assert set(same.columns) == set(state.columns)

    # retrained centroids (different k) → same survivors, possibly new cells
    base = b1.select("vec_id", as_double("embedding").alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    retrained = kmeans_train(
        base, "vec_id", "v", k=3, iters=2, train_filter=F.lit(True)
    )
    migrated = reassign_semantic_state(state, retrained)
    assert sorted(r.vec_id for r in migrated.collect()) == [v for v, _ in before]

    # the migrated state still drops near-dups through the loop
    b2 = spark.createDataFrame(
        [(100, vec(3, 1e-4)), (101, vec(9))], "vec_id long, embedding array<double>"
    )
    novel, _, _ = incremental_semantic_dedup(
        b2, migrated, retrained, threshold_micro=999_000
    )
    assert {r.vec_id for r in novel.collect()} == {101}


# ---------------------------------------------------------------------------
# Independent pure-Python references (r6): the BPE merge-pass bug proved a
# cross-engine oracle can be self-consistently wrong — these re-derive the
# operator semantics from scratch and compare on randomized corpora.
# ---------------------------------------------------------------------------


def test_simhash64_matches_independent_reference(spark):
    """SimHash64 vs a from-scratch implementation of the documented hash
    construction (two 60-bit md5 hex folds → ±1 bit sums → sign bits,
    bit 63 offset by MIN_LONG)."""
    import hashlib

    from embulk_executor_mapreduce_spark.operators.dedup import simhash64

    def ref_simhash(text):
        sums = [0] * 64
        for tok in text.split(" "):
            hx = hashlib.md5(tok.encode()).hexdigest()
            lo = int(hx[0:15], 16)   # SQL substring(md5,1,15): first 15 hex
            hi = int(hx[15:30], 16)  # substring(md5,16,15): next 15
            for b in range(64):
                bit = (lo >> b) & 1 if b < 60 else (hi >> (b - 60)) & 1
                sums[b] += 1 if bit else -1
        v = 0
        for b in range(64):
            if sums[b] > 0:
                v |= 1 << b
        return v - (1 << 64) if v >= (1 << 63) else v

    docs = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "totally different words entirely here"),
        (4, "alpha"),
    ]
    got = {
        r.doc_id: r.simhash
        for r in simhash64(
            spark.createDataFrame(docs, "doc_id long, text string"),
            "text",
            "doc_id",
        ).collect()
    }
    for d, t in docs:
        assert got[d] == ref_simhash(t), (d, t)


def test_minhash_candidates_match_independent_reference(spark):
    """MinHash-LSH candidate pairs vs a from-scratch banding simulation
    using the engine's own signature construction primitives — verifies the
    BANDING/bucketing logic (which docs become candidates) independently of
    the signature math."""
    import random

    from pyspark.sql import functions as F

    from embulk_executor_mapreduce_spark.operators.dedup import (
        minhash_candidates,
        minhash_signature,
        word_shingles,
    )

    rng = random.Random(13)
    base = ["w%d" % i for i in range(30)]
    docs = []
    for d in range(14):
        words = [rng.choice(base) for _ in range(12)]
        docs.append((d, " ".join(words)))
    # planted near-dup pair
    docs.append((100, docs[0][1]))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    num_hashes, bands = 8, 4
    # engine's signatures, collected — the reference only re-derives BANDING
    sigs = {
        r.doc_id: list(r.sig)
        for r in df.select(
            "doc_id",
            minhash_signature(
                word_shingles("text", 3), num_hashes=num_hashes
            ).alias("sig"),
        ).collect()
    }
    rows_per = num_hashes // bands
    buckets = {}
    for d, sig in sigs.items():
        for b in range(bands):
            key = (b, tuple(sig[b * rows_per : (b + 1) * rows_per]))
            buckets.setdefault(key, []).append(d)
    expected = set()
    for members in buckets.values():
        for i, a in enumerate(sorted(members)):
            for b2 in sorted(members)[i + 1 :]:
                expected.add((a, b2))

    got = {
        (r.id_a, r.id_b)
        for r in minhash_candidates(
            df, "text", "doc_id", num_hashes=num_hashes, bands=bands
        ).collect()
    }
    assert got == expected
    assert (0, 100) in got  # the planted duplicate pair surfaced


def test_kmeans_train_matches_independent_reference(spark):
    """kmeans_train vs a from-scratch Lloyd's implementation of the
    documented exactmath semantics (flat id<k init, L2 argmin with
    smallest-cid tie-break, scaled-integer means, empty clusters keep
    their previous centroid) — the trainer underlies 10+ lockstep-oracled
    queries, so an independent derivation matters most here."""
    import math
    import random

    from embulk_executor_mapreduce_spark.operators.similarity import (
        KMEANS_SCALE,
        kmeans_train,
    )

    def ref_kmeans(vecs, k, iters):
        cents = {i: list(vecs[i]) for i in sorted(vecs) if i < k}
        for _ in range(iters):
            assign = {}
            for vid, v in vecs.items():
                best = min(
                    cents.items(),
                    key=lambda kv: (
                        sum(x * x for x in v)
                        - 2 * sum(a * b for a, b in zip(v, kv[1]))
                        + sum(x * x for x in kv[1]),
                        kv[0],
                    ),
                )[0]
                assign.setdefault(best, []).append(v)
            new = {}
            for cid, cv in cents.items():
                members = assign.get(cid)
                if not members:
                    new[cid] = cv  # empty cluster keeps its centroid
                    continue
                dim = len(cv)
                new[cid] = [
                    sum(
                        math.floor(m[d] * KMEANS_SCALE + 0.5) for m in members
                    )
                    / (len(members) * KMEANS_SCALE)
                    for d in range(dim)
                ]
            cents = new
        return cents

    rng = random.Random(21)
    vecs = {
        i: [rng.uniform(-1, 1) for _ in range(6)] for i in range(40)
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = {
        r.cid: list(r.cv)
        for r in kmeans_train(df, "vec_id", "embedding", k=4, iters=3).collect()
    }
    want = ref_kmeans(vecs, 4, 3)
    assert sorted(got) == sorted(want)
    for cid in want:
        assert got[cid] == want[cid], cid  # exact equality, not approx


def test_connected_components_matches_union_find_reference(spark):
    """Cluster formation vs an independent union-find on random graphs —
    every vertex must map to the smallest id reachable from it, including
    long chains (transitivity beyond pairwise) and isolated pairs."""
    import random

    from embulk_executor_mapreduce_spark.operators.dedup import (
        connected_components,
    )

    def union_find_clusters(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in parent}

    rng = random.Random(17)
    for trial in range(3):
        edges = set()
        # random sparse graph + a deliberate long chain (worst case for
        # min-label propagation) + an isolated pair
        for _ in range(25):
            a, b = rng.randrange(40), rng.randrange(40)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        edges |= {(100 + i, 101 + i) for i in range(12)}  # chain 100..112
        edges.add((900, 901))
        df = spark.createDataFrame(
            sorted(edges), "id_a long, id_b long"
        )
        got = {
            r.doc_id: r.cluster_id for r in connected_components(df).collect()
        }
        want = union_find_clusters(edges)
        assert got == want, (trial, sorted(edges))


def test_connected_components_fast_path_matches_loop(spark, monkeypatch):
    """The r17 small-graph fast path (driver union-find over a bounded
    collect) must produce exactly the distributed loop's rows — including
    long chains, string ids, and the over-cap / NULL-id fallbacks."""
    from embulk_executor_mapreduce_spark.operators import dedup as D

    cases = [
        spark.createDataFrame(
            [(i, i + 1) for i in range(30)] + [(100, 200), (200, 50)],
            "id_a long, id_b long",
        ),
        spark.createDataFrame(
            [("b", "a"), ("c", "b"), ("x", "y")], "id_a string, id_b string"
        ),
    ]
    for df in cases:
        fast = sorted(map(tuple, D.connected_components(df).collect()))
        monkeypatch.setattr(plan_inspect, "COLLECT_MAX_ROWS", 0)
        loop = sorted(map(tuple, D.connected_components(df).collect()))
        monkeypatch.undo()
        assert fast == loop
    # NULL ids take the loop (whose join semantics label them NULL) — the
    # fast path must not blow up on, or mis-merge, a NULL row
    nulls = spark.createDataFrame(
        [(1, 2), (None, 3)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in
           D.connected_components(nulls).collect()}
    assert got[1] == 1 and got[2] == 1


def test_mmr_prefers_diverse_over_redundant(spark):
    """MMR's defining behavior: when the two most relevant candidates are
    near-duplicates of each other, rank 2 must skip the redundant one for
    a less-relevant-but-diverse candidate (a pure relevance top-k would
    keep both)."""
    from embulk_executor_mapreduce_spark.operators.similarity import (
        mmr_rerank_topk,
    )

    def vec(x, y, z):
        return [float(x), float(y), float(z)] + [0.0] * 5

    # 2D can't produce a diversity win (any candidate near the query is
    # near the first pick too); the diverse candidate lives on a THIRD
    # axis, sharing relevance with the query but orthogonal to pick 1's
    # distinguishing component
    rows = [
        (0, vec(1, 0, 0)),            # query
        (1, vec(0.995, 0.0999, 0)),   # most relevant
        (2, vec(0.99, 0.14, 0)),      # near-duplicate of 1, 2nd most rel.
        (3, vec(0.7, 0, 0.714)),      # diverse: orthogonal on axis 3
        (4, vec(-1, 0.5, 0)),         # filler
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_rerank_topk(
        df, query_ids=(0,), shortlist=4, k=3, lambda_micro=500_000
    ).collect()
    picks = [r["cand_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert picks[0] == 1          # rank 1 is pure relevance
    assert picks[1] == 3          # diverse beats the near-duplicate 2
    assert picks[2] == 2


def _ivec(spark, ids, dim=8):
    return spark.createDataFrame(
        [(i, [((i * 31 + j * 7) % 13 - 6) / 6.0 for j in range(dim)])
         for i in ids],
        "vec_id long, embedding array<double>",
    )


_IKW = dict(n_sub=2, sub_dim=4)


def test_ivf_pq_incremental_index_equals_batch(spark):
    """r13 persisted-index contract: because assignment is per-vector
    against FROZEN artifacts, coding the corpus in two increments must
    produce exactly the index a single batch build produces."""
    from embulk_executor_mapreduce_spark.operators.similarity import (
        ivf_pq_index_assign,
        ivf_pq_index_train,
    )

    corpus = _ivec(spark, range(40))
    cents, cb = ivf_pq_index_train(corpus, n_centroids=4, n_codes=4, **_IKW)
    batch = ivf_pq_index_assign(corpus, cents, cb, **_IKW)
    inc = ivf_pq_index_assign(
        _ivec(spark, range(0, 40, 2)), cents, cb, **_IKW
    ).unionAll(
        ivf_pq_index_assign(_ivec(spark, range(1, 41, 2)), cents, cb, **_IKW)
    )
    key = lambda r: (r["cand_id"], r["s"])
    assert sorted(map(tuple, inc.collect()), key=lambda t: (t[0], t[2])) == \
        sorted(map(tuple, batch.collect()), key=lambda t: (t[0], t[2]))


def test_ivf_pq_indexed_matches_inline_composite(spark):
    """With the index built over the WHOLE corpus, probe-only search over
    the persisted state must reproduce ivf_pq_topk bit-for-bit (both
    trainers use the id-prefix selection, so the contract holds on any id
    space — see the gapped-id test below)."""
    from embulk_executor_mapreduce_spark.operators.similarity import (
        ivf_pq_index_assign,
        ivf_pq_index_train,
        ivf_pq_topk,
        ivf_pq_topk_indexed,
    )

    corpus = _ivec(spark, range(40))
    kw = dict(n_centroids=4, nprobe=2, rerank=6, **_IKW)
    cents, cb = ivf_pq_index_train(corpus, n_codes=4, **{k: v for k, v in kw.items() if k in ("n_centroids", "n_sub", "sub_dim")})
    idx = ivf_pq_index_assign(corpus, cents, cb, **_IKW)
    got = ivf_pq_topk_indexed(
        idx, cents, cb, corpus, query_ids=(0, 1), k=3,
        nprobe=2, rerank=6, **_IKW,
    ).collect()
    want = ivf_pq_topk(
        corpus, query_ids=(0, 1), k=3, n_centroids=4, nprobe=2,
        n_codes=4, rerank=6, **_IKW,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_ivf_pq_indexed_matches_inline_on_gapped_ids(spark):
    """r14 advisor finding: ivf_pq_index_train used sort-limit ("n lowest
    ids") while the inline composite and its DuckDB oracle use the
    id-prefix filter (id < n); on an id space with gaps INSIDE the prefix
    (here ids 2 and 3 are absent) the two silently diverged — sort-limit
    trained on {0, 1, 5, 7} where the prefix selects {0, 1}. Both now use
    the prefix convention, so indexed search reproduces the inline
    composite bit-for-bit on gapped spaces too."""
    from embulk_executor_mapreduce_spark.operators.similarity import (
        ivf_pq_index_assign,
        ivf_pq_index_train,
        ivf_pq_topk,
        ivf_pq_topk_indexed,
    )

    gapped = [0, 1] + list(range(5, 45))  # 2-4 missing: gap inside prefix
    corpus = _ivec(spark, gapped)
    cents, cb = ivf_pq_index_train(corpus, n_centroids=4, n_codes=4, **_IKW)
    # the prefix selects only the PRESENT ids below n
    assert {r["cid"] for r in cents.collect()} == {0, 1}
    idx = ivf_pq_index_assign(corpus, cents, cb, **_IKW)
    got = ivf_pq_topk_indexed(
        idx, cents, cb, corpus, query_ids=(0, 1), k=3,
        nprobe=2, rerank=6, **_IKW,
    ).collect()
    want = ivf_pq_topk(
        corpus, query_ids=(0, 1), k=3, n_centroids=4, nprobe=2,
        n_codes=4, rerank=6, **_IKW,
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert got  # non-vacuous: the probe returns results


def test_ivf_pq_index_reingest_is_idempotent(spark, tmp_path):
    """Replaying an already-absorbed increment through the merge sink
    leaves the committed index byte-identical (upsert on (cand_id, s))."""
    from embulk_executor_mapreduce_spark.operators.similarity import (
        ivf_pq_index_assign,
        ivf_pq_index_train,
    )
    from embulk_executor_mapreduce_spark.sinks.writer import (
        read_merge_state,
        write_sink,
    )
    from embulk_executor_mapreduce_spark.spec import SinkSpec

    corpus = _ivec(spark, range(20))
    cents, cb = ivf_pq_index_train(corpus, n_centroids=4, n_codes=4, **_IKW)
    sink = SinkSpec(
        type="parquet",
        path=str(tmp_path / "index"),
        mode="merge",
        merge_key=("cand_id", "s"),
        merge_order=("_ingest_version",),
        sort_by=("cid",),
    )
    delta = ivf_pq_index_assign(corpus, cents, cb, **_IKW).withColumn(
        "_ingest_version", F.lit(1)
    )
    write_sink(delta, sink)
    before = sorted(
        map(tuple, read_merge_state(spark, sink.path)
            .select("cand_id", "cid", "s", "code").collect())
    )
    write_sink(delta, sink)  # retry / duplicate delivery
    after = sorted(
        map(tuple, read_merge_state(spark, sink.path)
            .select("cand_id", "cid", "s", "code").collect())
    )
    assert before == after and len(before) == 20 * 2


def test_ann_index_compact_reconciles_deletes(spark, tmp_path):
    """r14 (VERDICT r13 item 4): after upstream deletes, ann_index_compact
    anti-joins the index against the current corpus and rewrites only the
    stale ids' buckets — the deleted vectors leave the index (and hence
    every future shortlist), and the compacted state is bit-identical to
    a fresh assign of the current corpus against the same frozen
    artifacts."""
    from embulk_executor_mapreduce_spark.operators.similarity import (
        ann_index_compact,
        ivf_pq_index_assign,
        ivf_pq_index_train,
        ivf_pq_topk_indexed,
    )
    from embulk_executor_mapreduce_spark.sinks.writer import (
        read_merge_state,
        write_sink,
    )
    from embulk_executor_mapreduce_spark.spec import SinkSpec

    root = str(tmp_path / "ann")
    corpus = _ivec(spark, range(40))
    cents, cb = ivf_pq_index_train(corpus, n_centroids=4, n_codes=4, **_IKW)
    write_sink(
        ivf_pq_index_assign(corpus, cents, cb, **_IKW).withColumn(
            "_ingest_version", F.lit(1)
        ),
        SinkSpec(
            type="parquet",
            path=f"{root}/index",
            mode="merge",
            merge_key=("cand_id", "s"),
            merge_order=("_ingest_version",),
            sort_by=("cid",),
        ),
    )
    deleted = {30, 33, 36, 39}
    current = corpus.filter(~F.col("vec_id").isin(*deleted))
    removed = ann_index_compact(spark, root, current)
    assert removed == len(deleted) * _IKW["n_sub"]
    compacted = read_merge_state(spark, f"{root}/index").select(
        "cand_id", "cid", "s", "code"
    )
    assert {r.cand_id for r in compacted.select("cand_id").distinct().collect()} \
        == set(range(40)) - deleted
    fresh = ivf_pq_index_assign(current, cents, cb, **_IKW)
    assert sorted(map(tuple, compacted.collect())) == sorted(
        map(tuple, fresh.select("cand_id", "cid", "s", "code").collect())
    )
    # search over the compacted state ≡ search over the fresh index
    kw = dict(query_ids=(0, 1), k=3, nprobe=2, rerank=6, **_IKW)
    got = ivf_pq_topk_indexed(compacted, cents, cb, current, **kw)
    want = ivf_pq_topk_indexed(fresh, cents, cb, current, **kw)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
    # idempotent: nothing stale remains, no new version committed
    import os

    trees = sorted(os.listdir(os.path.join(root, "index", "_trees")))
    assert ann_index_compact(spark, root, current) == 0
    assert sorted(os.listdir(os.path.join(root, "index", "_trees"))) == trees


def test_bm25_precomputed_doc_lens_equivalent(spark):
    """The standing-deployment path (precomputed (doc_id, dl) column)
    reproduces the self-computed lengths bit-for-bit."""
    from embulk_executor_mapreduce_spark.operators.search import bm25_topk
    from embulk_executor_mapreduce_spark.operators.text import tokens

    docs = spark.createDataFrame(
        [
            (i, " ".join(["alpha", "beta", "gamma", "delta"][: 1 + i % 4] * (1 + i % 3)))
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    terms = ("alpha", "gamma")
    dl = docs.select(
        "doc_id", F.size(tokens("text")).cast("long").alias("dl")
    )
    got = bm25_topk(docs, terms, k=5, doc_lens=dl).collect()
    want = bm25_topk(docs, terms, k=5).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_bm25_ranking_invariants(spark):
    """BM25 sanity pins: a document containing more distinct query terms
    with equal length outranks one with fewer; a document with NO query
    term never appears; scores are positive."""
    from embulk_executor_mapreduce_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "alpha beta filler filler"),
            (2, "alpha alpha filler filler"),
            (3, "filler filler filler filler"),
            (4, "alpha beta beta filler"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, ("alpha", "beta"), k=10).collect()
    got = {r["doc_id"]: r["bm25"] for r in out}
    assert 3 not in got
    assert all(v > 0 for v in got.values())
    # doc 4 (both terms, beta twice) > doc 1 (both once) > doc 2 (one term)
    assert got[4] > got[1] > got[2]


def test_ann_index_compact_survives_aged_out_snapshot(spark, tmp_path):
    """r15 advisor finding (low): the stale-id set must be re-planned per
    rewrite attempt, not frozen against the snapshot current when
    ann_index_compact was called — a concurrent writer committing past
    merge_keep_versions ages that snapshot's files out of retention, and
    a pre-resolved frame then fails every retry on the same dead plan.
    The compact op now passes compact_merge_state a CALLABLE that
    re-resolves the pointer each evaluation."""
    import pytest

    from embulk_executor_mapreduce_spark.operators.similarity import (
        ann_index_compact,
        ivf_pq_index_assign,
        ivf_pq_index_train,
    )
    from embulk_executor_mapreduce_spark.sinks.writer import (
        compact_merge_state,
        read_merge_state,
        write_sink,
    )
    from embulk_executor_mapreduce_spark.spec import SinkSpec

    root = str(tmp_path / "ann")
    corpus = _ivec(spark, range(30))
    cents, cb = ivf_pq_index_train(corpus, n_centroids=4, n_codes=4, **_IKW)
    sink = SinkSpec(
        type="parquet",
        path=f"{root}/index",
        mode="merge",
        merge_key=("cand_id", "s"),
        merge_order=("_ingest_version",),
        sort_by=("cid",),
    )

    def commit(version):
        write_sink(
            ivf_pq_index_assign(corpus, cents, cb, **_IKW).withColumn(
                "_ingest_version", F.lit(version)
            ),
            sink,
        )

    commit(1)
    # the OLD failure mode, reproduced: a victim frame PLANNED against v0
    # pins v0's file list; two full-state commits age v0 out of the
    # keep_versions=2 retention, and the frozen plan fails unretryably
    # (the pointer does not advance during the compact attempt itself)
    deleted = {27, 28, 29}
    current = corpus.filter(~F.col("vec_id").isin(*deleted))
    frozen = (
        read_merge_state(spark, f"{root}/index")
        .select("cand_id")
        .distinct()
        .join(
            current.select(F.col("vec_id").alias("cand_id")).distinct(),
            "cand_id",
            "left_anti",
        )
    )
    commit(2)
    commit(3)
    with pytest.raises(Exception, match="(?i)not exist|FileNotFound|PATH_NOT_FOUND"):
        compact_merge_state(spark, sink, frozen, on=["cand_id"])
    # the fixed path: ann_index_compact re-reads the state per attempt,
    # so the same aged-out history is invisible to it
    removed = ann_index_compact(spark, root, current)
    assert removed == len(deleted) * _IKW["n_sub"]
    live = read_merge_state(spark, f"{root}/index")
    assert {r.cand_id for r in live.select("cand_id").distinct().collect()} \
        == set(range(30)) - deleted


def test_kmeans_train_non_integral_group_falls_back(spark):
    """The driver-local trainer keys groups by Python equality, which
    matches Spark's grouping exactly only for integral keys, so a STRING
    group column dispatches to the joined loop — and must still train."""
    from embulk_executor_mapreduce_spark.operators import similarity as S

    rows = [("en", i, [float(i), 0.0]) for i in range(10)] + [
        ("fr", i, [0.0, float(i)]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "g string, id long, v array<double>")
    out = S.kmeans_train(
        df, "id", "v", k=2, iters=2, group_cols=("g",), max_unsampled_rows=None
    )
    got = out.collect()
    assert len(got) == 4  # 2 groups x 2 centroids
    assert {(r["g"], r["cid"]) for r in got} == {
        ("en", 0), ("en", 1), ("fr", 0), ("fr", 1),
    }


def test_kmeans_size_gate_dispatch(spark, tmp_path, monkeypatch):
    """kmeans_train decides by a capped collect, with no size hint: a
    parquet scan and an in-memory frame (which no footer can size) both
    train on the driver, and the in-memory frame over a lowered collect
    budget takes the joined loop — with bit-equal rows."""
    from embulk_executor_mapreduce_spark.operators import similarity as S

    local_runs: list[int] = []
    orig = S._kmeans_local_lloyd

    def spy(*a, **kw):
        local_runs.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(S, "_kmeans_local_lloyd", spy)
    rows = [(i, [float(i), float(i % 3)]) for i in range(50)]
    p = str(tmp_path / "vecs")
    spark.createDataFrame(rows, "id long, v array<double>").write.parquet(p)
    scan = spark.read.parquet(p)
    mem = spark.createDataFrame(rows, "id long, v array<double>")

    def train(df):
        out = S.kmeans_train(df, "id", "v", k=4, iters=2)
        return sorted(map(tuple, out.collect()))

    on_scan, on_mem = train(scan), train(mem)
    assert len(local_runs) == 2  # both inputs trained on the driver
    monkeypatch.setattr(plan_inspect, "COLLECT_MAX_ROWS", 49)
    joined = train(mem)
    assert len(local_runs) == 2  # 50 rows over a 49-row budget -> joined loop
    assert joined == on_mem == on_scan


def test_kmeans_driver_path_matches_joined(spark, tmp_path, monkeypatch):
    """The r17 driver-local trainer must be BIT-IDENTICAL to the
    broadcast-join loop it replaces — flat, sparse flat init (ids not
    starting at 0, so fewer than k centroids), grouped (PQ subspaces),
    and sampled (row_number init via train_filter) variants, empty
    clusters included. The joined loop is forced by zeroing the
    driver-path value budget."""
    from embulk_executor_mapreduce_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    base = emb.select("vec_id", S.as_double("embedding").alias("v"))
    p = str(tmp_path / "emb")
    base.write.parquet(p)
    scan = spark.read.parquet(p)
    p_shift = str(tmp_path / "emb_shift")
    base.select((F.col("vec_id") + 8).alias("vec_id"), "v").write.parquet(p_shift)
    scan_shift = spark.read.parquet(p_shift)
    sub_ix = F.explode(F.array(*[F.lit(s) for s in range(4)])).alias("s")
    p_subs = str(tmp_path / "subs")
    base.select("vec_id", "v", sub_ix).select(
        "vec_id", "s", F.slice(F.col("v"), F.col("s") * 16 + 1, 16).alias("sv")
    ).write.parquet(p_subs)
    subs = spark.read.parquet(p_subs)

    cases = [
        ("flat", lambda: S.kmeans_train(scan, "vec_id", "v", k=16, iters=3)),
        # ids 8.. only: flat init finds 8 of 16 seed ids; k=500-ish above
        # the natural cluster count also leaves empty clusters to carry
        ("sparse_init", lambda: S.kmeans_train(scan_shift, "vec_id", "v", k=16, iters=2)),
        (
            "grouped",
            lambda: S.kmeans_train(
                subs, "vec_id", "sv", k=8, iters=2, group_cols=("s",)
            ),
        ),
        (
            "sampled_init",
            lambda: S.kmeans_train(
                scan,
                "vec_id",
                "v",
                k=8,
                iters=2,
                train_filter=F.col("vec_id") % 3 == 0,
            ),
        ),
    ]
    for name, run in cases:
        driver_rows = sorted(map(tuple, run().collect()))
        monkeypatch.setattr(S, "_KMEANS_DRIVER_MAX_VALUES", 0)
        joined_rows = sorted(map(tuple, run().collect()))
        monkeypatch.undo()
        assert driver_rows == joined_rows, name


def test_two_level_driver_dispatch_equivalence(spark, monkeypatch):
    """semantic_dedup_two_level's coarse train AND its grouped sub-train
    (whose checkpointed input no parquet footer can size) both train on
    the driver through the capped collect probe. The output must be
    bit-identical with the fast path disabled."""
    from embulk_executor_mapreduce_spark.operators import similarity as S
    from embulk_executor_mapreduce_spark.operators.dedup import (
        semantic_dedup_two_level,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes: list[bool] = []
    orig = S._kmeans_train_local

    def spy(*a, **kw):
        r = orig(*a, **kw)
        probes.append(r is not None)
        return r

    monkeypatch.setattr(S, "_kmeans_train_local", spy)
    fast = sorted(
        map(
            tuple,
            semantic_dedup_two_level(
                emb, coarse_k=4, sub_k=4, iters=2, threshold_micro=250_000
            ).collect(),
        )
    )
    assert probes == [True, True], probes  # coarse AND grouped sub-train
    monkeypatch.setattr(S, "_KMEANS_DRIVER_MAX_VALUES", 0)
    slow = sorted(
        map(
            tuple,
            semantic_dedup_two_level(
                emb, coarse_k=4, sub_k=4, iters=2, threshold_micro=250_000
            ).collect(),
        )
    )
    assert fast == slow


def test_mmr_driver_greedy_matches_distributed(spark, monkeypatch):
    """The r17 driver-local MMR greedy tail must be BIT-IDENTICAL (rows
    and schema) to the distributed unrolled loop it replaces — including
    score ties (duplicate vectors force them), early-stop when the
    shortlist runs out before k, and the rank-1 pure-relevance row. The
    local path scans the corpus once: its pair collect reads the cached
    shortlist, and the cache is released afterwards."""
    from embulk_executor_mapreduce_spark.operators import similarity as S

    probed: list = []
    orig_collect = plan_inspect.collect_at_most

    def spy(df, cap=None):
        probed.append((df, plan_inspect.formatted_plan(df)))
        return orig_collect(df, cap)

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # duplicate a few vectors so rel/sim ties exercise the cand_id
    # tie-break on both paths
    dup = emb.limit(3).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        *[c for c in emb.columns if c != "vec_id"],
    )
    data = emb.unionByName(dup)
    cases = [
        dict(query_ids=(0, 1, 2, 3), shortlist=8, k=3),
        dict(query_ids=(0, 5), shortlist=2, k=5),  # k > shortlist: early stop
        dict(query_ids=(7,), shortlist=6, k=6, lambda_micro=300_000),
    ]
    for kw in cases:
        probed.clear()
        monkeypatch.setattr(plan_inspect, "collect_at_most", spy)
        fast = S.mmr_rerank_topk(data, **kw)
        assert len(probed) == 2, kw  # shortlist, then pairs
        pairs, pairs_plan = probed[1]
        assert "InMemoryTableScan" in pairs_plan, kw
        # a fresh plan over the same frame finds no cache: it was released
        released = plan_inspect.formatted_plan(pairs.select("*"))
        assert "InMemoryTableScan" not in released, kw
        monkeypatch.setattr(plan_inspect, "COLLECT_MAX_ROWS", 0)
        slow = S.mmr_rerank_topk(data, **kw)
        monkeypatch.undo()
        assert fast.schema == slow.schema, kw
        assert sorted(map(tuple, fast.collect())) == sorted(
            map(tuple, slow.collect())
        ), kw


def test_kmeans_driver_path_guard_fallbacks(spark, tmp_path, monkeypatch):
    """Guard failures must dispatch to the joined loop, not the local
    trainer: duplicate ids (ill-defined by contract — the loop's per-id
    argmin collapse is preserved), non-finite vector values, ragged
    dims, and NULL vectors — on parquet scans and on in-memory frames
    alike (the probe needs no size hint)."""
    from embulk_executor_mapreduce_spark.operators import similarity as S

    local_runs: list[int] = []
    orig = S._kmeans_local_lloyd

    def spy(*a, **kw):
        local_runs.append(1)
        return orig(*a, **kw)

    monkeypatch.setattr(S, "_kmeans_local_lloyd", spy)
    rows = [(i, [float(i), float(i % 5)]) for i in range(20)]
    bad = {
        "dup_ids": rows + rows[:3],
        "non_finite": rows + [(97, [float("inf"), 0.0])],
        "ragged": rows + [(98, [1.0])],
        "null_vec": rows + [(99, None)],
        # |scaled| * n_rows past int64: numpy's int64 sum would wrap where
        # the ANSI distributed loop could throw — must dispatch to the loop
        # (these rows spread over 4 clusters, so the loop itself is fine)
        "sum_overflow_risk": [
            (i, [5.5e11 + i, float(i % 5)]) for i in range(20)
        ],
    }
    for name, data in bad.items():
        mem = spark.createDataFrame(data, "id long, v array<double>")
        p = str(tmp_path / name)
        mem.write.parquet(p)
        for df in (spark.read.parquet(p), mem):
            out = S.kmeans_train(df, "id", "v", k=4, iters=2).collect()
            assert not local_runs, name
            assert len(out) == 4 or name == "dup_ids", name
