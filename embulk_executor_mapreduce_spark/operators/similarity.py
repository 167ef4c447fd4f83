"""Similarity search over embedding columns (array<float>).

Scale design: the query side is small (a handful of probe vectors) and gets
broadcast; the candidate side is the 100 TB scan. Brute-force cosine is the
baseline (one pass, no shuffle until top-k); the LSH-bucketed variant prunes
candidates by sign-hash bucket equality before scoring, turning the cross
product into an equi-join Catalyst shuffles on bucket keys.

Float discipline: dot products fold left-to-right over doubles
(``F.aggregate`` — sequential, deterministic) which is bit-identical to
DuckDB's ``list_dot_product`` on ``DOUBLE[]`` (verified empirically), so the
oracle can compare rounded cosine values safely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..exactmath import d_round


def as_double(col) -> Column:
    return F.transform(col if isinstance(col, Column) else F.col(col), lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic summation order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def brute_force_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: tuple[int, ...] = (0, 1, 2, 3),
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query vectors against a single scan
    of the candidate set, window top-k per query. No O(n²) — O(n_q × n)."""
    # norms precomputed per ROW: 1 dot per (query, cand) pair instead of 3;
    # sqrt(dot(v,v)) is bit-identical pre- or post-join, so oracle parity holds
    base = df.select(F.col(id_col), as_double(vec_col).alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    q = base.filter(F.col(id_col).isin(*query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    cand = base.select(
        F.col(id_col).alias("cand_id"), F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            d_round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cos_sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "cos_sim")
    )


def _hyperplane(dim: int, table: int, plane: int) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane derived from
    (table, plane, i) via a fixed integer mix — reproducible across runs,
    no RNG state to ship to executors."""
    out = []
    for i in range(dim):
        x = (table * 2_654_435_761 + plane * 1_000_003 + i * 7_919 + 12_345) % 97
        out.append(1.0 if x % 2 == 0 else -1.0)
    return out


def lsh_bucket_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: tuple[int, ...] = (0, 1, 2, 3),
    k: int = 5,
    n_tables: int = 6,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane (SimHash) LSH.

    Each of ``n_tables`` hash tables buckets vectors by ``n_planes`` sign
    bits; a candidate is scored iff it shares a (table, bucket) with the
    query — the classic recall/cost dial (more tables → higher recall, more
    candidates). Scale shape: candidates come from an equi-join on the
    (table, bucket) key — one shuffle of the big side on a
    ``n_tables × 2^n_planes``-cardinality key, never a cross join; distinct
    (query, cand) pairs are scored once.
    """
    planes = {
        (t, p): _hyperplane(dim, t, p)
        for t in range(n_tables)
        for p in range(n_planes)
    }
    base = df.select(F.col(id_col), as_double(vec_col).alias("v"))

    def table_buckets(vcol: Column) -> Column:
        """array of per-table bucket structs for one vector."""
        entries = []
        for t in range(n_tables):
            bucket = F.lit(0)
            for p in range(n_planes):
                plane_arr = F.array(*[F.lit(x) for x in planes[(t, p)]])
                bucket = bucket + F.when(dot(vcol, plane_arr) >= 0, 1 << p).otherwise(0)
            entries.append(F.struct(F.lit(t).alias("t"), bucket.alias("b")))
        return F.array(*entries)

    hashed = base.select(
        id_col, "v", F.explode(table_buckets(F.col("v"))).alias("tb")
    ).select(id_col, "v", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))

    q = hashed.filter(F.col(id_col).isin(*query_ids)).select(
        F.col(id_col).alias("query_id"), F.col("v").alias("qv"), "t", "b"
    )
    cand_pairs = (
        hashed.select(F.col(id_col).alias("cand_id"), F.col("v").alias("cv"), "t", "b")
        .join(F.broadcast(q), ["t", "b"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .select("query_id", "cand_id", "qv", "cv")
        .dropDuplicates(["query_id", "cand_id"])
    )
    scored = cand_pairs.select(
        "query_id",
        "cand_id",
        d_round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "cos_sim")
    )


def lsh_topk_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: tuple[int, ...] = (0, 1, 2, 3),
    k: int = 5,
    n_tables: int = 6,
    n_planes: int = 4,
    dim: int = 64,
) -> str:
    """DuckDB mirror of :func:`lsh_bucket_topk`, generated in lockstep: the
    hyperplanes are the SAME deterministic ±1 constants (:func:`_hyperplane`),
    inlined as array literals, so bucket membership — and therefore the exact
    candidate set — is reproducible in ANSI SQL. Sign decisions compare a
    sequential-fold dot (Spark) against ``list_dot_product`` (DuckDB), which
    are bit-identical on doubles (module docstring)."""
    bucket_cols = []
    for t in range(n_tables):
        terms = []
        for p in range(n_planes):
            arr = ", ".join(
                ("1.0" if x > 0 else "-1.0") for x in _hyperplane(dim, t, p)
            )
            terms.append(
                f"(CASE WHEN list_dot_product(v, [{arr}]) >= 0"
                f" THEN {1 << p} ELSE 0 END)"
            )
        bucket_cols.append(" + ".join(terms) + f" AS b{t}")
    structs = ", ".join(
        f"struct_pack(t := {t}, b := b{t})" for t in range(n_tables)
    )
    qids = ", ".join(str(q) for q in query_ids)
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS v FROM {table}
    ), bucketed AS (
      SELECT {id_col}, v, {', '.join(bucket_cols)} FROM base
    ), hashed AS (
      SELECT {id_col}, unnest([{structs}]) AS tb FROM bucketed
    ), h2 AS (
      SELECT {id_col}, tb.t AS t, tb.b AS b FROM hashed
    ), q AS (
      SELECT {id_col} AS query_id, t, b FROM h2 WHERE {id_col} IN ({qids})
    ), pairs AS (
      SELECT DISTINCT q.query_id, c.{id_col} AS cand_id
      FROM h2 c JOIN q ON c.t = q.t AND c.b = q.b
      WHERE c.{id_col} <> q.query_id
    ), scored AS (
      SELECT p.query_id, p.cand_id,
             floor((list_dot_product(qb.v, cb.v)
                   / (sqrt(list_dot_product(qb.v, qb.v))
                      * sqrt(list_dot_product(cb.v, cb.v)))) * 1000000 + 0.5)
               / 1000000.0 AS cos_sim
      FROM pairs p
      JOIN base qb ON qb.{id_col} = p.query_id
      JOIN base cb ON cb.{id_col} = p.cand_id
    )
    SELECT query_id, cand_id, cos_sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


def ivf_centroids(
    base: DataFrame, id_col: str, n_centroids: int
) -> DataFrame:
    """Fixed-size centroid table: the ``n_centroids`` lowest-id vectors.

    The table is EXACTLY ``n_centroids`` rows no matter how big the corpus is
    (the round-1 ``id % 50`` sample grew with the corpus — a 2 TB broadcast at
    100 TB). A deterministic id-prefix sample stands in for k-means output —
    :func:`kmeans_train` produces the trained table; every downstream plan
    shape (broadcast assignment, list equi-join) is unchanged.
    """
    return base.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )


#: centroid means are computed from scaled-integer element sums at this scale
#: (micro-units) so the trained centroids are bit-identical across engines —
#: a double mean would be summation-order dependent and no SQL oracle could
#: reproduce it (exactmath discipline).
KMEANS_SCALE = 1_000_000

#: unsampled-training guardrail (VERDICT r5 item 6): above this many rows a
#: ``train_filter=None`` training run warns loudly — 2·iters full corpus
#: scans is the one accidental scale-killer left in the trained-ANN path.
#: Codebook quality needs ~1k vectors per centroid, not the corpus.
KMEANS_MAX_UNSAMPLED_ROWS = 2_000_000

#: driver-local training caps: a training input of at most
#: ``plans.inspect.COLLECT_MAX_ROWS`` rows AND this many total doubles
#: (rows × dim, ≤ 32 MB collected) trains entirely on the driver — the
#: shape every production ANN library uses (FAISS and friends train IVF/PQ
#: codebooks on an in-memory sample; the distributed loop here exists for
#: samples that DON'T fit). ``k`` is capped too: each local iteration holds
#: a rows × k distance matrix. Over any cap, or on any guard failure
#: (non-double vectors, NULL/non-finite values, ragged dims, duplicate
#: ids), the broadcast-join loop runs unchanged.
_KMEANS_DRIVER_MAX_VALUES = 4_194_304
_KMEANS_DRIVER_MAX_CENTROIDS = 1024


_KMEANS_INTEGRAL_DTYPES = ("tinyint", "smallint", "int", "bigint")


def _kmeans_local_lloyd(
    parsed: list, k: int, iters: int, sampled: bool
) -> list:
    """Lloyd iterations on the driver, BIT-FAITHFUL to the distributed
    loop's Spark expressions (pinned in
    ``tests/test_dedup_similarity.py::test_kmeans_driver_path_matches_joined``):

    * every dot product is the same SEQUENTIAL left-to-right fold
      (``acc = acc + x·y`` per element) — vectorized across (row,
      centroid) PAIRS with one elementwise numpy pass per dim position,
      which preserves each scalar accumulator's exact operation order
      (numpy elementwise ufuncs are plain IEEE-754 binary64 ops, no FMA
      contraction across calls);
    * the distance keeps the loop's association
      ``(dot(v,v) - 2.0·dot(v,cv)) + dot(cv,cv)``;
    * the argmin is the loop's ``max(struct(-d, -cid))``: candidates are
      kept cid-ASCENDING so numpy's first-max tie-break IS the smallest
      cid. Mixed-sign zero ties cannot arise (d == -0.0 is impossible:
      IEEE x + (-x) rounds to +0.0), and non-finite values never reach
      here (guarded in :func:`_kmeans_train_local`), so float equality
      coincides with Spark's Double.compare ordering;
    * the update is the loop's exact scaled-integer arithmetic:
      ``floor(val·10⁶ + 0.5)`` per element (float64 multiply/add/floor),
      exact int64 sums (order-free), then the same
      ``CAST(sum AS DOUBLE) / CAST(n·10⁶ AS DOUBLE)`` division — both
      conversions round-to-nearest exactly like Spark's long→double cast;
    * empty clusters keep their previous centroid.

    ``parsed`` is ``[(group_value_or_None, id, vector), ...]``; returns
    ``[(group_value_or_None, cid, centroid_list), ...]``.
    """
    import numpy as np

    groups: dict = {}
    for gv, vid, v in parsed:
        groups.setdefault(gv, []).append((vid, v))
    out: list = []
    for gv in sorted(groups):
        members = groups[gv]
        if sampled:
            ordered = sorted(members, key=lambda t: t[0])
            cents = [(i, list(m[1])) for i, m in enumerate(ordered[:k])]
        else:
            cents = sorted(
                ((int(vid), list(v)) for vid, v in members if vid < k),
                key=lambda t: t[0],
            )
        if not cents:
            # no init rows for this group: the loop's inner joins emit
            # nothing for it, so the trained table has no rows either
            continue
        V = np.array([v for _, v in members], dtype=np.float64)
        n_rows, dim = V.shape
        scaled = np.floor(V * 1_000_000.0 + 0.5).astype(np.int64)
        # dvv depends only on V — fold it once, not per iteration
        dvv = np.zeros(n_rows, dtype=np.float64)
        for i in range(dim):
            dvv = dvv + V[:, i] * V[:, i]
        for _ in range(iters):
            C = np.array([cv for _, cv in cents], dtype=np.float64)
            dcc = np.zeros(len(cents), dtype=np.float64)
            dvc = np.zeros((n_rows, len(cents)), dtype=np.float64)
            for i in range(dim):
                dcc = dcc + C[:, i] * C[:, i]
                dvc = dvc + V[:, i, None] * C[None, :, i]
            d = (dvv[:, None] - 2.0 * dvc) + dcc[None, :]
            best = np.argmax(-d, axis=1)
            new_cents = []
            for j, (cid, cv) in enumerate(cents):
                mask = best == j
                n_m = int(mask.sum())
                if n_m == 0:
                    new_cents.append((cid, cv))
                else:
                    sums = scaled[mask].sum(axis=0)
                    mv = sums.astype(np.float64) / float(n_m * KMEANS_SCALE)
                    new_cents.append((cid, [float(x) for x in mv]))
            cents = new_cents
        for cid, cv in cents:
            out.append((gv, cid, cv))
    return out


def _kmeans_train_local(
    base: DataFrame,
    g: list,
    k: int,
    iters: int,
    schema,
    sampled: bool,
) -> DataFrame | None:
    """Collect a small training input and train on the driver (see the
    dispatch in :func:`kmeans_train`). Returns ``None`` — caller runs the
    broadcast-join loop unchanged — on any guard failure: more than one
    group column or a non-integral one, ``k`` over
    ``_KMEANS_DRIVER_MAX_CENTROIDS``, non-double vector type, non-integral
    id type, more rows than the collect budget (a 1-row probe sizes the
    budget to ``_KMEANS_DRIVER_MAX_VALUES // dim`` BEFORE the capped
    collect), NULL/ragged/non-finite vectors, NULL group values, or
    duplicate ids per group (ill-defined by contract; the loop's per-id
    argmin collapse is preserved by not racing it)."""
    import math

    from ..plans.inspect import collect_at_most

    dtypes = dict(base.dtypes)
    if len(g) > 1 or (g and dtypes.get(g[0]) not in _KMEANS_INTEGRAL_DTYPES):
        return None
    if k > _KMEANS_DRIVER_MAX_CENTROIDS:
        return None
    if dtypes.get("__v") != "array<double>":
        return None
    if dtypes.get("__vid") not in _KMEANS_INTEGRAL_DTYPES:
        return None
    spark = base.sparkSession
    head = base.limit(1).collect()
    if not head:
        return spark.createDataFrame([], schema)
    v0 = head[0]["__v"]
    if not v0:
        return None
    dim = len(v0)
    rows = collect_at_most(base, _KMEANS_DRIVER_MAX_VALUES // dim)
    if rows is None:
        return None
    parsed, seen = [], set()
    max_abs = 0.0
    for r in rows:
        gv = r[g[0]] if g else None
        vid, v = r["__vid"], r["__v"]
        if (g and gv is None) or vid is None or v is None or len(v) != dim:
            return None
        if (gv, vid) in seen:
            return None
        seen.add((gv, vid))
        for x in v:
            if x is None or not math.isfinite(x):
                return None
            if abs(x) > max_abs:
                max_abs = abs(x)
        parsed.append((gv, vid, v))
    # Overflow guard, TWO disagreements at once: past int64, numpy's
    # float→int64 conversion (sentinel INT64_MIN) differs from Java's
    # saturation, and the distributed loop's long SUM throws
    # ARITHMETIC_OVERFLOW under this session's ANSI mode while numpy's
    # int64 sum wraps silently. Bounding |scaled element| · n_rows under
    # int64 makes BOTH the per-element conversion and every possible
    # cluster sum exact, so the local path only ever runs where the loop
    # could not have thrown.
    if (math.floor(max_abs * 1_000_000.0 + 0.5) + 1) * max(len(parsed), 1) >= 2**63:
        return None
    out = _kmeans_local_lloyd(parsed, k, iters, sampled)
    if g:
        data = out
    else:
        data = [(cid, cv) for _gv, cid, cv in out]
    return spark.createDataFrame(data, schema)


def kmeans_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int = 3,
    group_cols: tuple[str, ...] = (),
    train_filter: Column | None = None,
    max_unsampled_rows: int | None = KMEANS_MAX_UNSAMPLED_ROWS,
) -> DataFrame:
    """Lloyd's k-means as iterative DataFrame aggregates — the trainer that
    replaces the deterministic id-prefix centroid stand-ins.

    Init: the ``k`` lowest-id vectors (deterministic, no RNG state). Each of
    the FIXED ``iters`` iterations:

    * **assign** — join the corpus against the broadcast centroid table
      (``k × dim`` doubles, corpus-independent) and take the L2 argmin as a
      ``max(struct(-d, -cid))`` partial aggregate: the exchange carries one
      row per vector, never ``k·n`` (plan-shape discipline shared with
      :func:`ivf_topk`).
    * **update** — posexplode members to (cid, pos, element), sum per
      (cid, pos) in exact scaled integers (map-side combinable; the exchange
      carries ``k·dim`` rows), then reassemble means with an order-fixed
      ``array_sort(collect_list(struct(pos, val)))``. Empty clusters keep
      their previous centroid (left-join + coalesce).

    Determinism: per-element ``floor(x·10⁶+0.5)`` then exact BIGINT sums make
    every trained centroid a deterministic double, so the ENTIRE training run
    unrolls into portable SQL (:func:`kmeans_cte_sql`) and trained-ANN
    queries get full value-hash oracles. The centroid frame is
    ``localCheckpoint()``-ed each iteration — k·dim values, so the
    materialization is trivially cheap and the lineage stays flat.

    With ``group_cols`` the same machinery trains INDEPENDENT codebooks per
    group in one pass (PQ: one codebook per subspace, keyed by ``s``).
    Output: (*group_cols, cid, cv).

    ``train_filter`` restricts TRAINING (init + every assign/update pass) to
    a subset — the 100 TB shape: codebook quality needs ~1k vectors per
    centroid, not the corpus, so train on a deterministic hash-sample
    (e.g. ``pmod(xxhash64(id), 100) == 0``) and the 6 per-iteration corpus
    scans become sample scans; the full corpus is only ever touched by the
    caller's one-pass ASSIGNMENT against the trained table. The predicate is
    an ordinary pushed-down filter, so the same clause mirrors into the
    oracle as a WHERE. At the test scales (500–2000 vectors) the catalog
    queries train unfiltered — a sample of a toy corpus starves 64 centroids.

    The discipline is MECHANICAL (VERDICT r5 item 6): an unfiltered training
    input larger than ``max_unsampled_rows`` triggers a loud warning naming
    the hash-sample recipe (sizing is free — parquet footers on file scans,
    never an extra count job; unverifiable sizes skip the check). Passing a
    ``train_filter`` — or ``max_unsampled_rows=None`` for a deliberate full
    train — silences it.

    Dispatch: training runs one of two ways. A training input of at most
    ``plans.inspect.COLLECT_MAX_ROWS`` rows (fewer when wide: at most
    ``_KMEANS_DRIVER_MAX_VALUES`` doubles) is collected through a
    LIMIT-capped probe and trained on the driver, bit-equal to the loop
    above; the same probe decides for connected components, BPE and
    PageRank. A probe that comes back over the cap, or any guard failure
    (see :func:`_kmeans_train_local`), runs the broadcast-join loop — the
    path for very large training samples.

    Contract: ``id_col`` must be unique per group (it is a key everywhere
    in this engine — vec_id / doc id). Duplicate ids have ALWAYS been
    ill-defined here: the lowest-id init emits duplicate ``cid`` rows for
    them, so the trained table itself is malformed before any loop-shape
    question arises. (The joined loop's per-id argmin aggregate happens to
    also collapse duplicate input rows; the driver path refuses them and
    defers to the loop — neither behavior is part of the contract.)
    """
    if train_filter is None and max_unsampled_rows is not None:
        from ..plans.inspect import parquet_scan_row_count

        n_meta = parquet_scan_row_count(df)
        if n_meta is not None and n_meta > max_unsampled_rows:
            import warnings

            warnings.warn(
                f"kmeans_train: UNSAMPLED training over {n_meta} rows costs "
                f"~{2 * iters} full corpus scans; train on a deterministic "
                f"hash-sample instead (train_filter=pmod(xxhash64({id_col}), "
                "<rate>) == 0 — ~1k vectors per centroid suffices) and keep "
                "the corpus for the one-pass assignment. Pass "
                "max_unsampled_rows=None to deliberately train on everything.",
                ResourceWarning,
                stacklevel=2,
            )
    g = list(group_cols)
    base = df.select(*g, F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v"))
    if train_filter is None:
        cents = base.filter(F.col("__vid") < k).select(
            *g, F.col("__vid").alias("cid"), F.col("__v").alias("cv")
        )
    else:
        base = df.filter(train_filter).select(
            *g, F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v")
        )
        # ids 0..k-1 need not survive the sample; seed from the k lowest
        # SAMPLED ids instead. The window sorts only the sample (per group),
        # never the corpus.
        w = W.partitionBy(*g).orderBy("__vid") if g else W.partitionBy().orderBy("__vid")
        cents = (
            base.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= k)
            # long, matching the flat init's id-typed cid (and DuckDB's
            # BIGINT row_number) so downstream schemas agree across inits
            .select(
                *g,
                (F.col("__r") - 1).cast("long").alias("cid"),
                F.col("__v").alias("cv"),
            )
        )

    # --- DRIVER-LOCAL training fast path ---
    # A training input that fits the shared collect budget is collected
    # ONCE and every Lloyd iteration runs locally (the joined loop's
    # per-iteration broadcast + two exchanges + checkpoint job all
    # disappear; 2 small jobs total instead of ~3 per iteration). This is
    # how production ANN libraries train codebooks — FAISS et al. train
    # IVF/PQ on an in-memory sample — and the trained table was ALREADY
    # driver-resident in every consumer (it broadcasts). The probe is a
    # LIMIT-capped collect, so a corpus-sized input costs one bounded
    # evaluation before the joined loop runs; no size hint is needed.
    # Bit-equality with the joined loop is pinned test-side; every guard
    # failure falls through to that loop unchanged.
    local = _kmeans_train_local(
        base, g, k, iters, cents.schema, train_filter is not None
    )
    if local is not None:
        return local

    def dsq(a: Column, b: Column) -> Column:
        return dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b)

    for _ in range(iters):
        joined = (
            base.join(F.broadcast(cents), on=g) if g else base.crossJoin(F.broadcast(cents))
        )
        assigned = (
            joined.select(
                *g,
                "__vid",
                "__v",
                "cid",
                dsq(F.col("__v"), F.col("cv")).alias("d"),
            )
            .groupBy(*g, "__vid")
            .agg(
                F.max(
                    F.struct(
                        (-F.col("d")).alias("nd"),
                        (-F.col("cid")).alias("nc"),
                        F.col("cid"),
                        F.col("__v"),
                    )
                ).alias("m")
            )
            .select(*g, F.col("m.cid").alias("cid"), F.col("m.__v").alias("__v"))
        )
        sums = (
            assigned.select(
                *g, "cid", F.posexplode(F.col("__v")).alias("pos", "val")
            )
            .groupBy(*g, "cid", "pos")
            .agg(
                # internal aliases carry a __ prefix so group columns (e.g.
                # PQ's subspace key "s") can never collide with them
                F.sum(F.floor(F.col("val") * KMEANS_SCALE + F.lit(0.5))).alias("__sum"),
                F.count(F.lit(1)).alias("__n"),
            )
        )
        means = (
            sums.select(
                *g,
                "cid",
                F.struct(
                    F.col("pos"),
                    (F.col("__sum") / (F.col("__n") * F.lit(KMEANS_SCALE))).alias("mv"),
                ).alias("pm"),
            )
            .groupBy(*g, "cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list("pm")), lambda x: x.mv
                ).alias("ncv")
            )
        )
        cents = (
            cents.join(means, on=[*g, "cid"], how="left")
            .select(*g, "cid", F.coalesce(F.col("ncv"), F.col("cv")).alias("cv"))
            .localCheckpoint(eager=True)
        )
    return cents


def kmeans_cte_sql(
    k: int,
    iters: int = 3,
    dim: int = 64,
    base_cte: str = "base",
    id_col: str = "vec_id",
    init: str = "flat",
) -> str:
    """DuckDB mirror of :func:`kmeans_train` (ungrouped form), generated in
    lockstep: the fixed iteration count unrolls into a WITH-clause chain, the
    scaled-integer centroid means reproduce Spark's doubles bit-exactly, and
    the L2 argmin uses the same (d, cid) ordering. Returns CTE text defining
    ``cents(cid, cv)``; append after a ``{base_cte}(vec_id, v)`` CTE.

    ``init="flat"`` mirrors the default ``id < k`` seeding;
    ``init="sampled"`` mirrors the ``train_filter`` path's
    row_number-over-id seeding (dense cid 0..k-1 — required when the
    training ids don't start at 0, e.g. an incremental batch)."""
    if init == "sampled":
        parts = [
            f"c0 AS (SELECT rn - 1 AS cid, v AS cv FROM ("
            f"SELECT v, row_number() OVER (ORDER BY {id_col}) AS rn "
            f"FROM {base_cte}) WHERE rn <= {k})"
        ]
    else:
        parts = [
            f"c0 AS (SELECT {id_col} AS cid, v AS cv FROM {base_cte} WHERE {id_col} < {k})"
        ]
    for it in range(iters):
        prev, cur = f"c{it}", f"c{it + 1}"
        parts.append(f"""a{it} AS (
      SELECT {id_col}, v, cid FROM (
        SELECT b.{id_col}, b.v, c.cid,
               row_number() OVER (
                 PARTITION BY b.{id_col}
                 ORDER BY list_dot_product(b.v, b.v)
                          - 2 * list_dot_product(b.v, c.cv)
                          + list_dot_product(c.cv, c.cv), c.cid) AS rn
        FROM {base_cte} b, {prev} c
      ) WHERE rn = 1
    ), m{it} AS (
      SELECT cid, i,
             CAST(sum(CAST(floor(val * {KMEANS_SCALE} + 0.5) AS BIGINT)) AS BIGINT)
               / (count(*) * {KMEANS_SCALE}) AS mv
      FROM (SELECT a.cid, t.i, a.v[t.i + 1] AS val FROM a{it} a, range({dim}) t(i))
      GROUP BY cid, i
    ), {cur} AS (
      SELECT p.cid, coalesce(l.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN (
        SELECT cid, list(mv ORDER BY i) AS cv FROM m{it} GROUP BY cid
      ) l USING (cid)
    )""")
    parts.append(f"cents AS (SELECT cid, cv FROM c{iters})")
    return ",\n    ".join(parts)


def ivf_kmeans_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: tuple[int, ...] = (0, 1, 2, 3),
    k: int = 5,
    n_centroids: int = 64,
    nprobe: int = 2,
    iters: int = 3,
    dim: int = 64,
) -> str:
    """DuckDB mirror of ``ivf_topk(train_iters=iters)``: the unrolled
    k-means chain (:func:`kmeans_cte_sql`) feeds the same assignment /
    probe / score pipeline the untrained oracle uses."""
    qids = ", ".join(str(q) for q in query_ids)
    return f"""
    WITH base AS (
      SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS v FROM {table}
    ),
    {kmeans_cte_sql(n_centroids, iters, dim)},
    cents2 AS (
      SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cents
    ), sims AS (
      SELECT b.vec_id, b.v, c.cid,
             floor((list_dot_product(b.v, c.cv)
                   / (sqrt(list_dot_product(b.v, b.v)) * c.cn)) * 1000000 + 0.5)
               / 1000000.0 AS csim
      FROM base b, cents2 c
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
      FROM sims
    ), lists AS (
      SELECT vec_id AS cand_id, v AS cv2, cid FROM ranked WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, v AS qv, cid FROM ranked
      WHERE vec_id IN ({qids}) AND rn <= {nprobe}
    ), scored AS (
      SELECT DISTINCT p.query_id, l.cand_id,
             floor((list_dot_product(p.qv, l.cv2)
                   / (sqrt(list_dot_product(p.qv, p.qv))
                      * sqrt(list_dot_product(l.cv2, l.cv2)))) * 1000000 + 0.5)
               / 1000000.0 AS cos_sim
      FROM lists l JOIN probes p ON l.cid = p.cid
      WHERE l.cand_id <> p.query_id
    )
    SELECT query_id, cand_id, cos_sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


def pq_kmeans_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: tuple[int, ...] = (0, 1, 2, 3),
    k: int = 5,
    n_sub: int = 4,
    sub_dim: int = 16,
    n_codes: int = 16,
    iters: int = 3,
) -> str:
    """DuckDB mirror of ``pq_adc_topk(train_iters=iters)``: per-subspace
    k-means (grouped by ``s``) unrolled iteration-by-iteration, then the
    same encode / distance-table / exact-integer ADC pipeline as the
    untrained oracle."""
    cb_parts = [
        f"cb0 AS (SELECT s, {id_col} AS cid, sv AS cv"
        f" FROM subs WHERE {id_col} < {n_codes})"
    ]
    for it in range(iters):
        prev, cur = f"cb{it}", f"cb{it + 1}"
        cb_parts.append(f"""pa{it} AS (
      SELECT {id_col}, s, sv, cid FROM (
        SELECT t.{id_col}, t.s, t.sv, c.cid,
               row_number() OVER (
                 PARTITION BY t.{id_col}, t.s
                 ORDER BY list_dot_product(t.sv, t.sv)
                          - 2 * list_dot_product(t.sv, c.cv)
                          + list_dot_product(c.cv, c.cv), c.cid) AS rn
        FROM subs t JOIN {prev} c USING (s)
      ) WHERE rn = 1
    ), pm{it} AS (
      SELECT s, cid, i,
             CAST(sum(CAST(floor(val * {KMEANS_SCALE} + 0.5) AS BIGINT)) AS BIGINT)
               / (count(*) * {KMEANS_SCALE}) AS mv
      FROM (SELECT a.s, a.cid, t.i, a.sv[t.i + 1] AS val
            FROM pa{it} a, range({sub_dim}) t(i))
      GROUP BY s, cid, i
    ), {cur} AS (
      SELECT p.s, p.cid, coalesce(l.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN (
        SELECT s, cid, list(mv ORDER BY i) AS cv FROM pm{it} GROUP BY s, cid
      ) l USING (s, cid)
    )""")
    cb_chain = ",\n    ".join(cb_parts)
    qids = ", ".join(str(q) for q in query_ids)
    return f"""
    WITH base AS (
      SELECT {id_col}, {vec_col}::DOUBLE[] AS v FROM {table}
    ), subs AS (
      SELECT {id_col}, s, v[s*{sub_dim}+1 : s*{sub_dim}+{sub_dim}] AS sv
      FROM base, (SELECT unnest(range({n_sub})) AS s)
    ),
    {cb_chain},
    cb AS (SELECT s, cid AS code, cv FROM cb{iters}),
    enc_scored AS (
      SELECT t.{id_col}, t.s, c.code,
             list_dot_product(t.sv, t.sv)
               - 2 * list_dot_product(t.sv, c.cv)
               + list_dot_product(c.cv, c.cv) AS d
      FROM subs t JOIN cb c USING (s)
    ), enc AS (
      SELECT {id_col}, s, code FROM (
        SELECT *, row_number() OVER (
          PARTITION BY {id_col}, s ORDER BY d, code) AS rn
        FROM enc_scored
      ) WHERE rn = 1
    ), dtab AS (
      SELECT t.{id_col} AS query_id, t.s, c.code,
             CAST(floor((
               list_dot_product(t.sv, t.sv)
                 - 2 * list_dot_product(t.sv, c.cv)
                 + list_dot_product(c.cv, c.cv)
             ) * 1000000 + 0.5) AS BIGINT) AS pdist
      FROM subs t JOIN cb c USING (s)
      WHERE t.{id_col} IN ({qids})
    ), adc AS (
      SELECT d.query_id, e.{id_col} AS cand_id, sum(d.pdist) AS ssum
      FROM enc e JOIN dtab d ON e.s = d.s AND e.code = d.code
      WHERE e.{id_col} <> d.query_id
      GROUP BY d.query_id, e.{id_col}
    )
    SELECT query_id, cand_id, CAST(ssum AS BIGINT) / 1000000.0 AS adc_dist
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY ssum, cand_id) AS rn
      FROM adc
    ) WHERE rn <= {k}
    """


def pq_adc_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: tuple[int, ...] = (0, 1, 2, 3),
    k: int = 5,
    n_sub: int = 4,
    sub_dim: int = 16,
    n_codes: int = 16,
    train_iters: int | None = None,
    train_filter: Column | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization top-k with asymmetric distance computation (ADC).

    Each vector is split into ``n_sub`` subvectors; each subvector is coded
    as its nearest of ``n_codes`` codewords (L2), so a 64-float vector
    compresses to 4 small codes — the memory move that makes billion-scale
    ANN fit. Queries are NOT quantized: per query we build a tiny
    (sub, code) → distance lookup table and the approximate distance is the
    sum of table entries selected by each candidate's codes.

    Scale shape:
      * the codebook is ``n_sub × n_codes`` rows — broadcast, corpus-independent
        (same discipline as :func:`ivf_centroids`);
      * encoding is one corpus scan joined to the broadcast codebook, with the
        argmin done as a ``max(struct(-dsq, -code))`` partial aggregate — the
        exchange carries n·n_sub coded rows, never n·n_sub·n_codes;
      * ADC is an equi-join of the coded corpus against the broadcast
        per-query distance table, then an exact integer sum per candidate —
        no full-vector math touches the corpus after encoding.

    Codewords: with ``train_iters=None`` the subvectors of the ``n_codes``
    lowest-id vectors (deterministic stand-in); with ``train_iters=N`` a
    per-subspace k-means codebook trained by :func:`kmeans_train` (grouped
    by ``s`` — one independent codebook per subspace, the real PQ recipe).
    Either way the codebook is ``n_sub × n_codes`` rows, broadcast, and the
    downstream plan shape is identical.

    Float discipline: subspace distances use three sequential-fold dots
    (``dot(a,a) - 2·dot(a,b) + dot(b,b)``) — bit-identical to DuckDB's
    ``list_dot_product`` — then are rounded to integer micro-units BEFORE the
    cross-subspace sum, so the final aggregate is exact BIGINT math (no
    summation-order sensitivity).
    """
    from .partitioning import spread_narrow

    # distance math is CPU-bound; don't serialize it on a one-file scan
    # (spread key ≠ the (vec_id, s) group key, so the encoding exchange
    # survives — measured -18% at sf0.1, no-op on wide scans)
    df = spread_narrow(df, id_col)
    base = df.select(F.col(id_col), as_double(vec_col).alias("v"))
    sub_ix = F.explode(F.array(*[F.lit(s) for s in range(n_sub)])).alias("s")
    subs = base.select(id_col, "v", sub_ix).select(
        id_col,
        "s",
        F.slice(F.col("v"), F.col("s") * sub_dim + 1, sub_dim).alias("sv"),
    )
    if codebook is not None:
        # steady-state path: a PERSISTED per-subspace codebook (trained once,
        # amortized) — encoding + ADC only, no Lloyd's iterations
        codebook = codebook.select("s", "code", as_double("cv").alias("cv"))
    elif train_iters:
        codebook = kmeans_train(
            subs,
            id_col,
            "sv",
            k=n_codes,
            iters=train_iters,
            group_cols=("s",),
            train_filter=train_filter,
        ).select("s", F.col("cid").alias("code"), F.col("cv"))
    else:
        codebook = subs.filter(F.col(id_col) < n_codes).select(
            "s", F.col(id_col).alias("code"), F.col("sv").alias("cv")
        )

    def dsq(a: Column, b: Column) -> Column:
        return dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b)

    enc = (
        subs.join(F.broadcast(codebook), "s")
        .select(
            id_col,
            "s",
            "code",
            dsq(F.col("sv"), F.col("cv")).alias("d"),
        )
        .groupBy(id_col, "s")
        .agg(F.max(F.struct((-F.col("d")).alias("nd"), (-F.col("code")).alias("nc"), F.col("code"))).alias("m"))
        .select(F.col(id_col).alias("cand_id"), "s", F.col("m.code").alias("code"))
    )
    dtab = (
        subs.filter(F.col(id_col).isin(*query_ids))
        .join(F.broadcast(codebook), "s")
        .select(
            F.col(id_col).alias("query_id"),
            "s",
            "code",
            F.floor(dsq(F.col("sv"), F.col("cv")) * 1_000_000 + F.lit(0.5))
            .cast("long")
            .alias("pdist"),
        )
    )
    adc = (
        enc.join(F.broadcast(dtab), ["s", "code"])
        .filter(F.col("cand_id") != F.col("query_id"))
        .groupBy("query_id", "cand_id")
        .agg(F.sum("pdist").alias("ssum"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("ssum"), F.col("cand_id"))
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            "cand_id",
            (F.col("ssum") / F.lit(1_000_000.0)).alias("adc_dist"),
        )
    )


def ivf_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: tuple[int, ...] = (0, 1, 2, 3),
    k: int = 5,
    n_centroids: int = 64,
    nprobe: int = 2,
    train_iters: int | None = None,
    train_filter: Column | None = None,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize vectors to their nearest
    centroid (inverted lists), probe only the query's ``nprobe`` nearest
    lists.

    Centroids are a FIXED-k table — the deterministic id-prefix stand-in
    (:func:`ivf_centroids`, ``train_iters=None``) or a Lloyd's-trained table
    (:func:`kmeans_train`, ``train_iters=N``; better-shaped inverted lists →
    higher recall at the same nprobe). Either way assignment broadcasts k
    vectors (corpus-independent memory) over one corpus scan, cost O(n·k)
    like real IVF; the probe is an equi-join on the centroid id — the corpus
    shuffles once on list id, never O(n·n_q).

    Assignment is an aggregate, not a window: ``max(struct(csim, -cid, ...))``
    per vector id gets map-side partial aggregation, so the exchange carries
    one row per vector — a ``row_number()`` window over the k-way crossJoin
    output would shuffle k·n rows (64× the volume at k=64). The (csim, -cid)
    prefix reproduces the window's (csim DESC, cid ASC) tie-break exactly;
    the trailing fields ride along un-compared because cid is unique.
    """
    from .partitioning import spread_narrow

    # k dot products per corpus vector is CPU-bound; spread a one-file scan
    # first (spread key ≠ the vec_id group key — assignment exchange
    # survives; measured -30% at sf0.1, no-op on wide scans)
    df = spread_narrow(df, id_col)
    base = df.select(F.col(id_col), as_double(vec_col).alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    if centroids is not None:
        # steady-state path: a PERSISTED centroid table (trained once,
        # amortized over every later search) — at 100 TB this is the number
        # that matters; training is a rare offline job
        cents = centroids.select("cid", as_double("cv").alias("cv")).withColumn(
            "cn", F.sqrt(dot(F.col("cv"), F.col("cv")))
        )
    elif train_iters:
        cents = kmeans_train(
            base, id_col, "v", k=n_centroids, iters=train_iters,
            train_filter=train_filter,
        ).withColumn("cn", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    else:
        cents = ivf_centroids(base, id_col, n_centroids)

    def cent_sims(side: DataFrame) -> DataFrame:
        return side.crossJoin(F.broadcast(cents)).select(
            F.col(id_col),
            "v",
            "nrm",
            "cid",
            d_round(
                dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 6
            ).alias("csim"),
        )

    lists = (
        cent_sims(base)
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("csim"),
                    (-F.col("cid")).alias("ncid"),
                    F.col("cid"),
                    F.col("v"),
                    F.col("nrm"),
                )
            ).alias("m")
        )
        .select(
            F.col(id_col).alias("cand_id"), F.col("m.v").alias("cv2"),
            F.col("m.nrm").alias("cn2"), F.col("m.cid").alias("cid"),
        )
    )
    w_assign = W.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("cid"))
    probes = (
        cent_sims(base.filter(F.col(id_col).isin(*query_ids)))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= nprobe)
        .select(
            F.col(id_col).alias("query_id"), F.col("v").alias("qv"),
            F.col("nrm").alias("qn"), "cid",
        )
    )
    scored = (
        lists.join(F.broadcast(probes), "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            d_round(
                dot(F.col("qv"), F.col("cv2")) / (F.col("qn") * F.col("cn2")), 6
            ).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "cand_id"])
    )
    w_top = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "cos_sim")
    )


def ivf_pq_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: tuple[int, ...] = (0, 1, 2, 3),
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_sub: int = 4,
    sub_dim: int = 16,
    n_codes: int = 16,
    rerank: int = 16,
) -> DataFrame:
    """The production ANN composite — IVF coarse probe → PQ-ADC scoring
    within the probed lists → exact re-rank of the ADC top candidates
    (the FAISS ``IVFx,PQy`` recipe: Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011, §V — re-expressed as DataFrame
    ops; :func:`ivf_topk` and :func:`pq_adc_topk` are its two halves).

    Why the composite matters at 100 TB: IVF alone still reads full vectors
    in every probed list (memory-bandwidth bound); PQ alone scans every
    code in the corpus. Together: the probe prunes to nprobe/n_centroids of
    the corpus, ADC scores those candidates from codes (n_sub small joins,
    no vector math), and only ``rerank`` raw vectors per query are touched
    for the exact pass — a pruned, broadcast-driven scan.

    Plan shape (guarded in tests/test_plan_quality.py):
      * centroid table and codebook are id-prefix stand-ins (swap for
        :func:`kmeans_train` output like the `_kmeans` rows — downstream
        shape identical), both broadcast, corpus-independent;
      * coarse assignment is the max-struct partial AGGREGATE (exchange
        carries n rows, not k·n) with the raw vector riding along;
      * codes derive FROM the assigned frame, so list-id rides into the
        encoding aggregate and no corpus-corpus join exists anywhere;
      * ADC is enc ⋈ broadcast(probes) ⋈ broadcast(dtab) → one partial-agg
        exchange keyed (query, cand);
      * the exact re-rank re-reads only broadcast(top-C ids) ⋈ corpus —
        a broadcast-pruned scan, never a second full pass of vector math.

    Float discipline: centroid sims d_round(6); per-subspace ADC distances
    integer micro-units summed as BIGINT; re-rank cosines d_round(6) — the
    same exactmath forms as the component rows, so DuckDB replays bit-equal.
    """
    from .partitioning import spread_narrow

    # Since r13 this composite IS the persisted-index primitives run
    # inline (review finding: three copies of the float-discipline-
    # critical blocks had accumulated): stand-in artifacts — the
    # id-prefix filters, preserving this function's documented semantics
    # on any id space — feed :func:`ivf_pq_index_assign` (spread=False:
    # the corpus is spread once here) and the fully-lazy
    # :func:`ivf_pq_topk_indexed` search tail. Bit-equality with the
    # historical inline form is pinned by this row's DuckDB oracle and
    # tests/test_dedup_similarity.py.
    df = spread_narrow(df, id_col)
    base = df.select(F.col(id_col), as_double(vec_col).alias("v"))
    cents = base.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), F.col("v").alias("cv")
    )
    sub_ix = F.explode(F.array(*[F.lit(s) for s in range(n_sub)])).alias("s")
    codebook = (
        base.filter(F.col(id_col) < n_codes)
        .select(id_col, "v", sub_ix)
        .select(
            "s",
            F.col(id_col).alias("code"),
            F.slice(F.col("v"), F.col("s") * sub_dim + 1, sub_dim).alias(
                "cbv"
            ),
        )
    )
    index = ivf_pq_index_assign(
        df, cents, codebook, id_col=id_col, vec_col=vec_col,
        n_sub=n_sub, sub_dim=sub_dim, spread=False,
    )
    return ivf_pq_topk_indexed(
        index, cents, codebook, df, id_col=id_col, vec_col=vec_col,
        query_ids=query_ids, k=k, nprobe=nprobe, rerank=rerank,
        n_sub=n_sub, sub_dim=sub_dim, pushdown_probes=False,
    )


def ivf_pq_oracle_sql(
    table: str = "embeddings",
    query_ids: str = "0, 1, 2, 3",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_sub: int = 4,
    sub_dim: int = 16,
    n_codes: int = 16,
    rerank: int = 16,
    corpus_pred: str = "TRUE",
) -> str:
    """DuckDB mirror of :func:`ivf_pq_topk` — identical stand-in centroid /
    codebook choices, the same rounding forms at every stage.

    ``corpus_pred`` (r15): restrict the SEARCHABLE corpus (the assigned /
    re-ranked candidates) to a predicate while artifacts, queries, and
    distance tables stay derived from the full table — the replay shape
    of the ``ann_index_compact`` maintenance row, where vectors deleted
    upstream leave the index but the frozen centroids/codebook and query
    vectors predate the deletion."""
    return f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}
    ), cents AS (
      SELECT vec_id AS cid, v AS cv FROM base WHERE vec_id < {n_centroids}
    ), sims AS (
      SELECT b.vec_id, b.v, c.cid,
             floor((list_dot_product(b.v, c.cv)
                   / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(c.cv, c.cv)))
                   ) * 1000000 + 0.5) / 1000000.0 AS csim
      FROM base b, cents c
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
      FROM sims
    ), assigned AS (
      SELECT vec_id AS cand_id, cid, v FROM ranked
      WHERE rn = 1 AND ({corpus_pred})
    ), probes AS (
      SELECT vec_id AS query_id, cid FROM ranked
      WHERE vec_id IN ({query_ids}) AND rn <= {nprobe}
    ), cb AS (
      SELECT s, vec_id AS code, v[s*{sub_dim}+1 : s*{sub_dim}+{sub_dim}] AS cbv
      FROM base, (SELECT unnest(range({n_sub})) AS s)
      WHERE vec_id < {n_codes}
    ), enc_scored AS (
      SELECT a.cand_id, a.cid, c.s, c.code,
             list_dot_product(a.v[c.s*{sub_dim}+1 : c.s*{sub_dim}+{sub_dim}],
                              a.v[c.s*{sub_dim}+1 : c.s*{sub_dim}+{sub_dim}])
               - 2 * list_dot_product(a.v[c.s*{sub_dim}+1 : c.s*{sub_dim}+{sub_dim}], c.cbv)
               + list_dot_product(c.cbv, c.cbv) AS d
      FROM assigned a, cb c
    ), enc AS (
      SELECT cand_id, cid, s, code FROM (
        SELECT *, row_number() OVER (
          PARTITION BY cand_id, s ORDER BY d, code) AS rn
        FROM enc_scored
      ) WHERE rn = 1
    ), dtab AS (
      SELECT b.vec_id AS query_id, c.s, c.code,
             CAST(floor((
               list_dot_product(b.v[c.s*{sub_dim}+1 : c.s*{sub_dim}+{sub_dim}],
                                b.v[c.s*{sub_dim}+1 : c.s*{sub_dim}+{sub_dim}])
                 - 2 * list_dot_product(b.v[c.s*{sub_dim}+1 : c.s*{sub_dim}+{sub_dim}], c.cbv)
                 + list_dot_product(c.cbv, c.cbv)
             ) * 1000000 + 0.5) AS BIGINT) AS pdist
      FROM base b, cb c
      WHERE b.vec_id IN ({query_ids})
    ), adc AS (
      SELECT p.query_id, e.cand_id, sum(d.pdist) AS ssum
      FROM enc e
      JOIN probes p ON e.cid = p.cid
      JOIN dtab d ON d.query_id = p.query_id AND d.s = e.s AND d.code = e.code
      WHERE e.cand_id <> p.query_id
      GROUP BY p.query_id, e.cand_id
    ), shortlist AS (
      SELECT query_id, cand_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY ssum, cand_id) AS rn
        FROM adc
      ) WHERE rn <= {rerank}
    ), reranked AS (
      SELECT s.query_id, s.cand_id,
             floor((list_dot_product(q.v, b.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v)))
                   ) * 1000000 + 0.5) / 1000000.0 AS cos_sim
      FROM shortlist s
      JOIN base b ON b.vec_id = s.cand_id
      JOIN base q ON q.vec_id = s.query_id
    )
    SELECT query_id, cand_id, cos_sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
      FROM reranked
    ) WHERE rn <= {k}
    """


#: JL target dimensionality for the random-projection row — 8 keeps the
#: demo oracle readable; production picks O(log n / eps²).
JL_DIM = 8


def jl_signs(dim: int = 64, out_dim: int = JL_DIM) -> list[list[float]]:
    """Deterministic ±1 projection matrix (Achlioptas, "Database-friendly
    random projections", PODS 2001: sign entries satisfy the JL lemma like
    Gaussians, and make the projection exact integer-weighted sums). The
    entries come from a fixed integer hash — no RNG state — and are inlined
    as LITERALS on both the Spark and DuckDB sides, so the two engines use
    the identical matrix by construction."""
    return [
        [
            1.0
            if ((i * 2654435761 + (j + 1) * 40503) >> 3) % 2 == 0
            else -1.0
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def random_projection_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: tuple[int, ...] = (0, 1, 2, 3),
    k: int = 5,
    dim: int = 64,
    out_dim: int = JL_DIM,
) -> DataFrame:
    """Top-k by cosine in a JL sign-projected space: one map-only pass
    projects every vector 64→8 dims (eight sequential-fold dots against
    broadcast-literal ±1 rows), then the brute-force top-k runs on the
    8-dim projections — an 8× cut in per-pair math and per-row shuffle
    bytes for any downstream pairwise stage.

    At 100 TB the projection is a one-off materialized column (map-only,
    no shuffle); every later ANN / near-dup / clustering pass pays
    out_dim/dim of the vector math and I/O. This row surfaces it as
    (query_id, cand_id, proj_cos) so the oracle replays the full chain
    with the identical inlined matrix. Accuracy note (documented, not
    tested here): projected cosines approximate true cosines with JL
    distortion; exact re-ranking composes like :func:`ivf_pq_topk`'s."""
    signs = jl_signs(dim, out_dim)
    base = df.select(F.col(id_col), as_double(vec_col).alias("v"))
    proj = base.select(
        F.col(id_col),
        F.array(
            *[
                dot(F.col("v"), F.array(*[F.lit(s) for s in row]))
                for row in signs
            ]
        ).alias("p"),
    ).withColumn("nrm", F.sqrt(dot(F.col("p"), F.col("p"))))
    q = proj.filter(F.col(id_col).isin(*query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("p").alias("qp"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        proj.select(
            F.col(id_col).alias("cand_id"),
            F.col("p").alias("cp"),
            F.col("nrm").alias("cn"),
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            d_round(
                dot(F.col("qp"), F.col("cp")) / (F.col("qn") * F.col("cn")), 6
            ).alias("proj_cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("proj_cos").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "proj_cos")
    )


def random_projection_oracle_sql(
    table: str = "embeddings",
    query_ids: str = "0, 1, 2, 3",
    k: int = 5,
    dim: int = 64,
    out_dim: int = JL_DIM,
) -> str:
    """DuckDB mirror of :func:`random_projection_topk` — the identical
    inlined ±1 matrix, sequential-fold dots (list_dot_product), the same
    micro-rounding."""
    signs = jl_signs(dim, out_dim)
    rows = ",\n             ".join(
        "list_dot_product(v, ["
        + ", ".join(str(s) for s in row)
        + "])"
        for row in signs
    )
    return f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}
    ), proj AS (
      SELECT vec_id,
             [{rows}] AS p
      FROM base
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             floor((list_dot_product(q.p, c.p)
                   / (sqrt(list_dot_product(q.p, q.p)) * sqrt(list_dot_product(c.p, c.p)))
                   ) * 1000000 + 0.5) / 1000000.0 AS proj_cos
      FROM proj c, proj q
      WHERE q.vec_id IN ({query_ids}) AND c.vec_id <> q.vec_id
    )
    SELECT query_id, cand_id, proj_cos FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY proj_cos DESC, cand_id) AS rn
      FROM scored
    ) WHERE rn <= {k}
    """


def _mmr_greedy_local(
    sl: DataFrame, pairs: DataFrame, k: int, lambda_micro: int
) -> DataFrame | None:
    """Unroll the MMR greedy selection on the driver from the collected
    integer micro-unit tables (see the dispatch site in
    :func:`mmr_rerank_topk`). Exact mirror of the distributed tail: rank 1
    is the relevance-rank-1 row with score λ·rel; each later rank picks,
    among unselected shortlist candidates, the max of
    ``λ·rel − (1−λ)·max_{s∈selected} sim`` with ties to the smallest
    cand_id; a query with fewer candidates than k stops early, exactly as
    the empty window pick does. All arithmetic is BIGINT micro-units.
    Returns ``None`` (caller keeps the distributed tail) if either table
    exceeds the collect budget or any rel/sim is NULL.

    ``pairs`` is derived from ``sl``, so ``sl`` is cached across the two
    collects: the corpus scan and the shortlist window run once, not once
    per collect."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from ..plans.inspect import collect_at_most

    sl.persist()
    try:
        sl_rows = collect_at_most(sl.select("query_id", "cand_id", "rel", "rn"))
        pair_rows = collect_at_most(pairs) if sl_rows is not None else None
    finally:
        sl.unpersist()
    if pair_rows is None:
        return None
    by_q: dict = {}
    for r in sl_rows:
        if r["rel"] is None:
            return None
        by_q.setdefault(r["query_id"], []).append(
            (r["cand_id"], r["rel"], r["rn"])
        )
    sims: dict = {}
    for r in pair_rows:
        if r["sim"] is None:
            return None
        key = (r["query_id"], r["id_a"], r["id_b"])
        # duplicate candidate ids (contract-violating input) yield several
        # rows per key; the distributed penalty is groupBy().max("sim"),
        # so keep the max — never last-write-wins
        if key not in sims or r["sim"] > sims[key]:
            sims[key] = r["sim"]
    lam, inv = lambda_micro, 1_000_000 - lambda_micro
    out_rows = []
    for qid in sorted(by_q):
        cands = by_q[qid]
        first = next(c for c in cands if c[2] == 1)
        selected = [first[0]]
        out_rows.append((qid, 1, first[0], lam * first[1]))
        for step in range(2, k + 1):
            remaining = [c for c in cands if c[0] not in selected]
            if not remaining:
                break
            scored_local = [
                (
                    lam * rel
                    - inv * max(sims[(qid, cid, s)] for s in selected),
                    cid,
                )
                for cid, rel, _rn in remaining
            ]
            best_score, best_cid = max(
                scored_local, key=lambda t: (t[0], -t[1])
            )
            selected.append(best_cid)
            out_rows.append((qid, step, best_cid, best_score))
    schema = StructType(
        [
            sl.schema["query_id"],
            StructField("rank", IntegerType(), False),
            sl.schema["cand_id"],
            StructField("mmr_score", LongType(), True),
        ]
    )
    return sl.sparkSession.createDataFrame(out_rows, schema)


def mmr_rerank_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: tuple[int, ...] = (0, 1, 2, 3),
    shortlist: int = 8,
    k: int = 3,
    lambda_micro: int = 700_000,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
    1998): greedily pick ``k`` results per query maximizing
    ``λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s)`` — relevance traded
    against redundancy, the retrieval-diversity op a training-data pipeline
    uses to avoid feeding near-identical passages for one prompt.

    Scale shape: the only corpus-sized stage is the relevance shortlist
    (broadcast queries over one corpus scan + per-query top-``shortlist``
    window — exactly :func:`brute_force_topk`'s plan; swap in
    :func:`ivf_pq_topk` for the shortlist at 100 TB, the greedy tail is
    unchanged). Everything after operates on n_q × shortlist rows — the
    candidate-pair similarity matrix and the ``k`` greedy rounds are
    constant-size frames, so unrolling the greedy loop in the driver costs
    k tiny stages, not k corpus passes.

    Float discipline: rel and pairwise sims are d_round(6); the MMR score
    combines them in EXACT integer micro-units (λ as ``lambda_micro``
    parts-per-million), so greedy argmax ties are bit-identical across
    engines and the selection sequence is fully deterministic
    (score DESC, cand_id ASC). Output: (query_id, rank, cand_id,
    mmr_score) with mmr_score in micro-units (BIGINT) — rank 1 is pure
    relevance (no selected set yet, penalty 0)."""
    base = df.select(F.col(id_col), as_double(vec_col).alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    q = base.filter(F.col(id_col).isin(*query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    scored = (
        base.select(
            F.col(id_col).alias("cand_id"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            "cv",
            "cn",
            (
                F.floor(
                    d_round(
                        dot(F.col("qv"), F.col("cv"))
                        / (F.col("qn") * F.col("cn")),
                        6,
                    )
                    * 1_000_000
                    + F.lit(0.5)
                )
            )
            .cast("long")
            .alias("rel"),
        )
    )
    w_rel = W.partitionBy("query_id").orderBy(
        F.col("rel").desc(), F.col("cand_id")
    )
    sl = (
        scored.withColumn("rn", F.row_number().over(w_rel))
        .filter(F.col("rn") <= shortlist)
        .select("query_id", "cand_id", "cv", "cn", "rel", "rn")
    )
    # n_q × shortlist rows from here on — every frame below is tiny and the
    # joins are broadcast by size; localCheckpoint would be overkill
    a = sl.select(
        "query_id",
        F.col("cand_id").alias("id_a"),
        F.col("cv").alias("av"),
        F.col("cn").alias("an"),
    )
    b = sl.select(
        "query_id",
        F.col("cand_id").alias("id_b"),
        F.col("cv").alias("bv"),
        F.col("cn").alias("bn"),
    )
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "query_id",
            "id_a",
            "id_b",
            (
                F.floor(
                    d_round(
                        dot(F.col("av"), F.col("bv"))
                        / (F.col("an") * F.col("bn")),
                        6,
                    )
                    * 1_000_000
                    + F.lit(0.5)
                )
            )
            .cast("long")
            .alias("sim"),
        )
    )
    rels = sl.select("query_id", "cand_id", "rel")

    # driver-local greedy tail (r17 optimization round 2): n_q × shortlist
    # is a PARAMETER bound, not data — the docstring's own "unrolling the
    # greedy loop in the driver costs k tiny stages" undersold it: the
    # unrolled union re-derives the shortlist lineage per rank and its
    # plan analysis alone dwarfs the work. When the pair matrix fits the
    # shared collect budget, gather the INTEGER micro-unit rel/sim tables
    # (the float→micro rounding stays in Spark, so there is no float
    # surface to mirror) and run the greedy argmax locally — identical
    # integer arithmetic, identical (score DESC, cand_id ASC) tie-break.
    # NULL rel/sim (degenerate zero-norm vectors) falls back to the
    # distributed tail rather than mirroring SQL NULL ordering.
    from ..plans import inspect as plan_inspect

    if len(query_ids) * shortlist * shortlist <= plan_inspect.COLLECT_MAX_ROWS:
        local = _mmr_greedy_local(sl, pairs, k, lambda_micro)
        if local is not None:
            return local

    lam = F.lit(lambda_micro)
    inv = F.lit(1_000_000 - lambda_micro)
    selected = (
        # sl already carries the relevance rank — rank 1 is its rn == 1 row
        sl.filter(F.col("rn") == 1)
        .select(
            "query_id",
            F.lit(1).alias("rank"),
            "cand_id",
            # rank 1: no selected set, penalty 0 — score is λ·rel.
            # Scores stay in RAW micro² units (λ_micro × rel_micro — fits
            # BIGINT comfortably): no division, so there is no floor-vs-
            # truncate divergence between engines on negative scores
            (lam * F.col("rel")).alias("mmr_score"),
        )
    )
    out = selected
    for step in range(2, k + 1):
        sel_ids = out.select("query_id", F.col("cand_id").alias("sid"))
        remaining = rels.join(
            sel_ids.withColumnRenamed("sid", "cand_id"),
            ["query_id", "cand_id"],
            "left_anti",
        )
        # explicit frame aliases: pairs/sel_ids/remaining share lineage
        # (all derive from sl), and Spark's self-join resolution would
        # otherwise warn about — or mis-resolve — the equality columns
        penalty = (
            pairs.alias("p")
            .join(
                sel_ids.alias("s"),
                (F.col("p.query_id") == F.col("s.query_id"))
                & (F.col("p.id_b") == F.col("s.sid")),
            )
            .select(
                F.col("p.query_id").alias("query_id"),
                F.col("p.id_a").alias("id_a"),
                F.col("p.sim").alias("sim"),
            )
            .groupBy("query_id", "id_a")
            .agg(F.max("sim").alias("max_sim"))
        )
        cand_scores = (
            remaining.alias("r")
            .join(
                penalty.alias("pn"),
                (F.col("r.query_id") == F.col("pn.query_id"))
                & (F.col("r.cand_id") == F.col("pn.id_a")),
            )
            .select(
                F.col("r.query_id").alias("query_id"),
                F.col("r.cand_id").alias("cand_id"),
                (lam * F.col("r.rel") - inv * F.col("pn.max_sim")).alias(
                    "mmr_score"
                ),
            )
        )
        w_pick = W.partitionBy("query_id").orderBy(
            F.col("mmr_score").desc(), F.col("cand_id")
        )
        pick = (
            cand_scores.withColumn("rn", F.row_number().over(w_pick))
            .filter(F.col("rn") == 1)
            .select(
                "query_id", F.lit(step).alias("rank"), "cand_id", "mmr_score"
            )
        )
        out = out.unionByName(pick)
    return out.orderBy("query_id", "rank")


def mmr_oracle_sql(
    table: str = "embeddings",
    query_ids: str = "0, 1, 2, 3",
    shortlist: int = 8,
    k: int = 3,
    lambda_micro: int = 700_000,
) -> str:
    """DuckDB mirror of :func:`mmr_rerank_topk` with the greedy loop
    UNROLLED as one CTE pair (selection + penalty) per rank — the same
    oracle technique as the k-means chains. Integer micro-unit scores make
    every argmax tie-break bit-identical."""
    inv = 1_000_000 - lambda_micro
    ctes = f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.v AS cv,
             CAST(floor(floor((list_dot_product(q.v, c.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))
                   ) * 1000000 + 0.5) / 1000000.0 * 1000000 + 0.5) AS BIGINT) AS rel
      FROM base c, base q
      WHERE q.vec_id IN ({query_ids}) AND c.vec_id <> q.vec_id
    ), sl AS (
      SELECT query_id, cand_id, cv, rel FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
        FROM scored
      ) WHERE rn <= {shortlist}
    ), pairs AS (
      SELECT a.query_id, a.cand_id AS id_a, b.cand_id AS id_b,
             CAST(floor(floor((list_dot_product(a.cv, b.cv)
                   / (sqrt(list_dot_product(a.cv, a.cv)) * sqrt(list_dot_product(b.cv, b.cv)))
                   ) * 1000000 + 0.5) / 1000000.0 * 1000000 + 0.5) AS BIGINT) AS sim
      FROM sl a JOIN sl b USING (query_id)
      WHERE a.cand_id <> b.cand_id
    ), sel1 AS (
      SELECT query_id, 1 AS rank, cand_id,
             CAST({lambda_micro} * rel AS BIGINT) AS mmr_score
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rn
        FROM sl
      ) WHERE rn = 1
    )"""
    prev_union = "SELECT query_id, cand_id FROM sel1"
    selects = ["SELECT query_id, rank, cand_id, mmr_score FROM sel1"]
    for step in range(2, k + 1):
        ctes += f""", pen{step} AS (
      SELECT p.query_id, p.id_a AS cand_id, max(p.sim) AS max_sim
      FROM pairs p JOIN ({prev_union}) s
        ON p.query_id = s.query_id AND p.id_b = s.cand_id
      WHERE p.id_a NOT IN (
        SELECT cand_id FROM ({prev_union}) s2 WHERE s2.query_id = p.query_id
      )
      GROUP BY p.query_id, p.id_a
    ), sel{step} AS (
      SELECT query_id, {step} AS rank, cand_id,
             CAST({lambda_micro} * rel - {inv} * max_sim AS BIGINT)
               AS mmr_score
      FROM (
        SELECT sl.query_id, sl.cand_id, sl.rel, pen{step}.max_sim,
               row_number() OVER (
                 PARTITION BY sl.query_id
                 ORDER BY {lambda_micro} * sl.rel - {inv} * pen{step}.max_sim DESC,
                          sl.cand_id) AS rn
        FROM sl JOIN pen{step}
          ON sl.query_id = pen{step}.query_id AND sl.cand_id = pen{step}.cand_id
      ) WHERE rn = 1
    )"""
        prev_union += f" UNION ALL SELECT query_id, cand_id FROM sel{step}"
        selects.append(
            f"SELECT query_id, rank, cand_id, mmr_score FROM sel{step}"
        )
    return (
        ctes
        + "\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY query_id, rank"
    )


def semantic_dedup_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 2,
    threshold_micro: int = 250_000,
    dim: int = 64,
) -> str:
    """DuckDB mirror of ``operators.dedup.semantic_dedup`` — the unrolled
    k-means chain feeds the same assignment, then the identical first-wins
    within-cluster integer-threshold cosine dedup."""
    return f"""
    WITH base AS (
      SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS v FROM {table}
    ),
    {kmeans_cte_sql(k, iters, dim)},
    cents2 AS (
      SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cents
    ), sims AS (
      SELECT b.vec_id, b.v, c.cid,
             floor((list_dot_product(b.v, c.cv)
                   / (sqrt(list_dot_product(b.v, b.v)) * c.cn)) * 1000000 + 0.5)
               / 1000000.0 AS csim
      FROM base b, cents2 c
    ), assigned AS (
      SELECT vec_id, v, cid FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
        FROM sims
      ) WHERE rn = 1
    ), dups AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE CAST(floor((list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v)))) * 1000000 + 0.5) AS BIGINT)
            >= {threshold_micro}
    )
    SELECT vec_id, cid FROM assigned
    WHERE vec_id NOT IN (SELECT vec_id FROM dups)
    """


def _sub_chain_sql(sub_k: int, iters: int, dim: int, src: str = "cassign") -> str:
    """Grouped per-cell sub-trainer CTE chain (the PQ pattern keyed by
    ``cell``, but with the per-group row_number init instead of the flat
    id<k init): defines ``sc{iters}(cell, cid, cv)`` over a
    ``{src}(vec_id, cell, v, ...)`` CTE. Shared by the one-shot and
    incremental two-level oracles so their training text is identical."""
    sc_parts = [
        f"""sc0 AS (
      SELECT cell, rn - 1 AS cid, v AS cv FROM (
        SELECT cell, v, row_number() OVER (
          PARTITION BY cell ORDER BY vec_id) AS rn
        FROM {src}
      ) WHERE rn <= {sub_k}
    )"""
    ]
    for it in range(iters):
        prev, cur = f"sc{it}", f"sc{it + 1}"
        sc_parts.append(f"""sa{it} AS (
      SELECT vec_id, cell, v, cid FROM (
        SELECT t.vec_id, t.cell, t.v, c.cid,
               row_number() OVER (
                 PARTITION BY t.vec_id
                 ORDER BY list_dot_product(t.v, t.v)
                          - 2 * list_dot_product(t.v, c.cv)
                          + list_dot_product(c.cv, c.cv), c.cid) AS rn
        FROM {src} t JOIN {prev} c USING (cell)
      ) WHERE rn = 1
    ), sm{it} AS (
      SELECT cell, cid, i,
             CAST(sum(CAST(floor(val * {KMEANS_SCALE} + 0.5) AS BIGINT)) AS BIGINT)
               / (count(*) * {KMEANS_SCALE}) AS mv
      FROM (SELECT a.cell, a.cid, t.i, a.v[t.i + 1] AS val
            FROM sa{it} a, range({dim}) t(i))
      GROUP BY cell, cid, i
    ), {cur} AS (
      SELECT p.cell, p.cid, coalesce(l.cv, p.cv) AS cv
      FROM {prev} p LEFT JOIN (
        SELECT cell, cid, list(mv ORDER BY i) AS cv FROM sm{it} GROUP BY cell, cid
      ) l USING (cell, cid)
    )""")
    return ",\n    ".join(sc_parts)


def semantic_dedup_two_level_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_k: int = 4,
    sub_k: int = 4,
    iters: int = 2,
    threshold_micro: int = 250_000,
    dim: int = 64,
) -> str:
    """DuckDB mirror of ``operators.dedup.semantic_dedup_two_level`` — the
    unrolled coarse k-means chain feeds the cosine cell assignment, then the
    per-cell grouped sub-trainer unrolls with the row_number-per-cell init
    (``kmeans_train(train_filter=...)``'s seeding), then the identical
    first-wins within-leaf integer-threshold cosine dedup."""
    sc_chain = _sub_chain_sql(sub_k, iters, dim)
    return f"""
    WITH base AS (
      SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS v FROM {table}
    ),
    {kmeans_cte_sql(coarse_k, iters, dim)},
    cents2 AS (
      SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cents
    ), csims AS (
      SELECT b.vec_id, b.v, c.cid,
             floor((list_dot_product(b.v, c.cv)
                   / (sqrt(list_dot_product(b.v, b.v)) * c.cn)) * 1000000 + 0.5)
               / 1000000.0 AS csim
      FROM base b, cents2 c
    ), cassign AS (
      SELECT vec_id, v, cid AS cell FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
        FROM csims
      ) WHERE rn = 1
    ),
    {sc_chain},
    subc AS (SELECT cell, cid AS scid, cv FROM sc{iters}),
    passign AS (
      SELECT vec_id, cell, scid, v FROM (
        SELECT t.vec_id, t.cell, s.scid, t.v,
               row_number() OVER (
                 PARTITION BY t.vec_id
                 ORDER BY list_dot_product(t.v, t.v)
                          - 2 * list_dot_product(t.v, s.cv)
                          + list_dot_product(s.cv, s.cv), s.scid) AS rn
        FROM cassign t JOIN subc s USING (cell)
      ) WHERE rn = 1
    ), dups AS (
      SELECT DISTINCT b.vec_id
      FROM passign a JOIN passign b
        ON a.cell = b.cell AND a.scid = b.scid AND a.vec_id < b.vec_id
      WHERE CAST(floor((list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v)))) * 1000000 + 0.5) AS BIGINT)
            >= {threshold_micro}
    )
    SELECT vec_id, cell, scid FROM passign
    WHERE vec_id NOT IN (SELECT vec_id FROM dups)
    """


def incremental_semantic_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    threshold_micro: int = 250_000,
    dim: int = 64,
) -> str:
    """DuckDB mirror of the two-increment
    ``operators.dedup.incremental_semantic_dedup`` pipeline (even ids then
    odd ids, centroids trained on increment 1 only and reused assign-only):
    the unrolled k-means chain over batch 1 feeds both batches' cosine cell
    assignments, then each increment's first-wins dedup — within-batch for
    increment 1, within-batch PLUS against the persisted survivor state for
    increment 2. The final SELECT is the committed state the Spark query
    reads back through the merge-sink manifest."""

    def assign(src: str, out: str) -> str:
        # `out` must avoid the kmeans chain's internal CTE names (c{i}/a{i}/m{i})
        return f"""{out}_sims AS (
      SELECT b.vec_id, b.v, sqrt(list_dot_product(b.v, b.v)) AS nrm, c.cid,
             floor((list_dot_product(b.v, c.cv)
                   / (sqrt(list_dot_product(b.v, b.v)) * c.cn)) * 1000000 + 0.5)
               / 1000000.0 AS csim
      FROM {src} b, cents2 c
    ), {out} AS (
      SELECT vec_id, v, nrm, cid AS cell FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
        FROM {out}_sims
      ) WHERE rn = 1
    )"""

    def cos_ge(av, an, bv, bn) -> str:
        return (
            f"CAST(floor((list_dot_product({av}, {bv}) / ({an} * {bn}))"
            f" * 1000000 + 0.5) AS BIGINT) >= {threshold_micro}"
        )

    return f"""
    WITH allv AS (
      SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS v FROM {table}
    ),
    b1 AS (SELECT vec_id, v FROM allv WHERE vec_id % 2 = 0),
    b2 AS (SELECT vec_id, v FROM allv WHERE vec_id % 2 = 1),
    {kmeans_cte_sql(k, iters, dim, base_cte="b1", init="sampled")},
    cents2 AS (
      SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cents
    ),
    {assign("b1", "inc1")},
    w1 AS (
      SELECT DISTINCT b.vec_id
      FROM inc1 a JOIN inc1 b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cos_ge("a.v", "a.nrm", "b.v", "b.nrm")}
    ),
    s1 AS (SELECT * FROM inc1 WHERE vec_id NOT IN (SELECT vec_id FROM w1)),
    {assign("b2", "inc2")},
    w2 AS (
      SELECT DISTINCT b.vec_id
      FROM inc2 a JOIN inc2 b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cos_ge("a.v", "a.nrm", "b.v", "b.nrm")}
    ),
    x2 AS (
      SELECT DISTINCT n.vec_id
      FROM inc2 n JOIN s1 s ON n.cell = s.cell
      WHERE {cos_ge("s.v", "s.nrm", "n.v", "n.nrm")}
    ),
    s2 AS (
      SELECT * FROM inc2 WHERE vec_id NOT IN
        (SELECT vec_id FROM w2 UNION SELECT vec_id FROM x2)
    )
    SELECT cell, vec_id FROM s1
    UNION ALL
    SELECT cell, vec_id FROM s2
    """


def incremental_semantic_two_level_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_k: int = 3,
    sub_k: int = 3,
    iters: int = 2,
    threshold_micro: int = 250_000,
    dim: int = 64,
) -> str:
    """DuckDB mirror of the two-increment
    ``operators.dedup.incremental_semantic_dedup_two_level`` pipeline (even
    ids then odd ids, BOTH centroid levels trained on increment 1 only and
    reused assign-only): the unrolled coarse chain (row_number init — batch
    ids are arbitrary) plus the grouped per-cell sub-chain over batch 1
    feed both batches' leaf assignments, then each increment's first-wins
    dedup — within-leaf for increment 1, within-leaf PLUS against the
    persisted survivor state (joined on the LEAF key) for increment 2. The
    final SELECT is the committed state the Spark query reads back through
    the merge-sink manifest."""

    def cos_ge(av, an, bv, bn) -> str:
        return (
            f"CAST(floor((list_dot_product({av}, {bv}) / ({an} * {bn}))"
            f" * 1000000 + 0.5) AS BIGINT) >= {threshold_micro}"
        )

    def coarse_assign(src: str, out: str) -> str:
        return f"""{out}_sims AS (
      SELECT b.vec_id, b.v, sqrt(list_dot_product(b.v, b.v)) AS nrm, c.cid,
             floor((list_dot_product(b.v, c.cv)
                   / (sqrt(list_dot_product(b.v, b.v)) * c.cn)) * 1000000 + 0.5)
               / 1000000.0 AS csim
      FROM {src} b, cents2 c
    ), {out} AS (
      SELECT vec_id, v, nrm, cid AS cell FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
        FROM {out}_sims
      ) WHERE rn = 1
    )"""

    def leaf_assign(src: str, out: str) -> str:
        return f"""{out} AS (
      SELECT vec_id, cell, scid, v, nrm FROM (
        SELECT t.vec_id, t.cell, s.scid, t.v, t.nrm,
               row_number() OVER (
                 PARTITION BY t.vec_id
                 ORDER BY list_dot_product(t.v, t.v)
                          - 2 * list_dot_product(t.v, s.cv)
                          + list_dot_product(s.cv, s.cv), s.scid) AS rn
        FROM {src} t JOIN subc s USING (cell)
      ) WHERE rn = 1
    )"""

    def leaf_dups(src: str, out: str) -> str:
        return f"""{out} AS (
      SELECT DISTINCT b.vec_id
      FROM {src} a JOIN {src} b
        ON a.cell = b.cell AND a.scid = b.scid AND a.vec_id < b.vec_id
      WHERE {cos_ge("a.v", "a.nrm", "b.v", "b.nrm")}
    )"""

    return f"""
    WITH allv AS (
      SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS v FROM {table}
    ),
    b1 AS (SELECT vec_id, v FROM allv WHERE vec_id % 2 = 0),
    b2 AS (SELECT vec_id, v FROM allv WHERE vec_id % 2 = 1),
    {kmeans_cte_sql(coarse_k, iters, dim, base_cte="b1", init="sampled")},
    cents2 AS (
      SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM cents
    ),
    {coarse_assign("b1", "cassign")},
    {_sub_chain_sql(sub_k, iters, dim)},
    subc AS (SELECT cell, cid AS scid, cv FROM sc{iters}),
    {leaf_assign("cassign", "pa1")},
    {leaf_dups("pa1", "w1")},
    s1 AS (SELECT * FROM pa1 WHERE vec_id NOT IN (SELECT vec_id FROM w1)),
    {coarse_assign("b2", "ca2")},
    {leaf_assign("ca2", "pa2")},
    {leaf_dups("pa2", "w2")},
    x2 AS (
      SELECT DISTINCT n.vec_id
      FROM pa2 n JOIN s1 s ON n.cell = s.cell AND n.scid = s.scid
      WHERE {cos_ge("s.v", "s.nrm", "n.v", "n.nrm")}
    ),
    s2 AS (
      SELECT * FROM pa2 WHERE vec_id NOT IN
        (SELECT vec_id FROM w2 UNION SELECT vec_id FROM x2)
    )
    SELECT cell, scid, vec_id FROM s1
    UNION ALL
    SELECT cell, scid, vec_id FROM s2
    """


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index (r13): the flagship composite as standing state
# ---------------------------------------------------------------------------


def ivf_pq_index_train(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_sub: int = 4,
    sub_dim: int = 16,
    n_codes: int = 16,
    selection: str = "prefix",
) -> tuple[DataFrame, DataFrame]:
    """Train the two persisted artifacts of an IVF-PQ index — the coarse
    centroid table ``(cid, cv)`` and the per-subspace PQ codebook
    ``(s, code, cbv)`` — from a base corpus, ONCE.

    This is the offline half of the FAISS serving recipe (Jégou et al.,
    TPAMI 2011 §V: train coarse quantizer + codebooks on a sample, then
    add/search against the frozen index): at 100 TB the train runs rarely,
    the artifacts are tiny (k·dim + n_sub·n_codes·sub_dim doubles —
    broadcast-sized by construction), and every later ingest batch or
    query is assign-only against them (:func:`ivf_pq_index_assign` /
    :func:`ivf_pq_topk_indexed`).

    Deterministic stand-in trainer (swap :func:`kmeans_train` — flat and
    ``group_cols=("s",)`` forms — for trained artifacts; every downstream
    plan shape is identical, which is the point of persisting the tables
    rather than the trainer). ``selection`` picks the stand-in convention:

    * ``"prefix"`` (default): the id-prefix filter ``id < n`` — the SAME
      convention as the inline composite (:func:`ivf_pq_topk`) and its
      DuckDB oracle, so "indexed search ≡ inline composite bit-for-bit"
      holds on ANY id space (r14 advisor finding: the previous sort-limit
      agreed with the prefix only on a dense 0-based space; on a gapped
      space both sides now train on the same — possibly fewer than ``n``
      — vectors).
    * ``"lowest"``: sort-limit on the ``n`` lowest ids — exactly ``n``
      vectors from any batch, for callers training on a mid-stream
      increment whose ids need not start near 0 (the CDC index ingest).
      Matches ``"prefix"`` only on a dense 0-based id space.
    """
    if selection not in ("prefix", "lowest"):
        raise ValueError(
            f"selection must be 'prefix' or 'lowest', got {selection!r}"
        )
    base = df.select(F.col(id_col), as_double(vec_col).alias("v"))
    if selection == "prefix":
        cent_rows = base.filter(F.col(id_col) < n_centroids)
        code_rows = base.filter(F.col(id_col) < n_codes)
    else:
        cent_rows = base.orderBy(id_col).limit(n_centroids)
        code_rows = base.orderBy(id_col).limit(n_codes)
    centroids = cent_rows.select(
        F.col(id_col).alias("cid"), F.col("v").alias("cv")
    )
    sub_ix = F.explode(F.array(*[F.lit(s) for s in range(n_sub)])).alias("s")
    codebook = (
        code_rows
        .select(id_col, "v", sub_ix)
        .select(
            "s",
            F.col(id_col).alias("code"),
            F.slice(F.col("v"), F.col("s") * sub_dim + 1, sub_dim).alias(
                "cbv"
            ),
        )
    )
    return centroids, codebook


def ivf_pq_index_assign(
    batch: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sub: int = 4,
    sub_dim: int = 16,
    spread: bool = True,
) -> DataFrame:
    """ASSIGN-ONLY index ingest: code one batch of vectors against the
    PERSISTED centroid table + codebook, returning the index delta
    ``(cand_id, cid, s, code)`` — one row per (vector, subspace), the
    layout the ADC join consumes directly and the merge sink upserts on
    ``(cand_id, s)``.

    No training happens here (plan-guarded): centroids/codebook arrive as
    broadcast tables read back from parquet, the coarse assignment is the
    max-struct partial AGGREGATE (exchange carries n rows, never k·n;
    same float discipline as :func:`ivf_pq_topk` — d_round(6) centroid
    cosines, raw sequential-fold subspace distances), and the codes derive
    FROM the assigned frame so the list id rides along with no extra
    exchange. Re-ingesting a batch is idempotent through the merge sink:
    identical keys upsert to identical rows.
    """
    if spread:
        from .partitioning import spread_narrow

        batch = spread_narrow(batch, id_col)
    base = batch.select(F.col(id_col), as_double(vec_col).alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    cents = centroids.select("cid", as_double("cv").alias("cv")).withColumn(
        "cn", F.sqrt(dot(F.col("cv"), F.col("cv")))
    )
    assigned = (
        base.crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col),
            "v",
            "cid",
            d_round(
                dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 6
            ).alias("csim"),
        )
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("csim"),
                    (-F.col("cid")).alias("ncid"),
                    F.col("cid"),
                    F.col("v"),
                )
            ).alias("m")
        )
        .select(
            F.col(id_col).alias("cand_id"),
            F.col("m.cid").alias("cid"),
            F.col("m.v").alias("v"),
        )
    )
    cb = codebook.select("s", "code", as_double("cbv").alias("cbv"))
    sub_ix = F.explode(F.array(*[F.lit(s) for s in range(n_sub)])).alias("s")

    def dsq(a: Column, b: Column) -> Column:
        return dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b)

    return (
        assigned.select("cand_id", "cid", "v", sub_ix)
        .select(
            "cand_id",
            "cid",
            "s",
            F.slice(F.col("v"), F.col("s") * sub_dim + 1, sub_dim).alias("sv"),
        )
        .join(F.broadcast(cb), "s")
        .select(
            "cand_id",
            "cid",
            "s",
            "code",
            dsq(F.col("sv"), F.col("cbv")).alias("d"),
        )
        .groupBy("cand_id", "cid", "s")
        .agg(
            F.max(
                F.struct(
                    (-F.col("d")).alias("nd"),
                    (-F.col("code")).alias("nc"),
                    F.col("code"),
                )
            ).alias("m")
        )
        .select("cand_id", "cid", "s", F.col("m.code").alias("code"))
    )


def ivf_pq_topk_indexed(
    index: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids: tuple[int, ...] = (0, 1, 2, 3),
    k: int = 5,
    nprobe: int = 4,
    rerank: int = 16,
    n_sub: int = 4,
    sub_dim: int = 16,
    pushdown_probes: bool = True,
) -> DataFrame:
    """PROBE-ONLY search against a persisted IVF-PQ index: the serving half
    of the composite, where neither training nor corpus encoding re-runs —
    ``index`` is the committed ``(cand_id, cid, s, code)`` state, and this
    touches the raw corpus only to fetch the query vectors and the final
    ``rerank`` candidates per query.

    Identical float discipline and plan shape as the inline composite's
    search tail (:func:`ivf_pq_topk`): probes from d_round(6) centroid
    cosines (top-``nprobe`` lists per query), per-query ADC distance table
    in integer micro-units against the broadcast codebook, ADC =
    index ⋈ broadcast(probes) ⋈ broadcast(dtab) → one (query, cand)
    partial-agg exchange, exact re-rank on broadcast(shortlist) ⋈ corpus.

    ``pushdown_probes`` (default True) is what makes the index scan an
    INVERTED-LIST read rather than a full-state scan: the probe set is
    config-bounded (≤ n_queries × nprobe rows — the same bounded-collect
    discipline as the heavy-hitter sketch), so its list ids are collected
    and pushed as a LITERAL ``cid IN (...)`` filter that reaches the
    parquet scan (PushedFilters + row-group stats pruning; a runtime join
    on cid cannot push down). At 100 TB this reads nprobe/n_centroids of
    the index, which is the entire point of IVF. ``False`` keeps the
    fully-lazy runtime-join form (plan-identical values either way —
    guarded in tests).
    """
    base = corpus.select(F.col(id_col), as_double(vec_col).alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    cents = centroids.select("cid", as_double("cv").alias("cv")).withColumn(
        "cn", F.sqrt(dot(F.col("cv"), F.col("cv")))
    )
    q = base.filter(F.col(id_col).isin(*query_ids))
    w_probe = W.partitionBy(id_col).orderBy(F.col("csim").desc(), F.col("cid"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select(
            F.col(id_col),
            "cid",
            d_round(
                dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 6
            ).alias("csim"),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= nprobe)
        .select(F.col(id_col).alias("query_id"), "cid")
    )
    if pushdown_probes:
        # bounded eager step: ≤ n_q × nprobe rows (config, not data, sized)
        probe_schema = probes.schema
        probe_rows = probes.collect()
        probes = corpus.sparkSession.createDataFrame(probe_rows, probe_schema)
        index = index.filter(
            F.col("cid").isin(sorted({r["cid"] for r in probe_rows}))
        )
    cb = codebook.select("s", "code", as_double("cbv").alias("cbv"))
    sub_ix = F.explode(F.array(*[F.lit(s) for s in range(n_sub)])).alias("s")

    def dsq(a: Column, b: Column) -> Column:
        return dot(a, a) - F.lit(2.0) * dot(a, b) + dot(b, b)

    dtab = (
        q.select(id_col, "v", sub_ix)
        .select(
            F.col(id_col).alias("query_id"),
            "s",
            F.slice(F.col("v"), F.col("s") * sub_dim + 1, sub_dim).alias("qsv"),
        )
        .join(F.broadcast(cb), "s")
        .select(
            "query_id",
            "s",
            "code",
            F.floor(dsq(F.col("qsv"), F.col("cbv")) * 1_000_000 + F.lit(0.5))
            .cast("long")
            .alias("pdist"),
        )
    )
    adc = (
        index.join(F.broadcast(probes), "cid")
        .filter(F.col("cand_id") != F.col("query_id"))
        .join(F.broadcast(dtab), ["query_id", "s", "code"])
        .groupBy("query_id", "cand_id")
        .agg(F.sum("pdist").alias("ssum"))
    )
    w_adc = W.partitionBy("query_id").orderBy(F.col("ssum"), F.col("cand_id"))
    shortlist = (
        adc.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= rerank)
        .select("query_id", "cand_id")
    )
    queries = q.select(
        F.col(id_col).alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    reranked = (
        base.select(
            F.col(id_col).alias("cand_id"),
            F.col("v").alias("rv"),
            F.col("nrm").alias("rn2"),
        )
        .join(F.broadcast(shortlist), "cand_id")
        .join(F.broadcast(queries), "query_id")
        .select(
            "query_id",
            "cand_id",
            d_round(
                dot(F.col("qv"), F.col("rv")) / (F.col("qn") * F.col("rn2")), 6
            ).alias("cos_sim"),
        )
    )
    w_top = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return (
        reranked.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= k)
        .select("query_id", "cand_id", "cos_sim")
    )


def ivf_pq_indexed_oracle_sql(
    table: str = "embeddings",
    base_pred: str = "vec_id % 2 = 0",
    query_ids: str = "0, 1, 2, 3",
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_sub: int = 4,
    sub_dim: int = 16,
    n_codes: int = 16,
    rerank: int = 16,
) -> str:
    """DuckDB mirror of the PERSISTED-index composite: centroids + codebook
    trained on the ``base_pred`` half only (sort-limit lowest ids — exactly
    :func:`ivf_pq_index_train` with ``selection="lowest"``; id-gap robust
    because both sides sort-limit the same predicate), then the whole corpus coded against those
    frozen artifacts and searched. Because assignment is per-vector against
    fixed artifacts, the two-increment Spark construction (base build +
    assign-only increment through the merge sink) must reproduce this
    batch replay bit-for-bit — that equivalence IS the incremental-state
    contract the row pins."""
    return f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM {table}
    ), cents AS (
      SELECT vec_id AS cid, v AS cv
      FROM (SELECT vec_id, v FROM base WHERE {base_pred}
            ORDER BY vec_id LIMIT {n_centroids})
    ), sims AS (
      SELECT b.vec_id, b.v, c.cid,
             floor((list_dot_product(b.v, c.cv)
                   / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(c.cv, c.cv)))
                   ) * 1000000 + 0.5) / 1000000.0 AS csim
      FROM base b, cents c
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY csim DESC, cid) AS rn
      FROM sims
    ), assigned AS (
      SELECT vec_id AS cand_id, cid, v FROM ranked WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, cid FROM ranked
      WHERE vec_id IN ({query_ids}) AND rn <= {nprobe}
    ), cb AS (
      SELECT s, vec_id AS code, v[s*{sub_dim}+1 : s*{sub_dim}+{sub_dim}] AS cbv
      FROM (SELECT vec_id, v FROM base WHERE {base_pred}
            ORDER BY vec_id LIMIT {n_codes}),
           (SELECT unnest(range({n_sub})) AS s)
    ), enc_scored AS (
      SELECT a.cand_id, a.cid, c.s, c.code,
             list_dot_product(a.v[c.s*{sub_dim}+1 : c.s*{sub_dim}+{sub_dim}],
                              a.v[c.s*{sub_dim}+1 : c.s*{sub_dim}+{sub_dim}])
               - 2 * list_dot_product(a.v[c.s*{sub_dim}+1 : c.s*{sub_dim}+{sub_dim}], c.cbv)
               + list_dot_product(c.cbv, c.cbv) AS d
      FROM assigned a, cb c
    ), enc AS (
      SELECT cand_id, cid, s, code FROM (
        SELECT *, row_number() OVER (
          PARTITION BY cand_id, s ORDER BY d, code) AS rn
        FROM enc_scored
      ) WHERE rn = 1
    ), dtab AS (
      SELECT b.vec_id AS query_id, c.s, c.code,
             CAST(floor((
               list_dot_product(b.v[c.s*{sub_dim}+1 : c.s*{sub_dim}+{sub_dim}],
                                b.v[c.s*{sub_dim}+1 : c.s*{sub_dim}+{sub_dim}])
                 - 2 * list_dot_product(b.v[c.s*{sub_dim}+1 : c.s*{sub_dim}+{sub_dim}], c.cbv)
                 + list_dot_product(c.cbv, c.cbv)
             ) * 1000000 + 0.5) AS BIGINT) AS pdist
      FROM base b, cb c
      WHERE b.vec_id IN ({query_ids})
    ), adc AS (
      SELECT p.query_id, e.cand_id, sum(d.pdist) AS ssum
      FROM enc e
      JOIN probes p ON e.cid = p.cid
      JOIN dtab d ON d.query_id = p.query_id AND d.s = e.s AND d.code = e.code
      WHERE e.cand_id <> p.query_id
      GROUP BY p.query_id, e.cand_id
    ), shortlist AS (
      SELECT query_id, cand_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY ssum, cand_id) AS rn
        FROM adc
      ) WHERE rn <= {rerank}
    ), reranked AS (
      SELECT s.query_id, s.cand_id,
             floor((list_dot_product(q.v, b.v)
                   / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(b.v, b.v)))
                   ) * 1000000 + 0.5) / 1000000.0 AS cos_sim
      FROM shortlist s
      JOIN base b ON b.vec_id = s.cand_id
      JOIN base q ON q.vec_id = s.query_id
    )
    SELECT query_id, cand_id, cos_sim FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rn
      FROM reranked
    ) WHERE rn <= {k}
    """


def ann_recall_report(
    exact: DataFrame, approx: DataFrame, k: int
) -> DataFrame:
    """Per-query recall@k of an approximate top-k result against exact
    ground truth — the quality dial every ANN deployment tunes (nprobe /
    n_codes / rerank trade recall for cost; FAISS reports exactly this
    metric). Both inputs are ``(query_id, cand_id, ...)`` top-k frames;
    the output is ``(query_id, hits, recall)`` with hits = |approx ∩
    exact| per query and recall rounded to 2 decimals (d_round — the
    engine's floor form, deterministic across engines).

    Scale shape: both inputs are top-k frames (n_queries × k rows — tiny
    by construction), so the semi-join and count are broadcast-sized no
    matter the corpus behind them; the expensive parts are the input
    queries, already priced by their own rows."""
    hits = (
        exact.select("query_id", "cand_id")
        .join(
            approx.select("query_id", "cand_id"),
            ["query_id", "cand_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("hits"), F.lit(0)).alias("hits"),
            d_round(
                F.coalesce(F.col("hits"), F.lit(0)) / F.lit(float(k)), 2
            ).alias("recall"),
        )
    )


def ann_index_compact(
    spark,
    index_root: str,
    corpus: DataFrame,
    id_col: str = "vec_id",
    merge_buckets: int = 64,
    merge_keep_versions: int = 2,
) -> int:
    """Reconcile the persisted IVF-PQ index with the CURRENT corpus (r14,
    VERDICT r13 item 4 — closing the documented stale-on-delete posture of
    :func:`...streaming.ingest.run_cdc_ann_index_ingest`): index entries
    whose ``cand_id`` no longer exists in the corpus are physically
    removed via :func:`...sinks.writer.compact_merge_state` — an anti-join
    of the index's distinct candidate ids against the corpus keys names
    the stale ids, then ONLY their buckets are rewritten under the
    staged-tree + CAS commit; untouched buckets keep their files.

    Before compaction a deleted vector costs shortlist slots (the search
    re-ranks against the current corpus, so it can never RETURN a deleted
    id — it only crowds out live candidates, degrading recall at fixed
    ``rerank``); after compaction the index is bit-identical to one
    freshly assigned from the current corpus against the same frozen
    artifacts (pinned in tests). FAISS's remove_ids-then-rebuild posture,
    as an incremental bucket rewrite.

    Run it on the deployment's maintenance schedule — after upstream
    deletes have propagated, like a tombstone purge. Pass the index
    sink's REAL ``merge_keep_versions``: the compaction commit runs the
    same snapshot GC as a merge, so defaulting a longer-retention
    deployment to 2 here would expire versions lagging readers still
    need (r14 review finding). Returns the number of index rows
    removed."""
    from ..sinks.writer import compact_merge_state, read_merge_state
    from ..spec import SinkSpec

    def stale():
        # a CALLABLE, re-evaluated per rewrite attempt (r15 advisor
        # finding): a frame planned once before the retry loop pins the
        # file list of a snapshot a concurrent writer may age out of
        # retention mid-job, making every stale-snapshot retry re-fail on
        # the same dead plan; re-reading here re-resolves the CURRENT
        # pointer each attempt
        idx_ids = (
            read_merge_state(spark, f"{index_root}/index")
            .select("cand_id")
            .distinct()
        )
        return idx_ids.join(
            corpus.select(F.col(id_col).alias("cand_id")).distinct(),
            "cand_id",
            "left_anti",
        )

    return compact_merge_state(
        spark,
        SinkSpec(
            type="parquet",
            path=f"{index_root}/index",
            mode="merge",
            merge_key=("cand_id", "s"),
            merge_order=("_ingest_version",),
            sort_by=("cid",),
            merge_buckets=merge_buckets,
            merge_keep_versions=merge_keep_versions,
        ),
        stale,
        on=["cand_id"],
    )
