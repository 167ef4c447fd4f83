"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame compositions (no Python UDFs in the hot
path) so they survive 100 TB: the expensive parts are hash-groupBys and
bucket-joins whose keys Catalyst/AQE can reason about.

- exact dedup: content-hash groupBy (one exchange).
- MinHash: k independent hash functions approximated as ``min(md5(seed || shingle))``
  per seed — deterministic, engine-portable, and entirely inside codegen.
  LSH banding groups signature slices into band keys; candidate pairs come
  from a self-equi-join on (band, band_key) — which Spark executes as a
  shuffle join on a high-cardinality key, the scalable way to avoid the O(n²)
  all-pairs compare.
- n-gram Jaccard verification for candidate pairs.
- SimHash: per-token hash bits weighted/summed via explode + groupBy.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..exactmath import d_round

_LOG = logging.getLogger(__name__)


def exact_dedup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Group identical content by md5, keep the lowest id (deterministic
    survivor), report group sizes."""
    return df.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.min(id_col).alias("keep_doc_id"),
        F.count("*").alias("n_dups"),
    )


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Return the deduplicated frame itself (survivor rows only)."""
    survivors = df.groupBy(F.md5(F.col(text_col)).alias("__h")).agg(
        F.min(id_col).alias(id_col)
    )
    return df.join(survivors.select(id_col), on=id_col, how="left_semi")


def incremental_dedup(
    batch: DataFrame,
    seen: DataFrame | None,
    text_col: str,
    id_col: str,
    claim: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental corpus dedup: keep only docs whose content has never been
    seen — not in the persisted fingerprint state and not earlier in this
    batch — and emit the fingerprint delta to append to the state.

    The production loop (continuous crawl ingestion at 100 TB):

    * ``seen`` is the fingerprint STATE table ``(text_hash, keep_doc_id)``
      persisted by a previous run — through the bucket-pruned merge sink
      (``mode: merge``, ``merge_key: [text_hash]``), so each increment
      rewrites only the key-hash buckets its fingerprints land in, never
      O(state).
    * within-batch dedup is the same one-exchange ``min(id)`` argmin as
      :func:`exact_dedup`;
    * against-state dedup is a left-anti equi-join on ``text_hash`` — both
      sides hash-partitioned on the SAME key the state table is bucketed
      by, so at scale the join co-locates with the state layout.

    Returns ``(novel_rows, fingerprint_delta)``; both derive from one
    lazily-planned batch scan. Re-ingesting the same batch is idempotent:
    every fingerprint anti-joins away and the delta is empty.

    ``claim`` (streaming exactly-once support): a literal column tagging the
    ingestion unit — e.g. ``F.lit(batch_id)`` from a ``foreachBatch`` micro
    batch. When given, the delta carries it as ``claim_batch`` and the
    against-state check ALSO admits a fingerprint already present in state
    if state shows the same ``(claim_batch, keep_doc_id)`` this batch would
    write — which only happens when this very unit is being RETRIED after
    its state merge committed but before its corpus write was acknowledged.
    That makes ``(novel, delta)`` a deterministic function of (batch
    content, pre-batch state), so an at-least-once caller whose corpus
    writes are per-unit idempotent gets exactly-once corpus semantics
    (:func:`...streaming.ingest.incremental_dedup_sink`). A *different*
    unit re-ingesting the same content still anti-joins away.
    """
    hashed = batch.withColumn("__h", F.md5(F.col(text_col)))
    batch_first = hashed.groupBy(F.col("__h").alias("text_hash")).agg(
        F.min(id_col).alias("keep_doc_id")
    )
    if claim is not None:
        batch_first = batch_first.withColumn("claim_batch", claim)
    if seen is None:
        novel_fp = batch_first
    elif claim is None:
        novel_fp = batch_first.join(
            seen.select("text_hash"), on="text_hash", how="left_anti"
        )
    else:
        state = seen.select(
            "text_hash",
            F.col("keep_doc_id").alias("__st_keep"),
            F.col("claim_batch").alias("__st_claim"),
        )
        novel_fp = (
            batch_first.join(state, on="text_hash", how="left")
            .where(
                F.col("__st_keep").isNull()
                | (
                    (F.col("__st_claim") == F.col("claim_batch"))
                    & (F.col("__st_keep") == F.col("keep_doc_id"))
                )
            )
            .drop("__st_keep", "__st_claim")
        )
    novel_rows = hashed.join(
        novel_fp.select(
            F.col("text_hash").alias("__h"), F.col("keep_doc_id").alias(id_col)
        ),
        on=["__h", id_col],
        how="left_semi",
    ).drop("__h")
    return novel_rows, novel_fp


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Word n-gram shingles as an array<string>; empty/short docs yield the
    whole-doc token join (so every doc has ≥1 shingle)."""
    words = F.split(F.col(text_col), " ")
    k = F.greatest(F.size(words) - (n - 1), F.lit(1))
    # sequence(0, k-1) → slice(words, i+1, n) → join with space
    return F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )


# MinHash universe: a 31-bit Mersenne prime keeps (a_j * h + b_j) within 2^36
# so the modular family never overflows a 64-bit long (Spark 4 ANSI mode
# raises on long overflow — the seed multipliers must stay small).
MINHASH_PRIME = 2_147_483_647


def _base_hash(col: Column) -> Column:
    """One md5 per shingle, folded to a positive 60-bit long via hex parse —
    identical in DuckDB (``('0x' || substr(md5(s),1,15))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _seed_hash(hm: Column, seed: int) -> Column:
    """Universal-hash family member j over the reduced base hash."""
    a, b = 2 * seed + 1, seed * 1_000_003 + 12_345
    return (F.lit(a) * hm + F.lit(b)) % MINHASH_PRIME


def minhash_signature(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature: for seed j, min over shingles of the universal-hash
    family h_j(s) = (a_j·(md5₆₀(s) mod p) + b_j) mod p — ONE md5 per shingle,
    then cheap modular arithmetic per seed (previously 1 md5 per seed per
    shingle — 8× the hashing cost). Deterministic and engine-portable.
    Returns array<long> of length ``num_hashes``.
    """
    hashed = F.transform(shingles, lambda s: _base_hash(s) % MINHASH_PRIME)

    def seeded(j: int):
        # single-arg lambda — a 2-arg lambda would make Spark pass (element,
        # index) and silently shadow the seed binding
        return lambda hm: _seed_hash(hm, j)

    return F.array(
        *[F.array_min(F.transform(hashed, seeded(j))) for j in range(num_hashes)]
    )


def minhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band of their MinHash signature.

    Scale shape: explode to (doc, band, band_key) — num rows = n_docs × bands —
    then self-join on (band, band_key). No O(n²) compare; skewed band keys
    (e.g. boilerplate docs) are exactly what AQE skew-join splitting handles.
    Output: (id_a, id_b) with id_a < id_b, distinct.
    """
    rows_per_band = num_hashes // bands
    # CPU-bound shingle hashing must not inherit input-split granularity: one
    # small parquet file scans as ONE partition, serializing the md5+modular
    # work onto a single core while the rest of the cluster idles. When the
    # scan is narrower than the cluster, spread it first. The spread key is
    # xxhash64(id) — deterministic under task retry, and deliberately NOT the
    # groupBy key: pre-partitioning by the id would elide the signature
    # aggregation's exchange, and that exchange is what the band self-join
    # REUSES (ReusedExchange) so the signature pipeline is computed once —
    # spreading by id measured 6× slower (double compute, no reuse), this
    # form 1.5-3× faster at sf0.1. At 100 TB the scan already has thousands
    # of splits and the spread is a no-op by the guard.
    from .partitioning import spread_narrow

    df = spread_narrow(df, id_col)
    # Scale shape: explode shingles ONCE, hash each shingle ONCE (md5 → 60-bit
    # long), derive all seeds with modular arithmetic, take per-seed minima in
    # a single hash aggregation. Two prior versions profiled slower at sf0.1:
    # the array-expression form recomputed the shingle array per seed (10×),
    # and per-seed md5(seed || shingle) paid 8× the string hashing (3×).
    exploded = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("sh")
    ).select(id_col, (_base_hash(F.col("sh")) % MINHASH_PRIME).alias("hm"))
    sig = exploded.groupBy(id_col).agg(
        *[F.min(_seed_hash(F.col("hm"), j)).alias(f"h{j}") for j in range(num_hashes)]
    )
    banded = sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)],
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.band_key")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def jaccard_max_doc_freq(n_docs: int, boilerplate_frac: float = 0.01) -> int:
    """Corpus-sized stop-shingle cap for :func:`jaccard_pairs` (the sizing
    discipline of :func:`neardup_sign_dims`/:func:`semantic_dedup_k`): a
    shingle present in more than ``boilerplate_frac`` of the corpus is
    boilerplate, not content — drop it before the self-join. Floor of 8 so
    tiny corpora keep legitimate shared shingles; the pair bound becomes
    sum(df(s)²) ≤ n_shingles·(frac·n)², which AQE-sized shuffles absorb."""
    if n_docs <= 0:
        return 8
    return max(8, math.ceil(n_docs * boilerplate_frac))


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    shingle_n: int = 3,
    max_doc_freq: int | str | None = "auto",
    n_rows: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 (non-stop) shingle.

    Shape: explode distinct shingles → document-frequency cap → self-join on
    shingle → count common shingles per pair → Jaccard = common /
    (|A| + |B| - common). The join is on the shingle value (high cardinality),
    so it shuffles well.

    ``max_doc_freq`` is the 100 TB safety valve: one boilerplate shingle shared
    by 1M docs would otherwise create a 10¹²-row pair group in the self-join.
    The default ``"auto"`` sizes the cap from the corpus
    (:func:`jaccard_max_doc_freq` — a planning-time count, the r4 SCALING
    §10 "choose per-corpus" caveat made automatic); pass an int to pin it
    (e.g. for a static oracle) or ``None`` to disable (test-only).
    Shingles appearing in more than ``max_doc_freq`` documents are dropped
    BEFORE the join (stop-shingle removal — standard practice in near-dup
    mining); per-doc sizes are counted after the cap so the metric stays a
    true Jaccard over the retained shingle sets. The pair count is then
    bounded by sum over shingles of df(s)² ≤ n_shingles · max_doc_freq².

    Per-doc sizes join WITHOUT a broadcast hint: they are O(n_docs) — AQE
    picks broadcast when the side is actually small and shuffles otherwise.

    ``n_rows`` (caller-known corpus size) skips the auto-cap's planning
    count; a bare file-backed input resolves it from parquet footers either
    way (zero extra jobs). The resolved cap is logged — the "auto" default
    changed existing ``None``-era results, so the number in play should be
    visible (ADVICE r5)."""
    if max_doc_freq == "auto":
        from ..plans.inspect import planning_row_count

        n = planning_row_count(df, n_rows)
        max_doc_freq = jaccard_max_doc_freq(n)  # planning-time scalar
        _LOG.info(
            "jaccard_pairs: auto max_doc_freq=%d (corpus n=%d); pass an int "
            "to pin or n_rows to skip the planning count",
            max_doc_freq,
            n,
        )
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(word_shingles(text_col, shingle_n))).alias("sh")
    )
    if max_doc_freq is not None:
        keep = (
            toks.groupBy("sh")
            .agg(F.count("*").alias("__df"))
            .filter(F.col("__df") <= max_doc_freq)
            .select("sh")
        )
        toks = toks.join(keep, "sh")
    sizes = toks.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = toks.alias("a")
    b = toks.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            d_round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


#: bit 63 of the assembled simhash is the long's sign bit — 1<<63 overflows
#: a signed shift-free literal in DuckDB, so both engines add MIN_LONG instead.
_MIN_LONG = -9223372036854775808


def simhash64(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document from a PORTABLE token hash (md5 folds).

    explode tokens → per (doc, bit) sum of ±1 → sign → assemble the bit
    vector. Pure aggregations; two exchanges on doc id. Token bits come from
    two 60-bit md5 hex folds (chars 1-15 → bits 0-59, chars 16-30 → bits
    60-63) — the same ``('0x' || substr(md5(t), ...))::BIGINT`` construction
    DuckDB evaluates identically, so the operator has a full SQL oracle
    (:func:`simhash64_oracle_sql`); Hamming-distance properties are covered
    by tests/test_dedup.py on top.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).select(
        id_col,
        _base_hash(F.col("tok")).alias("ha"),
        F.conv(F.substring(F.md5(F.col("tok")), 16, 15), 16, 10)
        .cast("long")
        .alias("hb"),
    )

    def bit(i: int) -> Column:
        src, off = ("ha", i) if i < 60 else ("hb", i - 60)
        return F.shiftright(F.col(src), off).bitwiseAND(F.lit(1))

    bits = toks.select(
        id_col,
        *[F.when(bit(i) == 1, 1).otherwise(-1).alias(f"b{i}") for i in range(64)],
    )
    agg = bits.groupBy(id_col).agg(
        *[F.sum(f"b{i}").alias(f"s{i}") for i in range(64)]
    )
    sim = F.lit(0).cast("long")
    for i in range(63):
        sim = sim + F.when(
            F.col(f"s{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
    sim = sim + F.when(F.col("s63") > 0, F.lit(_MIN_LONG)).otherwise(
        F.lit(0).cast("long")
    )
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash64_oracle_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB mirror of :func:`simhash64`, generated in lockstep with the
    Spark expression tree (same md5 folds, same ±1 sums, same bit assembly)."""
    bit_exprs = []
    for i in range(64):
        src, off = ("ha", i) if i < 60 else ("hb", i - 60)
        bit_exprs.append(
            f"sum(CASE WHEN (({src} >> {off}) & 1) = 1 THEN 1 ELSE -1 END) AS s{i}"
        )
    terms = [
        f"CASE WHEN s{i} > 0 THEN ({1 << i})::BIGINT ELSE 0 END" for i in range(63)
    ]
    terms.append(f"CASE WHEN s63 > 0 THEN ({_MIN_LONG})::BIGINT ELSE 0 END")
    return f"""
    WITH toks AS (
      SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS tok FROM {table}
    ), hashed AS (
      SELECT {id_col},
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS ha,
             ('0x' || substr(md5(tok), 16, 15))::BIGINT AS hb
      FROM toks
    ), sums AS (
      SELECT {id_col}, {', '.join(bit_exprs)}
      FROM hashed GROUP BY {id_col}
    )
    SELECT {id_col}, CAST({' + '.join(terms)} AS BIGINT) AS simhash FROM sums
    """


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Duplicate-cluster formation: transitive closure over near-dup pairs via
    iterative min-label propagation — every vertex converges to the smallest
    id reachable from it. Output: (doc_id, cluster_id).

    This is the step after candidate generation + verification in a real
    dedup pipeline (pairs alone under-merge: A~B, B~C must collapse to one
    cluster). Scale shape per iteration: one join of labels against the
    undirected edge list + a min-aggregate — all shuffles on vertex id, no
    driver-side graph. Iteration count is bounded by the cluster diameter
    (near-dup clusters are shallow; 50 covers pathological chains), and the
    loop exits early via a convergence check observed ON the checkpoint
    materialization itself (any changed label, as an Observation metric —
    no separate count job per round). DataFrames are localCheckpoint()ed
    each round to truncate lineage — the standard Spark
    iterative-algorithm pattern.

    SMALL-GRAPH FAST PATH (r17, guide §1.2): verified near-dup pairs are a
    tiny fraction of any batch (bounded by real duplication, not corpus
    size), yet every consumer paid the loop's per-iteration price — join +
    min-agg + eager localCheckpoint + convergence observation, 2-4 Spark
    jobs and their driver gaps even for a few hundred pairs. Up to
    ``plans.inspect.COLLECT_MAX_ROWS`` pairs (the shared limit-capped
    probe: ~1 MB of ids on the driver at the budget) the transitive
    closure now runs as ONE collect + a driver union-find with min-label
    union (the independent reference implementation the loop has always
    been pinned against) + a sorted local frame — the same (node, min
    reachable id) rows, deterministic order. Larger graphs, NULL ids, or
    non-integral/non-string id types fall through to the loop unchanged;
    equality of the two paths is pinned in
    tests/test_dedup_similarity.py (reference test + forced-loop A/B).
    """
    dtypes = dict(pairs.dtypes)
    if (
        dtypes.get(a_col) == dtypes.get(b_col)
        and dtypes.get(a_col)
        in ("tinyint", "smallint", "int", "bigint", "string")
    ):
        # lazy checkpoint BEFORE the probe (post-review r17): the probe
        # collect fully evaluates the pair-generation pipeline once, and
        # without the checkpoint an OVER-CAP graph would re-run that
        # pipeline (minhash/band self-join shuffles) a second time when
        # the fallback loop builds its edge list — the checkpoint makes
        # the fallback consume the probe's materialization instead, so
        # the worst-case path still evaluates pairs exactly once (what
        # the loop's edges.persist() always guaranteed pre-fast-path)
        pairs = pairs.select(
            F.col(a_col).alias(a_col), F.col(b_col).alias(b_col)
        ).localCheckpoint(eager=False)
        from ..plans.inspect import collect_at_most

        rows = collect_at_most(
            pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        )
        if rows is not None and all(
            r[0] is not None and r[1] is not None for r in rows
        ):
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:
                    parent[x], x = root, parent[x]
                return root

            for a, b in rows:
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra != rb:
                    # min-label union: the root is always the smallest id
                    # of its component (Python's int/str ordering matches
                    # Spark's — UTF8 binary order IS codepoint order),
                    # so find(n) below is exactly the loop's converged
                    # min-reachable label
                    if rb < ra:
                        ra, rb = rb, ra
                    parent[rb] = ra
            out = sorted((n, find(n)) for n in parent)
            from pyspark.sql import types as T

            id_type = pairs.schema[a_col].dataType
            return pairs.sparkSession.createDataFrame(
                out,
                T.StructType(
                    [
                        T.StructField("doc_id", id_type),
                        T.StructField("cluster_id", id_type),
                    ]
                ),
            )
        # NULL ids (kept as their own NULL-labeled rows by the loop's
        # join semantics) or an over-cap graph: the loop below is the
        # one implementation of record for those
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    from pyspark.sql import Observation

    for i in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
                (F.col("nmin") < F.col("label")).alias("__changed"),
            )
        )
        # the convergence check rides the checkpoint materialization as an
        # observed metric (r16 optimization, guide §1.2): the eager
        # localCheckpoint is already an action, so a separate
        # filter-limit-count job per iteration only re-read the checkpoint
        # to learn something the materialization pass saw go by.
        # max(bool) over no true rows is false-or-NULL either way → stop,
        # exactly the old count==0 decision.
        obs = Observation(f"cc_converged_{i}")
        new_labels = new_labels.observe(
            obs, F.max("__changed").alias("changed")
        ).localCheckpoint(eager=True)
        labels = new_labels.drop("__changed")
        if not obs.get["changed"]:
            break
    edges.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def neardup_sign_dims(n_rows: int, target_bucket_docs: int = 256) -> int:
    """Size the sign-bit blocking key from the corpus: enough bits that the
    EXPECTED bucket occupancy is ~``target_bucket_docs`` (per-bucket pair cost
    then stays ~target²/2 regardless of corpus size). Clamped to [4, 24]."""
    if n_rows <= 0:
        return 4
    return max(4, min(24, math.ceil(math.log2(max(n_rows / target_bucket_docs, 1.0)))))


def embedding_neardup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sign_dims: int | None = None,
    threshold: float = 0.25,
    target_bucket_docs: int = 256,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by sign-bit LSH.

    Blocking key = the sign bits of the first ``sign_dims`` components
    (axis-aligned hyperplanes — deterministic and oracle-portable). Pairs are
    generated only within a bucket (self-equi-join Catalyst shuffles on the
    bucket key — never O(n²) across the corpus), then exact cosine is
    computed and thresholded on the ROUNDED value so engine float noise can't
    flip boundary pairs.

    ``sign_dims=None`` (default) sizes the key FROM THE DATA via
    :func:`neardup_sign_dims` — ``n_rows`` if the caller knows it, else
    parquet footer metadata on a bare file scan, else one count() at plan
    time — so the per-bucket pair count stays ~``target_bucket_docs``²/2 at
    any corpus size (the round-1 fixed 16-bucket version went quadratic at
    scale). Residual per-bucket skew (sign bits are not uniform on real
    data) is AQE skew-join territory. Output: (id_a, id_b, cos_sim).
    """
    from ..plans.inspect import planning_row_count
    from .similarity import as_double, dot

    if sign_dims is None:
        sign_dims = neardup_sign_dims(
            planning_row_count(df, n_rows), target_bucket_docs
        )

    bucket = F.concat(
        *[
            F.when(F.col(vec_col)[i] >= 0, F.lit("1")).otherwise(F.lit("0"))
            for i in range(sign_dims)
        ]
    )
    # norm precomputed per ROW (1 dot per pair in the join instead of 3 —
    # sqrt(dot(v,v)) is bit-identical whether computed pre- or post-join, so
    # the oracle value is unchanged)
    base = df.select(
        F.col(id_col), as_double(vec_col).alias("v"), bucket.alias("bucket")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    a = base.select(
        F.col(id_col).alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"), "bucket",
    )
    b = base.select(
        F.col(id_col).alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"), "bucket",
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            d_round(
                dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _sig_matches(a: Column, b: Column) -> Column:
    """Number of agreeing MinHash positions — n_match/num_hashes is the
    standard unbiased Jaccard estimate; kept as an INTEGER count so the
    dup decision is an exact compare, never a float threshold."""
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda m: m))


def _spread_for_sig(df: DataFrame, id_col: str) -> DataFrame:
    """Signature hashing is CPU-bound; spread a one-file scan before it
    (spread key ≠ the sig groupBy key so the aggregation exchange — which
    downstream band joins reuse — survives; see minhash_candidates)."""
    from .partitioning import spread_narrow

    return spread_narrow(df, id_col)


def _minhash_sig_frame(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int, shingle_n: int
) -> DataFrame:
    """(id, sig array<long>): one shingle explode + one md5 per shingle,
    the modular seed family, per-seed minima in a single hash aggregation
    — minhash_candidates' plan, materialized as an array for the
    signature-agreement verifiers."""
    exploded = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("sh")
    ).select(id_col, (_base_hash(F.col("sh")) % MINHASH_PRIME).alias("hm"))
    return (
        exploded.groupBy(id_col)
        .agg(
            *[
                F.min(_seed_hash(F.col("hm"), j)).alias(f"h{j}")
                for j in range(num_hashes)
            ]
        )
        .select(
            id_col,
            F.array(*[F.col(f"h{j}") for j in range(num_hashes)]).alias("sig"),
        )
    )


def _banded_sig_frame(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """Explode a signature frame to (id, sig, band, band_key) LSH band rows."""
    rows_per_band = num_hashes // bands
    return sig.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "|",
                            *[
                                F.element_at("sig", b * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ],
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        id_col,
        "sig",
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def minhash_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_matches: int = 12,
) -> tuple[DataFrame, DataFrame]:
    """FUZZY decontamination: drop corpus docs that near-duplicate ANY
    benchmark/eval doc — the MinHash sibling of the exact n-gram
    `contamination_ngram` pass (paraphrased or lightly-edited benchmark
    leakage slips an exact n-gram join; banded signatures catch it).

    Scale shape: both sides get banded signatures (one shingle explode +
    md5 + modular family each), candidates come from a (band, band_key)
    equi-join — corpus shuffles once on band keys, never O(corpus ×
    benchmark) — and candidates are verified by integer signature
    agreement (``min_matches`` of ``num_hashes``, the same estimator the
    incremental near-dup loop uses). The benchmark side is typically tiny
    (eval suites), so at 100 TB the band join is effectively a broadcast
    probe of the corpus band stream.

    Returns ``(clean_rows, contaminated)`` where ``contaminated`` is
    ``(id, n_match)`` — max agreement against any benchmark doc, for audit.
    """
    corpus = _spread_for_sig(corpus, id_col)
    c_banded = _banded_sig_frame(
        _minhash_sig_frame(corpus, text_col, id_col, num_hashes, shingle_n),
        id_col,
        num_hashes,
        bands,
    )
    b_banded = _banded_sig_frame(
        _minhash_sig_frame(benchmark, text_col, id_col, num_hashes, shingle_n),
        id_col,
        num_hashes,
        bands,
    ).select("band", "band_key", F.col("sig").alias("b_sig"))
    contaminated = (
        c_banded.join(b_banded, on=["band", "band_key"])
        .select(
            F.col(id_col),
            _sig_matches(F.col("sig"), F.col("b_sig")).alias("nm"),
        )
        .where(F.col("nm") >= min_matches)
        .groupBy(id_col)
        .agg(F.max("nm").alias("n_match"))
    )
    clean = corpus.join(contaminated, on=id_col, how="left_anti")
    return clean, contaminated


def incremental_minhash_dedup(
    batch: DataFrame,
    seen_bands: DataFrame | None,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    min_matches: int = 12,
    claim: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental NEAR-dup dedup: the continuous-crawl analog of
    :func:`incremental_dedup` for fuzzy duplicates — each batch is deduped
    against a persisted MinHash BAND INDEX, never against the corpus.

    ``seen_bands`` is the state table ``(band, band_key, doc_id, sig)``
    persisted through the bucket-pruned merge sink (``merge_key:
    [doc_id, band]`` — insert-only rows, each batch rewrite touches only
    the key-hash buckets its fingerprints land in). Per batch:

    * signatures: one shingle explode + md5 + modular family + per-seed min
      aggregate (exactly :func:`minhash_candidates`'s plan);
    * WITHIN-batch candidates from a band self-join, verified by signature
      agreement (``n_match >= min_matches`` of ``num_hashes`` — the
      integer form of a Jaccard threshold, e.g. 12/16 ≈ 0.75);
    * AGAINST-state candidates from a ``(band, band_key)`` equi-join of the
      batch's band rows against the index — at scale both sides hash on
      the same key the state layout buckets by; verified the same way;
    * batch docs cluster over verified within-batch pairs
      (:func:`connected_components`; singletons are their own cluster). A
      cluster with ANY member near a state doc is dropped whole (its
      content is already represented); otherwise the min-id member
      survives.

    Returns ``(novel_rows, band_delta)`` where ``band_delta`` holds the
    SURVIVORS' band rows + signatures to merge into the index. Re-ingesting
    an already-absorbed batch is a content-level no-op: every doc matches
    its own indexed signature (n_match = num_hashes) and every cluster is
    state-hit.

    ``claim`` (streaming exactly-once, same contract as
    :func:`incremental_dedup`): a literal tagging the ingestion unit. The
    delta carries it as ``claim_batch``, and the against-state lookup
    IGNORES index rows whose ``claim_batch`` equals this batch's — on a
    retry whose state merge already committed, that filter reconstructs
    exactly the pre-batch state view (original runs never see their own
    claim: unit ids are unique), so the survivor set — and therefore the
    per-batch idempotent corpus write — reproduces bit-for-bit instead of
    collapsing to empty and losing the batch.

    Estimator caveat (documented, standard): band candidacy is a recall
    filter; signature agreement is an ESTIMATE of Jaccard, so borderline
    near-dups can differ from an exact-Jaccard verdict either way.
    """
    batch = _spread_for_sig(batch, id_col)
    sig = _minhash_sig_frame(batch, text_col, id_col, num_hashes, shingle_n)
    # Materialize the batch's signature frame ONCE (r16 optimization,
    # guide §1.2 — the image sibling's discipline): the banded self-join's
    # two sides, the against-state probe, membership, and both returned
    # frames all re-reference it, and each downstream action would
    # otherwise re-run the shingle explode + 16-seed min aggregate (the
    # increment's dominant shuffle). (id, sig) is KBs per batch;
    # localCheckpoint truncates lineage and the ContextCleaner reclaims
    # the blocks when the returned frames drop.
    sig = sig.localCheckpoint(eager=True)
    banded = _banded_sig_frame(sig, id_col, num_hashes, bands)

    a, b = banded.alias("a"), banded.alias("b")
    within = (
        a.join(b, on=["band", "band_key"])
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .where(_sig_matches(F.col("sig_a"), F.col("sig_b")) >= min_matches)
        .select("id_a", "id_b")
    )
    if seen_bands is None:
        state_dups = batch.select(F.col(id_col)).limit(0)
    else:
        if claim is not None:
            seen_bands = seen_bands.where(F.col("claim_batch") != claim)
        st = seen_bands.select(
            "band",
            "band_key",
            F.col("sig").alias("st_sig"),
        )
        state_dups = (
            banded.join(st, on=["band", "band_key"])
            .where(_sig_matches(F.col("sig"), F.col("st_sig")) >= min_matches)
            .select(id_col)
            .distinct()
        )

    clusters = connected_components(within, "id_a", "id_b").select(
        F.col("doc_id").alias(id_col), "cluster_id"
    )
    membership = sig.select(id_col).join(clusters, on=id_col, how="left").select(
        id_col, F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id")
    )
    dead_clusters = (
        membership.join(state_dups, on=id_col, how="left_semi")
        .select("cluster_id")
        .distinct()
    )
    survivors = (
        membership.join(dead_clusters, on="cluster_id", how="left_anti")
        .where(F.col(id_col) == F.col("cluster_id"))
        .select(id_col)
    )
    novel_rows = batch.join(survivors, on=id_col, how="left_semi")
    band_delta = banded.join(survivors, on=id_col, how="left_semi").select(
        "band", "band_key", id_col, "sig"
    )
    if claim is not None:
        band_delta = band_delta.withColumn("claim_batch", claim)
    return novel_rows, band_delta


def semantic_dedup_k(n_rows: int, target_cluster_docs: int = 1024) -> int:
    """Corpus-sized cluster count for :func:`semantic_dedup` (the
    :func:`neardup_sign_dims` discipline applied to k-means): enough
    clusters that EXPECTED occupancy is ~``target_cluster_docs``, so the
    within-cluster pairwise join costs ~target²/2 per cluster regardless of
    corpus size. A FIXED k is a scale-killer (VERDICT r4): at 100× data each
    cluster holds 100× more docs and the O((n/k)²) compare explodes.
    Clamped to [16, 65536] — the ceiling keeps the broadcast centroid table
    (k × dim doubles; 65536 × 768-dim ≈ 400 MB is the practical broadcast
    limit) and the k·dim update exchange bounded. Beyond ~67M docs
    (cap × target) occupancy grows linearly again: that regime needs a
    larger ``target_cluster_docs`` or two-level clustering (assign to a
    coarse centroid first, then train per-coarse-cell codebooks the way
    :func:`...similarity.kmeans_train` does per-group PQ) — see SCALING
    §10."""
    if n_rows <= 0:
        return 16
    return max(16, min(65_536, math.ceil(n_rows / target_cluster_docs)))


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int | None = None,
    iters: int = 2,
    threshold_micro: int = 250_000,
    target_cluster_docs: int = 1024,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster embeddings with the
    deterministic k-means trainer, then FIRST-WINS cosine dedup WITHIN each
    cluster — a doc is dropped iff some lower-id doc in the same cluster has
    cosine ≥ threshold (micro-units). Returns survivors ``(id, cid)``.

    This is the standard recipe for semantic dedup at pretraining scale
    (cluster first so the quadratic compare is bounded per cluster, never
    O(n²) over the corpus — the clustering plays the role MinHash bands
    play for lexical near-dup):

    * training + assignment reuse :func:`...similarity.kmeans_train`'s
      broadcast-centroid argmax-aggregate plan (corpus shuffles carry one
      row per vector);
    * the within-cluster self-join shuffles on cluster id; per-cluster
      volume is corpus/k on average — ``k=None`` (the default) sizes k from
      the corpus via :func:`semantic_dedup_k` so occupancy stays
      ~``target_cluster_docs`` at any scale (an explicit ``k`` pins it, e.g.
      to keep a static oracle); skewed HOT clusters are AQE skew-join
      territory — the join is a plain cluster-id equi-join, so
      ``spark.sql.adaptive.skewJoin`` splits an oversized cluster's
      partition at runtime (measured in
      ``tests/test_scale_guards.py::test_semantic_dedup_hot_cluster_aqe_skew_split``);
    * first-wins (min id survives) needs no connected components: "similar
      to ANY lower id" is a single join predicate, deterministic, and
      mirrors C4-style span-dedup semantics.

    Exactmath: assignment cosines round through ``d_round(.., 6)`` and the
    dedup threshold compares ``floor(cos·10⁶ + 0.5)`` against an INTEGER —
    both bit-portable to DuckDB, so the trained pipeline carries a full
    value-hash oracle (:func:`...similarity.semantic_dedup_oracle_sql`).
    """
    from ..exactmath import d_round
    from .similarity import as_double, dot, kmeans_train

    base = df.select(F.col(id_col), as_double(vec_col).alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    if k is None:
        # planning-time SCALAR: caller-supplied n_rows > parquet footer
        # metadata > a count aggregate (VERDICT r5 item 4 — the auto-k path
        # on a file-backed corpus must not cost an extra full scan)
        from ..plans.inspect import planning_row_count

        k = semantic_dedup_k(planning_row_count(df, n_rows), target_cluster_docs)
    cents = kmeans_train(base, id_col, "v", k=k, iters=iters).withColumn(
        "cn", F.sqrt(dot(F.col("cv"), F.col("cv")))
    )
    sims = base.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        "v",
        "nrm",
        "cid",
        d_round(
            dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 6
        ).alias("csim"),
    )
    assigned = (
        sims.groupBy(id_col)
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
            F.col(id_col),
            F.col("m.cid").alias("cid"),
            F.col("m.v").alias("v"),
            F.col("m.nrm").alias("nrm"),
        )
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    pair_cos = F.floor(
        dot(F.col("a.v"), F.col("b.v"))
        / (F.col("a.nrm") * F.col("b.nrm"))
        * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    dups = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(pair_cos >= threshold_micro)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )
    return assigned.join(dups, on=id_col, how="left_anti").select(id_col, "cid")


def two_level_k(n_rows: int, target_cluster_docs: int = 1024) -> int:
    """Per-level cluster count for :func:`semantic_dedup_two_level`:
    ``coarse_k == sub_k == ceil(sqrt(n/target))`` gives ~n/target LEAF
    clusters (occupancy ~target) while each level's broadcast table stays
    √-scale — the construction that covers the regime past
    :func:`semantic_dedup_k`'s flat cap (65536² leaves ≫ any corpus).
    Clamped to [2, 65536] per level."""
    if n_rows <= 0:
        return 2
    return max(2, min(65_536, math.ceil(math.sqrt(n_rows / target_cluster_docs))))


def semantic_dedup_two_level(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_k: int | None = None,
    sub_k: int | None = None,
    iters: int = 2,
    threshold_micro: int = 250_000,
    target_cluster_docs: int = 1024,
    n_rows: int | None = None,
) -> DataFrame:
    """Two-level SemDeDup for the regime past the flat-k broadcast cap
    (SCALING §4): coarse k-means cells first (broadcast ``coarse_k``
    centroids, cosine assignment — the same plan shape as
    :func:`semantic_dedup`), then INDEPENDENT per-cell sub-clusterings
    trained in ONE grouped pass (``kmeans_train(group_cols=("cell",))`` —
    the machinery that already trains per-subspace PQ codebooks), and
    first-wins cosine dedup within each (cell, sub-cluster) leaf. Returns
    survivors ``(id, cell, scid)``.

    Scale shape: a flat k is capped at 65536 by the broadcast centroid
    table, so past ~67M docs occupancy grows linearly again
    (:func:`semantic_dedup_k`). Splitting the same leaf count across two
    levels needs only √leaves centroids per level — coarse assignment
    broadcasts ``coarse_k × dim`` doubles, the sub-level broadcasts
    ``coarse_k·sub_k × dim`` (bounded by the SAME ceiling but now covering
    its square in leaves), every join is an equi-join on (cell) or
    (cell, scid), and the grouped trainer's exchanges carry one row per
    vector (assign) / ``cells·sub_k·dim`` rows (update). Defaults size
    both levels from the corpus via :func:`two_level_k`.

    Exactmath end to end (scaled-integer means, micro-unit cosine
    threshold, deterministic row_number-per-cell init), so the whole
    two-level pipeline unrolls into a portable DuckDB oracle
    (:func:`...similarity.semantic_dedup_two_level_oracle_sql`)."""
    from .similarity import as_double, dot

    base = df.select(F.col(id_col), as_double(vec_col).alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    if coarse_k is None or sub_k is None:
        from ..plans.inspect import planning_row_count

        auto = two_level_k(planning_row_count(df, n_rows), target_cluster_docs)
        coarse_k = coarse_k if coarse_k is not None else auto
        sub_k = sub_k if sub_k is not None else auto

    sub_assigned, _coarse, _subc = _two_level_train_assign(
        base, id_col, coarse_k, sub_k, iters
    )
    dups = _leaf_dups(sub_assigned, id_col, threshold_micro)
    return sub_assigned.join(dups, on=id_col, how="left_anti").select(
        id_col, "cell", "scid"
    )


def _coarse_assign(base: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Cosine argmax of ``base(id, v, nrm)`` against a BROADCAST coarse
    centroid table ``(cid, cv)`` → ``(id, cell, v, nrm)`` — the exchange
    carries one row per vector (identical plan shape to semantic_dedup's
    assignment, shared by training and assign-only increments so the two
    paths are bit-identical by construction)."""
    from ..exactmath import d_round
    from .similarity import dot

    cents = cents.select("cid", "cv").withColumn(
        "cn", F.sqrt(dot(F.col("cv"), F.col("cv")))
    )
    sims = base.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        "v",
        "nrm",
        F.col("cid").alias("cell"),
        d_round(
            dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 6
        ).alias("csim"),
    )
    return (
        sims.groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("csim"),
                    (-F.col("cell")).alias("ncell"),
                    F.col("cell"),
                    F.col("v"),
                    F.col("nrm"),
                )
            ).alias("m")
        )
        .select(
            F.col(id_col),
            F.col("m.cell").alias("cell"),
            F.col("m.v").alias("v"),
            F.col("m.nrm").alias("nrm"),
        )
    )


def _sub_assign(assigned: DataFrame, subc: DataFrame, id_col: str) -> DataFrame:
    """L2 argmin of cell-assigned vectors against the BROADCAST per-cell
    sub-centroid table ``(cell, cid, cv)`` → ``(id, cell, scid, v, nrm)``."""
    from .similarity import dot

    d = (
        dot(F.col("v"), F.col("v"))
        - F.lit(2.0) * dot(F.col("v"), F.col("cv"))
        + dot(F.col("cv"), F.col("cv"))
    )
    return (
        assigned.join(F.broadcast(subc), "cell")
        .select(id_col, "cell", "v", "nrm", "cid", d.alias("d"))
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    (-F.col("d")).alias("nd"),
                    (-F.col("cid")).alias("nc"),
                    F.col("cid").alias("scid"),
                    F.col("cell"),
                    F.col("v"),
                    F.col("nrm"),
                )
            ).alias("m")
        )
        .select(
            F.col(id_col),
            F.col("m.cell").alias("cell"),
            F.col("m.scid").alias("scid"),
            F.col("m.v").alias("v"),
            F.col("m.nrm").alias("nrm"),
        )
    )


def _two_level_train_assign(
    base: DataFrame,
    id_col: str,
    coarse_k: int,
    sub_k: int,
    iters: int,
    coarse_train_filter=None,
):
    """Shared two-level machinery: coarse train + cosine cell assignment +
    grouped per-cell sub-training + L2 leaf assignment. Returns
    ``(sub_assigned(id, cell, scid, v, nrm), coarse(cid, cv),
    subc(cell, cid, cv))`` with ``sub_assigned`` checkpointed (it feeds
    multiple downstream references). ``coarse_train_filter=F.lit(True)``
    selects the row_number init for incremental batches whose ids don't
    start at 0 (the flat ``id < k`` init would under-seed them)."""
    from .similarity import kmeans_train

    # LEVEL 1 — coarse cells: cosine argmax against broadcast centroids,
    # exchange carries one row per vector (identical to semantic_dedup)
    coarse = kmeans_train(
        base,
        id_col,
        "v",
        k=coarse_k,
        iters=iters,
        train_filter=coarse_train_filter,
    )
    assigned = _coarse_assign(base, coarse, id_col)

    # Materialize the coarse assignment before the sub-trainer: it feeds the
    # init + every grouped iteration + the final assignment — without the
    # cut, each reference replays the coarse crossJoin/aggregate and the
    # compound plan's analysis cost alone dominates (measured 17 s → 5 s at
    # sf0.1). Same executor-storage materialization the trainers' own
    # per-iteration checkpoints use; one corpus-sized frame, standard for
    # iterative pipelines.
    assigned = assigned.localCheckpoint(eager=True)

    # LEVEL 2 — per-cell sub-centroids, ALL cells in one grouped pass.
    # train_filter=lit(True) selects the row_number-per-group init (ids
    # inside a cell are arbitrary, so the flat `id < k` init can't seed it).
    subc = kmeans_train(
        assigned,
        id_col,
        "v",
        k=sub_k,
        iters=iters,
        group_cols=("cell",),
        train_filter=F.lit(True),
    )
    sub_assigned = _sub_assign(assigned, subc, id_col)

    # sub_assigned is referenced several times downstream (both pair-join
    # sides + the surviving-rows anti-join) — cut once more.
    return sub_assigned.localCheckpoint(eager=True), coarse, subc


def _leaf_dups(sub_assigned: DataFrame, id_col: str, threshold_micro: int) -> DataFrame:
    """First-wins dedup within each LEAF (cell, scid) — the quadratic is
    bounded by leaf occupancy ~target_cluster_docs at any corpus size.
    Returns the dropped ids (distinct)."""
    from .similarity import dot

    a, b = sub_assigned.alias("a"), sub_assigned.alias("b")
    pair_cos = F.floor(
        dot(F.col("a.v"), F.col("b.v"))
        / (F.col("a.nrm") * F.col("b.nrm"))
        * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.scid") == F.col("b.scid"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(pair_cos >= threshold_micro)
        .select(F.col(f"b.{id_col}").alias(id_col))
        .distinct()
    )


def incremental_semantic_dedup_two_level(
    batch: DataFrame,
    state: DataFrame | None,
    centroids: tuple[DataFrame, DataFrame] | None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    coarse_k: int | None = None,
    sub_k: int | None = None,
    iters: int = 2,
    threshold_micro: int = 250_000,
    target_cluster_docs: int = 1024,
    claim: Column | None = None,
    n_rows: int | None = None,
) -> tuple[DataFrame, DataFrame, tuple[DataFrame, DataFrame] | None]:
    """Two-level incremental SemDeDup (VERDICT r5 item 3) — the composition
    of :func:`semantic_dedup_two_level`'s √k×√k layout with
    :func:`incremental_semantic_dedup`'s persisted-state machinery, for the
    continuous-crawl loop past flat-k's 65536 broadcast cap.

    * ``centroids`` is the persisted TWO-LEVEL table pair
      ``(coarse(cid, cv), sub(cell, cid, cv))``. ``None`` (first increment)
      trains both levels on the batch (coarse via the row_number init — an
      increment's ids are arbitrary) and returns the pair for the caller to
      persist; every later increment assigns AGAINST THE STORED PAIR —
      coarse cosine argmax, then per-cell L2 argmin, both broadcast joins —
      and never retrains (leaf ids stay stable across increments, which is
      what makes the state joinable).
    * ``state`` is the survivor table ``(cell, scid, vec_id, v, nrm)``
      persisted through the bucket-pruned merge sink; per increment it is
      equi-joined on the LEAF key (cell, scid) — cost O(batch ×
      state-in-shared-leaves), never O(corpus²), and a √k×√k tree keeps
      leaf occupancy ~target_cluster_docs at any corpus size.
    * first-wins: a batch doc survives iff NO lower-id batch doc and NO
      state survivor shares its leaf at cosine ≥ ``threshold_micro``.

    ``claim`` follows the :func:`incremental_semantic_dedup` exactly-once
    contract (retried increments ignore their own committed state rows).
    Returns ``(novel(id, cell, scid), state_delta(cell, scid, id, v, nrm),
    trained_pair_or_None)``; the two-increment pipeline unrolls into a full
    value-hash oracle (catalog ``semantic_dedup_two_level_incremental_state``)."""
    from .similarity import as_double, dot

    base = batch.select(F.col(id_col), as_double(vec_col).alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    trained = None
    if centroids is None:
        if coarse_k is None or sub_k is None:
            from ..plans.inspect import planning_row_count

            auto = two_level_k(
                planning_row_count(batch, n_rows), target_cluster_docs
            )
            coarse_k = coarse_k if coarse_k is not None else auto
            sub_k = sub_k if sub_k is not None else auto
        sub_assigned, coarse, subc = _two_level_train_assign(
            base, id_col, coarse_k, sub_k, iters, coarse_train_filter=F.lit(True)
        )
        trained = (coarse, subc)
    else:
        coarse, subc = centroids
        # ASSIGN-ONLY steady state: two broadcast joins, no k-means jobs —
        # plan-guarded in tests/test_plan_quality.py. Materialized once
        # (r16, guide §1.2): the leaf self-join's two sides, the
        # against-state probe, and the novel anti-join all re-reference
        # the assignment — the train branch already checkpoints it inside
        # _two_level_train_assign, this makes the steady-state branch
        # match.
        sub_assigned = _sub_assign(
            _coarse_assign(base, coarse, id_col), subc.select("cell", "cid", "cv"), id_col
        ).localCheckpoint(eager=True)

    def _cos_ge(a_v, a_n, b_v, b_n):
        return (
            F.floor(dot(a_v, b_v) / (a_n * b_n) * 1_000_000 + F.lit(0.5)).cast(
                "long"
            )
            >= threshold_micro
        )

    dups = _leaf_dups(sub_assigned, id_col, threshold_micro)
    if state is not None:
        if claim is not None:
            state = state.where(F.col("claim_batch") != claim)
        st = state.select(
            F.col("cell").alias("s_cell"),
            F.col("scid").alias("s_scid"),
            F.col("v").alias("s_v"),
            F.col("nrm").alias("s_nrm"),
        )
        vs_state = (
            sub_assigned.alias("n")
            .join(
                st,
                (F.col("n.cell") == F.col("s_cell"))
                & (F.col("n.scid") == F.col("s_scid")),
            )
            .where(
                _cos_ge(
                    F.col("s_v"), F.col("s_nrm"), F.col("n.v"), F.col("n.nrm")
                )
            )
            .select(F.col(f"n.{id_col}").alias(id_col))
        )
        dups = dups.unionByName(vs_state).distinct()
    novel = sub_assigned.join(dups, on=id_col, how="left_anti")
    delta = novel.select("cell", "scid", F.col(id_col), "v", "nrm")
    if claim is not None:
        delta = delta.withColumn("claim_batch", claim)
    return novel.select(id_col, "cell", "scid"), delta, trained


def incremental_semantic_dedup(
    batch: DataFrame,
    state: DataFrame | None,
    centroids: DataFrame | None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int | None = None,
    iters: int = 2,
    threshold_micro: int = 250_000,
    target_cluster_docs: int = 1024,
    claim: Column | None = None,
    n_rows: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """Incremental SemDeDup — the semantic sibling of
    :func:`incremental_minhash_dedup`, for the continuous-crawl loop at
    100 TB: new embedding batches dedup against a PERSISTED survivor state
    without ever re-touching (or re-clustering) the corpus.

    * ``centroids`` is the persisted trained centroid table ``(cid, cv)``.
      ``None`` (first increment) trains on the batch via
      :func:`...similarity.kmeans_train` (``k=None`` → corpus-sized through
      :func:`semantic_dedup_k`) and RETURNS the table for the caller to
      persist — every later increment assigns against the broadcast stored
      table and never retrains (the assign-only steady-state discipline the
      trained-ANN path established; cluster ids stay stable across
      increments, which is what makes the state joinable at all).
    * ``state`` is the survivor table ``(cell, vec_id, v, nrm)`` persisted
      through the bucket-pruned merge sink keyed ``(vec_id, cell)``; per
      increment it is read once and equi-joined on ``cell`` — cost
      O(batch × state-in-shared-cells), never O(corpus²).
    * a batch doc survives iff NO lower-id batch doc in its cell and NO
      state survivor in its cell has cosine ≥ ``threshold_micro``
      (first-wins, earlier increments always outrank later ones).

    ``claim`` (streaming exactly-once, the :func:`incremental_dedup` /
    :func:`incremental_minhash_dedup` contract): a literal tagging the
    ingestion unit; the delta carries it as ``claim_batch`` and the
    against-state check ignores state rows carrying THIS unit's claim, so
    a retry whose state merge already committed reconstructs its survivor
    set (and its idempotent corpus write) instead of self-colliding to
    empty.

    Returns ``(novel, state_delta, trained_centroids_or_None)``: ``novel``
    is ``(id, cell)`` for surviving batch docs, ``state_delta`` carries
    ``(cell, id, v, nrm)`` to merge into the state, and the third element
    is the centroid table to persist when this call trained one.
    Exactmath throughout — the two-increment pipeline unrolls into a full
    value-hash oracle (catalog ``semantic_dedup_incremental_state``)."""
    from ..exactmath import d_round
    from .similarity import as_double, dot, kmeans_train

    base = batch.select(F.col(id_col), as_double(vec_col).alias("v")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    trained = None
    if centroids is None:
        if k is None:
            from ..plans.inspect import planning_row_count

            k = semantic_dedup_k(
                planning_row_count(batch, n_rows), target_cluster_docs
            )
        # train_filter selects the row_number-seeded init: an increment's
        # ids are arbitrary (the flat `id < k` init would seed nothing for
        # a batch whose ids start above k). The seeding window sorts only
        # the TRAINING set — one bounded increment here, never a corpus.
        trained = kmeans_train(
            base, id_col, "v", k=k, iters=iters, train_filter=F.lit(True)
        )
        cents = trained
    else:
        cents = centroids.select("cid", "cv")
    cents = cents.withColumn("cn", F.sqrt(dot(F.col("cv"), F.col("cv"))))
    sims = base.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        "v",
        "nrm",
        F.col("cid").alias("cell"),
        d_round(
            dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 6
        ).alias("csim"),
    )
    assigned = (
        sims.groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    F.col("csim"),
                    (-F.col("cell")).alias("ncell"),
                    F.col("cell"),
                    F.col("v"),
                    F.col("nrm"),
                )
            ).alias("m")
        )
        .select(
            F.col(id_col),
            F.col("m.cell").alias("cell"),
            F.col("m.v").alias("v"),
            F.col("m.nrm").alias("nrm"),
        )
    )
    # Materialize the assignment ONCE (r16 optimization, guide §1.2 — the
    # minhash/image siblings' discipline): the within-cell self-join's two
    # sides, the against-state probe, and the novel anti-join all
    # re-reference `assigned`, and each downstream action would otherwise
    # re-run the broadcast-centroid argmax over the batch (its dominant
    # shuffle). One batch's (id, cell, v, nrm) rows; lineage truncated,
    # blocks reclaimed by the ContextCleaner when the returned frames drop.
    assigned = assigned.localCheckpoint(eager=True)

    def _cos_ge(a_v, a_n, b_v, b_n):
        return (
            F.floor(dot(a_v, b_v) / (a_n * b_n) * 1_000_000 + F.lit(0.5)).cast(
                "long"
            )
            >= threshold_micro
        )

    a, b = assigned.alias("a"), assigned.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .where(_cos_ge(F.col("a.v"), F.col("a.nrm"), F.col("b.v"), F.col("b.nrm")))
        .select(F.col(f"b.{id_col}").alias(id_col))
    )
    dups = within
    if state is not None:
        if claim is not None:
            state = state.where(F.col("claim_batch") != claim)
        st = state.select(
            F.col("cell").alias("s_cell"),
            F.col("v").alias("s_v"),
            F.col("nrm").alias("s_nrm"),
        )
        vs_state = (
            assigned.alias("n")
            .join(st, F.col("n.cell") == F.col("s_cell"))
            .where(
                _cos_ge(
                    F.col("s_v"), F.col("s_nrm"), F.col("n.v"), F.col("n.nrm")
                )
            )
            .select(F.col(f"n.{id_col}").alias(id_col))
        )
        dups = dups.unionByName(vs_state)
    novel = assigned.join(dups.distinct(), on=id_col, how="left_anti")
    delta = novel.select("cell", F.col(id_col), "v", "nrm")
    if claim is not None:
        delta = delta.withColumn("claim_batch", claim)
    return novel.select(id_col, "cell"), delta, trained


def reassign_semantic_state(state: DataFrame, centroids: DataFrame) -> DataFrame:
    """Centroid-drift migration for the incremental SemDeDup loop: one pass
    re-assigning every persisted survivor to NEW centroids (offline retrain
    on a sample → this → write the result as a fresh merge state; the same
    full-rewrite shape as the merge sink's schema-evolution migration).
    Broadcast argmax-cosine assignment — identical tie-breaks to the hot
    loop, so re-running with the OLD centroids is a bit-exact no-op (the
    migration-safety property the test pins). Cost: one corpus-of-survivors
    scan + a broadcast join; no pairwise work (survivors were already
    mutually deduped — migration moves labels, not membership)."""
    from ..exactmath import d_round
    from .similarity import dot

    cents = centroids.select("cid", "cv").withColumn(
        "cn", F.sqrt(dot(F.col("cv"), F.col("cv")))
    )
    keep = [c for c in state.columns if c != "cell"]
    sims = state.drop("cell").crossJoin(F.broadcast(cents)).select(
        *keep,
        F.col("cid").alias("cell"),
        d_round(
            dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn")), 6
        ).alias("csim"),
    )
    return (
        sims.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("csim"),
                    (-F.col("cell")).alias("ncell"),
                    F.col("cell"),
                    *[F.col(c) for c in keep if c != "vec_id"],
                )
            ).alias("m")
        )
        .select(
            "vec_id",
            F.col("m.cell").alias("cell"),
            *[F.col(f"m.{c}").alias(c) for c in keep if c != "vec_id"],
        )
        .select("cell", *keep)
    )
