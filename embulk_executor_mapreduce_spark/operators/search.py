"""Ranked retrieval over the corpus: BM25 scoring (Robertson et al.,
"Okapi at TREC-3", 1995 — the default lexical ranking function in Lucene/
Elasticsearch) — the USE side of the inverted-index family
(``inverted_index_postings`` builds the structure, ``phrase_search`` does
boolean matching; this ranks).

Why a training-data pipeline wants it at 100 TB: retrieval-based quality
filtering, decontamination-by-retrieval (find near-matches of benchmark
questions), and hard-negative mining all reduce to "score the corpus
against a small query term set" — a job whose cost must scale with the
matching postings, never the corpus vocabulary.

Scale shape (the engine's standard discipline):

* the corpus-sized work is ONE token explode; the tf branch filters to
  the QUERY terms before its aggregate, so its exchange carries only
  matching (doc, term) rows;
* document lengths are a second linear aggregate (in a standing
  deployment ``dl`` is a precomputed column — accept it via ``doc_lens``
  to skip that scan);
* per-term document frequencies and the (N, Σdl) stats are
  candidate-bounded / 1-row frames, broadcast;
* the final top-k is a TakeOrdered — no global sort, no single-partition
  window.

Float discipline (exactmath): the per-(doc, term) contribution is
computed from integer counts through a FIXED parenthesization of IEEE
add/mul/div (deterministic cross-engine), floored to integer micro-units,
and the per-doc score is a BIGINT sum — summation-order-proof, so the
DuckDB oracle replays the value hash exactly. The IDF is the RATIONAL
Robertson–Spärck-Jones core ``(N - df + 0.5) / (df + 0.5)`` without the
usual ``ln`` dampening: ``ln`` is not an IEEE correctly-rounded
operation, so its low bits may differ across engines and no value-hash
oracle could pin it. The rational form is itself a member of the IDF
family (the undamped RSJ odds ratio), but NOT a drop-in ranking
equivalent: rankings agree with log-BM25 for single-term queries and when
the query terms have similar document frequencies; for multi-term queries
over terms of very different rarity the undamped form over-weights the
rare term (its IDF grows linearly rather than logarithmically in N/df),
so a document matching one rare term can outrank one matching several
moderately-rare terms where standard BM25 orders them the other way (r14
advisor finding). Callers who need standard BM25 behavior — e.g.
decontamination or hard-negative mining tuned against Lucene-style
scores — and don't need cross-engine bit-equality pass ``idf="lucene"``
(r15, VERDICT r14 item 5): the ``ln``-dampened Lucene form
``ln((N - df + 0.5)/(df + 0.5) + 1)``, available on :func:`bm25_topk`,
:func:`bm25_topk_indexed` and :func:`bm25_batch_topk_indexed` through
the shared :func:`_bm25_contrib`, so indexed ≡ inline holds under either
IDF. The Lucene variant is verified at RANK level (ordered top-k ids),
never by value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: tombstone marker the postings index threads through the merge sink's
#: keyed-DELETE machinery (a doc update retires its dropped terms; a doc
#: delete retires every posting) — see sinks/writer.py
POSTINGS_DELETE_COL = "_deleted"


def _bm25_contrib(idf: str = "rational") -> F.Column:
    """The per-(doc, term) BM25 contribution in integer micro-units —
    ONE definition of the float-discipline-critical expression (the FIXED
    IEEE parenthesization both the inline scorer and the indexed prober
    must share bit-for-bit; a drifted copy would silently break the
    'indexed ≡ inline' pin the serving row relies on). Expects columns
    ``n, df, tf, dl, sumdl``; k1 = 1.2, b = 0.75.

    ``idf`` (r15, VERDICT r14 item 5): ``"rational"`` (default) is the
    undamped RSJ odds ratio — cross-engine hash-pinnable, but over-weights
    very rare terms in mixed-rarity multi-term queries (module docstring);
    ``"lucene"`` is the standard ``ln``-dampened form
    ``ln((N - df + 0.5)/(df + 0.5) + 1)`` for callers tuning against
    Lucene-style scores — ``ln`` is not IEEE correctly-rounded, so this
    variant is verified at RANK level, never by value hash."""
    if idf == "rational":
        idf_factor = (F.col("n") - F.col("df") + F.lit(0.5)) / (
            F.col("df") + F.lit(0.5)
        )
    elif idf == "lucene":
        idf_factor = F.log(
            (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        )
    else:
        from ..errors import ConfigError

        raise ConfigError(f"idf must be 'rational' or 'lucene', got {idf!r}")
    return (
        idf_factor
        * (
            (F.col("tf") * F.lit(2.2))
            / (
                F.col("tf")
                + F.lit(1.2)
                * (
                    F.lit(0.25)
                    + F.lit(0.75)
                    * (F.col("dl") * F.col("n"))
                    / F.col("sumdl")
                )
            )
        )
        * F.lit(1_000_000.0)
        + F.lit(0.5)
    )


def _bm25_rank(
    scored_terms: DataFrame, id_col: str, k: int, idf: str = "rational"
) -> DataFrame:
    """Shared scoring tail: floor each contribution to BIGINT micro-units,
    sum per doc (summation-order-proof), TakeOrdered top-k. Input must
    carry ``id_col`` plus the ``n, df, tf, dl, sumdl`` contrib columns."""
    return (
        scored_terms.select(
            F.col(id_col),
            F.floor(_bm25_contrib(idf)).cast("long").alias("c"),
        )
        .groupBy(id_col)
        .agg(F.sum("c").alias("smicro"))
        .orderBy(F.col("smicro").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col, (F.col("smicro") / F.lit(1_000_000.0)).alias("bm25")
        )
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    doc_lens: DataFrame | None = None,
    idf: str = "rational",
) -> DataFrame:
    """Top-``k`` documents by BM25 against ``query_terms`` (k1 = 1.2,
    b = 0.75 — the standard constants; ``idf`` picks the rational
    hash-pinnable form or the Lucene ``ln`` form, see
    :func:`_bm25_contrib`). Returns ``(doc_id, bm25)`` with bm25 in
    exact micro-units / 1e6.

    ``doc_lens``: an optional precomputed ``(id_col, dl)`` table (the
    standing-deployment path — length is a write-time column); omitted,
    one linear aggregate computes it."""
    from .text import tokens

    tok = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    if doc_lens is None:
        dl = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    else:
        dl = doc_lens.select(id_col, "dl")
    stats = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sumdl")
    )
    tf = (
        tok.filter(F.col("term").isin(*query_terms))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # contrib parenthesization is _bm25_contrib — the DuckDB oracle
    # mirrors it token-for-token and the indexed prober shares it
    return _bm25_rank(
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats)),
        id_col,
        k,
        idf,
    )


def _postings_sink(index_root: str, merge_buckets: int):
    """The postings state's sink spec — keyed (term, doc_id), BUCKETED BY
    TERM ALONE (``merge_bucket_columns``) so a query-time term probe opens
    only its terms' bucket directories, ordered by the monotone ingest
    version (an upstream update's re-tokenized rows beat stale ones), with
    the keyed-DELETE marker so dropped terms / deleted docs retire through
    tombstones instead of a snapshot rewrite."""
    from ..spec import SinkSpec

    return SinkSpec(
        type="parquet",
        path=f"{index_root}/postings",
        mode="merge",
        merge_key=("term", "doc_id"),
        merge_order=("_ingest_version",),
        merge_buckets=merge_buckets,
        delete_column=POSTINGS_DELETE_COL,
        merge_bucket_columns=("term",),
    )


def _doc_postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, term, tf, dl) for one batch of documents — the SAME
    tokenize → per-doc term count → per-doc length aggregates the inline
    scorer runs, so stored tf/dl reproduce its values bit-for-bit."""
    from .text import tokens

    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("term"),
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    return (
        tok.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .join(dl, "doc_id")
    )


def _doc_lengths(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, dl) — bit-equal to :func:`_doc_postings`' per-doc lengths
    but WITHOUT the token explode (r16 optimization, guide §1.2/§2.3: the
    stats side of build/delta re-ran the whole explode → two token-scale
    aggregates → join chain just to count tokens per doc). ``dl`` here is
    the token-ARRAY size summed per doc id:

    * ``split`` never returns an empty array on non-null text (empty text
      → ``[""]``, size 1), and a NULL text gives a NULL/-1 size filtered
      out below — exactly the docs ``explode`` drops;
    * duplicate id rows explode-merge in ``_doc_postings``, so their dl is
      the TOTAL token count — ``sum(size)`` per id reproduces that.

    One map pass + one doc-keyed (map-side combinable) aggregate instead
    of a corpus-token explode, two aggregates and a join."""
    from .text import tokens

    sz = F.size(tokens(text_col))
    return (
        docs.select(F.col(id_col).alias("doc_id"), sz.alias("sz"))
        .filter(F.col("sz") > 0)
        .groupBy("doc_id")
        .agg(F.sum("sz").alias("dl"))
    )


def bm25_index_build(
    docs: DataFrame,
    index_root: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    merge_buckets: int = 64,
    version: int = 1,
) -> None:
    """Build (or increment) the PERSISTED lexical index — the standing
    structure :func:`bm25_topk_indexed` serves from, the lexical twin of
    the r13 IVF-PQ index (VERDICT r13 item 1):

    * ``{index_root}/postings`` — the full inverted index
      ``(term, doc_id, tf, dl)`` as a merge-sink state keyed
      ``(term, doc_id)``, term-bucketed, tombstone-capable. ``dl`` is
      DENORMALIZED into each posting (the Lucene norms-in-the-index
      move): a doc update rewrites all its postings anyway, and carrying
      the length means query-time scoring touches NOTHING but matching
      postings — no doc-length join against a corpus-sized table.
    * ``{index_root}/stats/ingest_version=<v>`` — this batch's
      ``(n_delta, sumdl_delta)`` contribution to the corpus totals; the
      prober sums the tiny per-version deltas. Per-version dirs make
      redelivery idempotent (a replay overwrites its own dir with
      bit-identical content).

    Batches are INSERTS (first build / append-only crawl). Updates and
    deletes flow through :func:`bm25_index_delta` with the CDC feed's
    preimage rows. Corpus-sized work is ONE tokenize + two partial
    aggregates; everything else is bounded by the batch."""
    from ..session import run_independent_actions
    from ..sinks.writer import write_sink

    posts = _doc_postings(docs, id_col, text_col)
    # postings merge ∥ stats write (r16, guide §2.6): independent actions
    # — the stats dir is per-version idempotent overwrite, the postings
    # merge keyed + version-ordered — so ANY completion order replays
    # safely (the redelivery contract below)
    run_independent_actions(
        lambda: write_sink(
            posts.withColumn("_ingest_version", F.lit(version).cast("long"))
            .withColumn(POSTINGS_DELETE_COL, F.lit(False)),
            _postings_sink(index_root, merge_buckets),
        ),
        lambda: (
            _doc_lengths(docs, id_col, text_col)
            .agg(
                F.count(F.lit(1)).alias("n_delta"),
                F.sum("dl").alias("sumdl_delta"),
            )
            .write.mode("overwrite")
            .parquet(f"{index_root}/stats/ingest_version={version}")
        ),
    )


def bm25_index_delta(
    new_docs: DataFrame,
    old_docs: DataFrame,
    index_root: str,
    version: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    merge_buckets: int = 64,
) -> None:
    """Apply one CDC increment to the persisted index: ``new_docs`` are
    the version's insert/update_postimage rows, ``old_docs`` its
    delete/update_preimage rows. The OLD term set comes from re-tokenizing
    the preimages the feed already carries — never from probing the index
    by doc_id (the postings are term-bucketed; a doc-keyed probe would
    touch every bucket). Per (doc, term):

    * in new       → upsert ``(tf, dl, live)`` (fresh counts win by
      ``_ingest_version``);
    * in old only  → TOMBSTONE — the term was dropped by an update, or
      the whole doc was deleted (keyed-DELETE machinery; a later
      re-insert of the pair beats the tombstone by version).

    Stats deltas are net: ``n_delta = |new docs| - |old docs|``,
    ``sumdl_delta = Σ new dl - Σ old dl`` (an updated doc appears on both
    sides and contributes only its length change). Everything is bounded
    by the increment; redelivery is idempotent (same version → same rows,
    same stats dir)."""
    from ..session import run_independent_actions
    from ..sinks.writer import write_sink

    new_p = _doc_postings(new_docs, id_col, text_col)
    old_p = _doc_postings(old_docs, id_col, text_col)
    dropped = old_p.join(new_p, ["doc_id", "term"], "left_anti")
    delta = new_p.withColumn(POSTINGS_DELETE_COL, F.lit(False)).unionByName(
        dropped.withColumn(POSTINGS_DELETE_COL, F.lit(True))
    )
    new_stats = _doc_lengths(new_docs, id_col, text_col)
    old_stats = _doc_lengths(old_docs, id_col, text_col)
    # postings merge ∥ stats write (r16, guide §2.6): independent actions,
    # each per-version idempotent (same rows at the same _ingest_version /
    # same stats dir content), so ANY completion order replays safely
    run_independent_actions(
        lambda: write_sink(
            delta.withColumn("_ingest_version", F.lit(version).cast("long")),
            _postings_sink(index_root, merge_buckets),
        ),
        lambda: (
            new_stats.agg(
                F.count(F.lit(1)).alias("n_delta"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("sumdl_delta"),
            )
            .crossJoin(
                old_stats.agg(
                    F.count(F.lit(1)).alias("on"),
                    F.coalesce(F.sum("dl"), F.lit(0)).alias("os"),
                )
            )
            .select(
                (F.col("n_delta") - F.col("on")).alias("n_delta"),
                (F.col("sumdl_delta") - F.col("os")).alias("sumdl_delta"),
            )
            .write.mode("overwrite")
            .parquet(f"{index_root}/stats/ingest_version={version}")
        ),
    )


def bm25_topk_indexed(
    spark,
    index_root: str,
    query_terms: tuple[str, ...],
    k: int = 10,
    id_col: str = "doc_id",
    prune_buckets: bool = True,
    idf: str = "rational",
) -> DataFrame:
    """PROBE-ONLY BM25 over the committed index (VERDICT r13 item 1 — the
    lexical twin of ``ivf_pq_topk_indexed``): score a query term set from
    the standing postings WITHOUT touching the corpus — no tokenize, no
    document scan, no doc-length join. The 100 TB serving story:

    * bucket pruning — the postings are term-bucketed, so the probe opens
      only the query terms' bucket directories
      (``read_merge_state(buckets=merge_bucket_ids(...))``: at most
      ``|terms|`` of the state's buckets, the inverted-list read). The
      bucket count and columns come from the state's COMMITTED layout
      (``merge_state_layout`` — never a caller-supplied count, which
      could silently probe non-existent bucket ids; r14 review finding);
      a layout that isn't term-bucketed, or a manifest that predates
      layout stamping, degrades to the unpruned read — correct either
      way, the pruning is an optimization;
    * literal pushdown — ``term IN (...)`` reaches the parquet scan as a
      source filter (PushedFilters, plan-guarded), so row-group stats
      skip non-matching rows inside the opened buckets;
    * ``df`` per term = row count of the probed postings themselves
      (exactly the inline scorer's candidate-doc count — live postings
      only, tombstones filtered by the keyed-DELETE read);
    * ``N`` / ``Σdl`` = sums over the tiny per-version stats deltas.

    Bit-equal to :func:`bm25_topk` over the same corpus by construction:
    tf/dl/df/N/Σdl take identical integer values and the scoring tail IS
    the shared :func:`_bm25_rank` / :func:`_bm25_contrib`."""
    from ..sinks.writer import (
        merge_bucket_ids,
        merge_state_layout,
        read_merge_state,
    )

    buckets = None
    if prune_buckets:
        layout = merge_state_layout(f"{index_root}/postings")
        if layout is not None and layout["bucket_columns"] == ["term"]:
            # state_path form: probe literals are cast to the committed
            # schema's term type before hashing (xxhash64 is type-
            # sensitive; r15 advisor finding); the in-hand layout rides
            # along so the manifest is parsed once per probe
            buckets = merge_bucket_ids(
                spark,
                list(query_terms),
                state_path=f"{index_root}/postings",
                layout=layout,
            )
    probed = (
        read_merge_state(
            spark,
            f"{index_root}/postings",
            delete_col=POSTINGS_DELETE_COL,
            buckets=buckets,
        )
        .filter(F.col("term").isin(*query_terms))
        .select(F.col("doc_id").alias(id_col), "term", "tf", "dl")
    )
    dfreq = probed.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = spark.read.parquet(f"{index_root}/stats").agg(
        F.sum("n_delta").alias("n"), F.sum("sumdl_delta").alias("sumdl")
    )
    return _bm25_rank(
        probed.join(F.broadcast(dfreq), "term").crossJoin(F.broadcast(stats)),
        id_col,
        k,
        idf,
    )


def bm25_batch_topk_indexed(
    spark,
    index_root: str,
    queries: dict[int, tuple[str, ...]],
    k: int = 10,
    id_col: str = "doc_id",
    prune_buckets: bool = True,
    idf: str = "rational",
) -> DataFrame:
    """BATCH retrieval over the persisted index — score MANY query term
    sets in ONE pass (r14): the decontamination-by-retrieval /
    hard-negative-mining shape, where thousands of benchmark questions
    are scored against the corpus and each term's inverted list must be
    read ONCE for the whole batch, not once per query.

    One probe reads the union of all queries' terms (bucket-pruned +
    literal ``term IN`` pushdown, exactly :func:`bm25_topk_indexed`);
    the (query_id, term) mapping is a config-bounded broadcast; per-term
    df is query-independent so it aggregates once from the probed rows;
    the per-(query, doc) sums exchange once keyed (query_id, doc_id);
    and the top-k is a window PARTITIONED BY query_id — parallel across
    queries, never a single-partition global sort. Per (query, doc,
    term) the contribution is the shared :func:`_bm25_contrib`, so each
    query's ranking is bit-equal to its own :func:`bm25_topk_indexed`
    call (pinned in tests).

    Returns ``(query_id, doc_id, bm25)``, ties broken by doc_id."""
    from ..sinks.writer import (
        merge_bucket_ids,
        merge_state_layout,
        read_merge_state,
    )

    all_terms = sorted({t for ts in queries.values() for t in ts})
    buckets = None
    if prune_buckets:
        layout = merge_state_layout(f"{index_root}/postings")
        if layout is not None and layout["bucket_columns"] == ["term"]:
            buckets = merge_bucket_ids(
                spark,
                all_terms,
                state_path=f"{index_root}/postings",
                layout=layout,
            )
    probed = (
        read_merge_state(
            spark,
            f"{index_root}/postings",
            delete_col=POSTINGS_DELETE_COL,
            buckets=buckets,
        )
        .filter(F.col("term").isin(*all_terms))
        .select(F.col("doc_id").alias(id_col), "term", "tf", "dl")
    )
    dfreq = probed.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = spark.read.parquet(f"{index_root}/stats").agg(
        F.sum("n_delta").alias("n"), F.sum("sumdl_delta").alias("sumdl")
    )
    qterms = spark.createDataFrame(
        [(q, t) for q, ts in sorted(queries.items()) for t in ts],
        "query_id long, term string",
    )
    from pyspark.sql import Window

    per_doc = (
        probed.join(F.broadcast(qterms), "term")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            F.col(id_col),
            F.floor(_bm25_contrib(idf)).cast("long").alias("c"),
        )
        .groupBy("query_id", id_col)
        .agg(F.sum("c").alias("smicro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("smicro").desc(), F.col(id_col)
    )
    return (
        per_doc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            id_col,
            (F.col("smicro") / F.lit(1_000_000.0)).alias("bm25"),
        )
    )


def bm25_batch_oracle_sql(
    queries: dict[int, tuple[str, ...]],
    table: str = "documents",
    k: int = 10,
) -> str:
    """DuckDB mirror of :func:`bm25_batch_topk_indexed` over the raw
    corpus — identical parenthesization, per-query row_number top-k."""
    qt = ", ".join(
        f"({q}, '{t}')" for q, ts in sorted(queries.items()) for t in ts
    )
    all_terms = ", ".join(
        f"'{t}'" for t in sorted({t for ts in queries.values() for t in ts})
    )
    return f"""
    WITH qt AS (
      SELECT CAST(query_id AS BIGINT) AS query_id, term
      FROM (VALUES {qt}) AS t(query_id, term)
    ), tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT count(*) AS n, sum(dl) AS sumdl FROM dl
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE term IN ({all_terms}) GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), contrib AS (
      SELECT q.query_id, t.doc_id,
             CAST(floor(
               ((s.n - d.df + 0.5) / (d.df + 0.5))
               * ((t.tf * 2.2)
                  / (t.tf + 1.2 * (0.25 + 0.75 * (l.dl * s.n) / s.sumdl)))
               * 1000000.0 + 0.5
             ) AS BIGINT) AS c
      FROM tf t JOIN qt q USING (term) JOIN dfq d USING (term)
      JOIN dl l USING (doc_id), stats s
    ), sc AS (
      SELECT query_id, doc_id, sum(c) AS smicro
      FROM contrib GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, CAST(smicro AS BIGINT) / 1000000.0 AS bm25
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY smicro DESC, doc_id) AS rn
      FROM sc
    ) WHERE rn <= {k}
    """


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    k_const: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, "Reciprocal
    rank fusion outperforms Condorcet and individual rank learning
    methods", SIGIR 2009): fuse N rankings of one id space by
    ``score(d) = Σ_r 1/(k_const + rank_r(d))`` — the standard hybrid
    lexical+semantic retrieval combiner (k_const = 60 per the paper).

    Exactmath: each reciprocal is floored to integer micro-units
    (``floor(1e6 / (k_const + rank))`` — exact in doubles at these
    magnitudes, so DuckDB replays the hash) and the fused score is a
    BIGINT sum; ties break by id. Inputs are ``(id_col, rank)`` frames
    with 1-based ranks — already top-k-bounded by their producers, so
    the fusion runs on broadcast-sized frames regardless of corpus."""
    scored = None
    for r in rankings:
        part = r.select(
            F.col(id_col),
            F.floor(F.lit(1_000_000.0) / (F.lit(k_const) + F.col("rank")))
            .cast("long")
            .alias("c"),
        )
        scored = part if scored is None else scored.unionByName(part)
    return (
        scored.groupBy(id_col)
        .agg(F.sum("c").alias("rrf_micro"))
        .orderBy(F.col("rrf_micro").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            (F.col("rrf_micro") / F.lit(1_000_000.0)).alias("rrf"),
        )
    )


def rrf_fuse_batch(
    rankings: list[DataFrame],
    id_col: str = "doc_id",
    query_col: str = "query_id",
    k_const: int = 60,
    k: int = 10,
) -> DataFrame:
    """BATCH Reciprocal Rank Fusion (r15): fuse N per-query rankings of
    MANY queries in one pass — the serving tail of batched hybrid
    retrieval, where thousands of benchmark questions each carry a
    lexical and a semantic top-k and the fusion must stay parallel
    across queries. Same exactmath algebra as :func:`rrf_fuse`
    (``floor(1e6/(k_const+rank))`` micro-units, BIGINT sums, ties by
    id), keyed ``(query_col, id_col)``; the final top-k is a window
    PARTITIONED BY the query — never a global sort. Inputs are
    ``(query_col, id_col, rank)`` frames with 1-based per-query ranks,
    already top-k-bounded by their producers (n_q × k rows each)."""
    from pyspark.sql import Window

    scored = None
    for r in rankings:
        part = r.select(
            F.col(query_col),
            F.col(id_col),
            F.floor(F.lit(1_000_000.0) / (F.lit(k_const) + F.col("rank")))
            .cast("long")
            .alias("c"),
        )
        scored = part if scored is None else scored.unionByName(part)
    fused = scored.groupBy(query_col, id_col).agg(
        F.sum("c").alias("rrf_micro")
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("rrf_micro").desc(), F.col(id_col)
    )
    return (
        fused.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            query_col,
            id_col,
            (F.col("rrf_micro") / F.lit(1_000_000.0)).alias("rrf"),
        )
    )


def bm25_oracle_sql(
    query_terms: tuple[str, ...],
    table: str = "documents",
    k: int = 10,
    idf: str = "rational",
    rank_only: bool = False,
) -> str:
    """DuckDB mirror of :func:`bm25_topk` — identical parenthesization,
    identical micro-unit floor, BIGINT summation. The ONE SQL-side
    definition, exactly as :func:`_bm25_contrib` is the one Spark-side
    expression (r16 review finding: a hand-copied Lucene variant in the
    catalog was the drifted-copy hazard both docstrings warn about):
    ``idf`` selects the same rational/ln forms, and ``rank_only=True``
    emits ``(rank, doc_id)`` with the float-bearing score EXCLUDED — the
    rank-level output the non-correctly-rounded ``ln`` variant is
    verified at (callers own proving rank stability; see the
    ``bm25_lucene_rank`` row's gap guard)."""
    terms = ", ".join(f"'{t}'" for t in query_terms)
    if idf == "rational":
        idf_sql = "((s.n - d.df + 0.5) / (d.df + 0.5))"
    elif idf == "lucene":
        idf_sql = "ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)"
    else:
        from ..errors import ConfigError

        raise ConfigError(f"idf must be 'rational' or 'lucene', got {idf!r}")
    projection = (
        "CAST(rn AS INT) AS rank, doc_id"
        if rank_only
        else "doc_id, CAST(smicro AS BIGINT) / 1000000.0 AS bm25"
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT count(*) AS n, sum(dl) AS sumdl FROM dl
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM tok
      WHERE term IN ({terms}) GROUP BY doc_id, term
    ), dfq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), contrib AS (
      SELECT t.doc_id,
             CAST(floor(
               {idf_sql}
               * ((t.tf * 2.2)
                  / (t.tf + 1.2 * (0.25 + 0.75 * (l.dl * s.n) / s.sumdl)))
               * 1000000.0 + 0.5
             ) AS BIGINT) AS c
      FROM tf t JOIN dfq d USING (term) JOIN dl l USING (doc_id), stats s
    ), sc AS (
      SELECT doc_id, sum(c) AS smicro FROM contrib GROUP BY doc_id
    )
    SELECT {projection} FROM (
      SELECT *, row_number() OVER (ORDER BY smicro DESC, doc_id) AS rn
      FROM sc
    ) WHERE rn <= {k}
    """
