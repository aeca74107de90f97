"""Keyword relevance (BM25) and hybrid rank fusion (RRF) — the lexical
half of a vector-search deployment.

The reference engine serves dense ANN (`hnsw_cosine_norm.py`,
`roargraph/`); every production deployment of such an engine pairs it
with a keyword ranker and fuses the two lists (hybrid search). BM25
(Robertson-Walker 1994) and reciprocal rank fusion (Cormack 2009,
`1/(k+rank)` — the fusion Elasticsearch/Vespa/Qdrant all default to)
are the standard pair, so they are first-class operators here.

Spark-first shape:

* **Query-term pre-filter.** Only tokens appearing in some query ever
  leave the scan: the explode is filtered by a broadcast literal set
  BEFORE the tf groupBy, so the shuffle is ∝ matched occurrences, not
  corpus tokens. At 100 TB this is the difference between building a
  full inverted index and scoring a handful of posting lists.
* **df via a window, not a second branch.** Document frequency is
  ``count() OVER (PARTITION BY term)`` on the tf rows (distinct
  (doc, term) ⇒ the count IS df). A separate ``tf.groupBy(term)``
  branch gets rewritten by Catalyst into a distinct-pushdown subplan
  that no longer structurally matches the tf side, so ReuseExchange
  can't kick in and the corpus explode runs twice — measured 35 s vs
  6.9 s at 200k docs × 50 queries for the two shapes. The window
  re-shuffles only the matched tf rows.
* **Corpus stats stay distributed.** N and Σdl come from one scan-local
  aggregate crossJoin-broadcast back (1 row) — no driver round-trip in
  the dataflow.
* **Pure JVM expressions** end-to-end: tokenize/explode/groupBy/window,
  no Python in the hot path.

Cross-engine determinism (the DuckDB oracle replays everything in SQL,
no pinned state — `oracles.bm25_topk_sql` / `rrf_hybrid_sql`):

* all counts (tf, df, dl, N, Σdl) are exact integers;
* per-(query, doc) term contributions fold in TERM order on both
  engines (`F.aggregate` over `array_sort(collect_list(struct))` ==
  `list_sum(list(x ORDER BY term))`);
* float constants embed as python-repr literals cast ``::DOUBLE`` on
  the DuckDB side (bare literals there are DECIMAL);
* the identical expression tree computes the length norm
  (((b·dl)·N)/Σdl) so the doubles agree bit-for-bit; the single
  ``ln`` in idf differs by ≤1 ulp, absorbed by round(·, 6);
* ranks break ties by lowest doc id on the ROUNDED score.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from vectordbindexing_spark.plans.partitioning import local_rows_df

from vectordbindexing_spark.functions.text import words


def _query_terms(queries: list[tuple[int, str]]) -> list[tuple[int, str]]:
    """(query_id, term) pairs — lowercased, whitespace-split, deduped
    per query (classic BM25 scores distinct query terms)."""
    out = []
    for qid, text in queries:
        seen = set()
        for t in (text or "").lower().split():
            if t and t not in seen:
                seen.add(t)
                out.append((int(qid), t))
    if not out:
        raise ValueError("queries produced no terms")
    return out


#: auto exact_fold: past this many (query,term) pairs switch to plain
#: sum() — contract/ad-hoc queries carry a handful, batch mining carries
#: vocabulary-scale; measured 29M folded structs cost 118 s vs 31.5 s
#: plain at 200k docs x 2000 full-vocab queries
FOLD_QT_LIMIT = 10_000


def bm25_topk(
    docs: DataFrame,
    queries: "list[tuple[int, str]] | DataFrame",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    exact_fold: bool | None = None,
) -> DataFrame:
    """Top-k documents per query under BM25.

    ``queries`` is either a small driver-side list of
    (query_id, query_text) — the ad-hoc search shape, filtered with an
    INSET literal inside the scan — or a DataFrame
    (query_id, text) for batch retrieval (thousands of queries, e.g.
    mining hard negatives for embedding training), where the term
    filter becomes a broadcast LEFT SEMI join instead: same plan shape,
    no driver round-trip, query count bounded only by broadcast size.

    ``exact_fold=True`` sums each doc's term contributions in TERM
    order via a collect_list fold — bit-identical to the DuckDB
    oracle, required for the hash gate, cheap when queries are few.
    ``exact_fold=False`` uses a plain ``sum()`` (partition-order float
    accumulation, can drift in the last ulp): at 2000 queries × 200k
    docs the query terms cover the vocabulary, the fold materializes
    ~29M structs and costs 127 s vs 22 s for the sum. The default
    (``None``) picks automatically: it folds while the (query,term)
    pair count stays under FOLD_QT_LIMIT (bounded probe, no corpus
    scan). Callers that need the deterministic fold regardless of
    scale pass True explicitly.

    Output: (query_id, rank, doc_id, score) with
    score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln(1 + (N−df+0.5)/(df+0.5)) — non-negative for all df.
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        words(F.lower(F.coalesce(F.col(text_col), F.lit("")))).alias("toks"),
    )
    if isinstance(queries, DataFrame):
        qt = queries.select(
            F.col("query_id").cast("long").alias("query_id"),
            F.explode(
                F.array_distinct(
                    words(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
                )
            ).alias("term"),
        )

        def term_filter(occ: DataFrame) -> DataFrame:
            return occ.join(
                F.broadcast(qt.select("term").distinct()), "term", "leftsemi"
            )
    else:
        qterms = _query_terms(queries)
        terms = sorted({t for _, t in qterms})
        qt = local_rows_df(
            docs.sparkSession, qterms, "query_id long, term string"
        )

        def term_filter(occ: DataFrame) -> DataFrame:
            return occ.where(F.col("term").isin(terms))

    # corpus stats: one scan-local aggregate, broadcast back as 1 row
    corpus = base.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("toks")).cast("long").alias("sum_dl"),
    )
    # tf over query terms only — the filter runs before the groupBy
    tf = (
        term_filter(
            base.select(
                "doc_id",
                F.size("toks").cast("long").alias("dl"),
                F.explode("toks").alias("term"),
            )
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"), F.max("dl").alias("dl"))
        .withColumn(
            "df",
            F.count(F.lit(1)).over(Window.partitionBy("term")).cast("long"),
        )
    )
    if exact_fold is None:
        # auto: fold only while the contribution stream stays small.
        # Driver-list queries know their pair count for free; DataFrame
        # queries probe it with a bounded count (stops at the limit, no
        # corpus scan).
        if isinstance(queries, DataFrame):
            n_qt = qt.limit(FOLD_QT_LIMIT + 1).count()
        else:
            n_qt = len(qterms)
        exact_fold = n_qt <= FOLD_QT_LIMIT
    qt = F.broadcast(qt)
    contrib = (
        tf.join(qt, "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs").cast("double") - F.col("df") + F.lit(0.5))
                / (F.col("df").cast("double") + F.lit(0.5))
            ),
        )
        .withColumn(
            "c",
            F.col("idf")
            * (F.col("tf").cast("double") * F.lit(k1 + 1.0))
            / (
                F.col("tf").cast("double")
                + F.lit(k1)
                * (
                    F.lit(1.0)
                    - F.lit(b)
                    + F.lit(b)
                    * F.col("dl").cast("double")
                    * F.col("n_docs").cast("double")
                    / F.col("sum_dl").cast("double")
                )
            ),
        )
    )
    if exact_fold:
        score = F.aggregate(
            F.array_sort(F.collect_list(F.struct("term", "c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        )
    else:
        score = F.sum("c")
    scored = contrib.groupBy("query_id", "doc_id").agg(
        F.round(score, 6).alias("score"),
        F.count(F.lit(1)).cast("long").alias("n_terms"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score", "n_terms")
    )


def rrf_fuse(
    ranklists: DataFrame,
    k_rrf: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal rank fusion over ``ranklists`` (query_id, src, rank,
    doc_id) — one row per (query, source, candidate), ranks 1-based.

    score(q, d) = Σ_sources 1/(k_rrf + rank_src(d)); a doc absent from
    a source contributes nothing (the standard convention). Output:
    (query_id, rank, doc_id, rrf_score, n_sources), fused rank breaking
    ties on the rounded score by lowest doc id.

    Scale: input is already top-k-per-source (|q|·|src|·k rows); one
    (query, doc) shuffle + one per-query window. The float fold is
    ordered by source name on both engines.
    """
    contrib = ranklists.withColumn(
        "c", F.lit(1.0) / (F.lit(float(k_rrf)) + F.col("rank").cast("double"))
    )
    fused = contrib.groupBy("query_id", "doc_id").agg(
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("src", "c"))),
                F.lit(0.0),
                lambda acc, x: acc + x["c"],
            ),
            6,
        ).alias("rrf_score"),
        F.count(F.lit(1)).cast("long").alias("n_sources"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= topk)
        .select("query_id", "rank", "doc_id", "rrf_score", "n_sources")
    )


def maxsim_topk(
    doc_tokens: DataFrame,
    query_tokens: DataFrame,
    k: int = 10,
    doc_id_col: str = "doc_id",
    doc_vec_col: str = "vec",
    q_id_col: str = "query_id",
    q_pos_col: str = "qpos",
    q_vec_col: str = "vec",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """ColBERT-style late-interaction retrieval (Khattab & Zaharia,
    SIGIR'20): score(q, d) = Σ_{query tokens i} max_{doc tokens j}
    ⟨qᵢ, dⱼ⟩ — the MaxSim operator a multi-vector index serves.

    ``doc_tokens``: one row per document token (doc_id, vec);
    ``query_tokens``: one row per query token (query_id, qpos, vec).
    Returns (query_id, rank, doc_id, score), top-``k`` docs per query,
    rank on the rounded score descending with lowest-doc-id ties.

    Spark-first shape: the query-token table is broadcast (queries are
    the small side by construction), the (doc token × query token) dot
    stream is never materialized — it flows into a map-side-combinable
    groupBy (query, qpos, doc) MAX, then the per-query-token maxima
    fold in qpos order. At corpus scale pass ``candidates`` (query_id,
    doc_id — e.g. an ANN shortlist from the planner) to restrict
    scoring to a candidate set BEFORE any dot product is computed:
    retrieve-then-rerank, the deployment shape of every late-
    interaction system (PLAID, ColBERTv2).

    Cross-engine exactness: each dot product is the sequential
    position-ordered fold (`functions.vector.dot` ==
    DuckDB `list_sum(list_transform(qv, (x,i) -> x*dv[i]))`), MAX is
    order-free selection, the qpos fold is explicitly ordered, and
    rounding happens once after the fold (`oracles.maxsim_topk_sql`).
    """
    from vectordbindexing_spark.functions.vector import dot as dot_seq

    dt = doc_tokens.select(
        F.col(doc_id_col).cast("long").alias("doc_id"),
        F.col(doc_vec_col).cast("array<double>").alias("dv"),
    )
    qt = F.broadcast(
        query_tokens.select(
            F.col(q_id_col).cast("long").alias("query_id"),
            F.col(q_pos_col).cast("long").alias("qpos"),
            F.col(q_vec_col).cast("array<double>").alias("qv"),
        )
    )
    if candidates is not None:
        cand = candidates.select(
            F.col("query_id").cast("long").alias("query_id"),
            F.col("doc_id").cast("long").alias("doc_id"),
        ).distinct()
        dt = dt.join(cand, "doc_id")  # (doc token × its candidate queries)
        pairs = dt.join(qt, "query_id")
    else:
        pairs = dt.crossJoin(qt)
    dots = pairs.select(
        "query_id", "qpos", "doc_id",
        dot_seq(F.col("qv"), F.col("dv")).alias("dp"),
    )
    mx = dots.groupBy("query_id", "qpos", "doc_id").agg(
        F.max("dp").alias("m")
    )
    score = F.aggregate(
        F.array_sort(F.collect_list(F.struct("qpos", "m"))),
        F.lit(0.0),
        lambda acc, x: acc + x["m"],
    )
    scored = mx.groupBy("query_id", "doc_id").agg(
        F.round(score, 6).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the classic keyphrase /
    topic-signature extraction (the per-document twin of BM25's
    corpus-level ranking; used in pipelines for doc tagging and
    centroid labeling). Returns (doc_id, rank, term, score, tf, df),
    rank on the rounded score descending, ties to the lexicographically
    smallest term.

    One corpus scan: tf is the (doc, term) count; df is
    ``count() OVER (PARTITION BY term)`` on the tf rows — distinct
    (doc, term) rows make that count exactly df, and keeping it a
    window on the SAME lineage (not a second groupBy branch) preserves
    exchange reuse (the measured 5× BM25 lesson, SCALE.md). N
    broadcast; score = tf · ln(1 + N/df) — integers everywhere until
    the one ln, absorbed by round(·, 6) on both engines
    (`oracles.tfidf_top_terms_sql`).
    """
    toks = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        words(F.lower(F.coalesce(F.col(text_col), F.lit("")))).alias("toks"),
    )
    n_b = F.broadcast(
        toks.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    occ = toks.select("doc_id", F.explode("toks").alias("term"))
    tf = occ.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    tfdf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term")).cast("long")
    )
    scored = tfdf.crossJoin(n_b).select(
        "doc_id", "term", "tf", "df",
        F.round(
            F.col("tf").cast("double")
            * F.log(
                F.lit(1.0)
                + F.col("n_docs").cast("double") / F.col("df").cast("double")
            ),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "term", "score", "tf", "df")
    )
