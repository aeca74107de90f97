"""Text-analysis operators for training-data pipelines (north-star set):
token counting, quality scoring, language ID, document fingerprinting.

All pure Column expressions — whole-stage codegen, no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from vectordbindexing_spark.functions.text import words

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic. The testdata 'documents' table is synthetic English-ish tech
# text with a lang label; the operator is the real thing — marker lists are
# swappable.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "est"),
    "zh": ("的", "是", "了", "在", "we"),
}

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

# Deployment-scale marker lexicon: 24 languages × common function words
# (public-knowledge stopword lists), including real non-Latin scripts
# (Cyrillic, Greek, Arabic, Hebrew, Devanagari, Thai, CJK, Hangul).
# This is the shape the broadcast-table lang_id path exists for; the
# tiny LANG_MARKERS above stays the literal-expression demo. Whitespace
# tokenization is the documented heuristic: unsegmented CJK/Thai text
# only matches markers that appear as standalone tokens — production
# segmenters slot in upstream of lang_id without touching the scoring.
LANG_MARKERS_FULL: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "that", "is"),
    "de": ("der", "die", "und", "das", "nicht", "ist", "ein"),
    "es": ("el", "la", "que", "los", "una", "por", "con"),
    "fr": ("le", "la", "les", "des", "une", "est", "dans"),
    "it": ("il", "la", "che", "di", "non", "per", "una"),
    "pt": ("o", "que", "de", "não", "uma", "com", "para"),
    "nl": ("de", "het", "een", "van", "niet", "dat"),
    "sv": ("och", "att", "det", "som", "en", "inte"),
    "da": ("og", "det", "at", "en", "til", "ikke"),
    "fi": ("ja", "on", "ei", "että", "se", "hän"),
    "pl": ("nie", "się", "jest", "to", "na", "że"),
    "cs": ("je", "se", "na", "to", "není", "že"),
    "ro": ("și", "de", "la", "nu", "este", "cu"),
    "tr": ("bir", "ve", "bu", "için", "ama", "değil"),
    "ru": ("и", "в", "не", "на", "что", "это"),
    "uk": ("і", "в", "не", "на", "що", "це"),
    "el": ("και", "το", "να", "δεν", "της", "είναι"),
    "ar": ("في", "من", "على", "أن", "هذا", "لا"),
    "he": ("של", "את", "על", "לא", "זה", "הוא"),
    "hi": ("है", "के", "की", "में", "और", "नहीं"),
    "th": ("ที่", "และ", "ไม่", "ใน", "ของ", "เป็น"),
    "zh": ("的", "是", "了", "在", "不", "我"),
    "ja": ("の", "に", "は", "を", "です", "した"),
    "ko": ("은", "는", "이", "가", "그리고", "있다"),
}

def _txt(text_col: str):
    """NULL-safe text column: a null document reads as the empty string,
    so size()/length() never return Spark's null-propagated -1 and every
    operator gives defined output on real-world corpora with missing
    text. (md5/fingerprint sites keep the raw column — a null fingerprint
    is more honest than hashing ''.)"""
    return F.coalesce(F.col(text_col).cast("string"), F.lit(""))



def token_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc token statistics (counting + length profile)."""
    toks = words(_txt(text_col))
    return df.select(
        F.col(id_col),
        F.length(_txt(text_col)).alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.round(
            F.try_divide(
                F.aggregate(
                    toks,
                    F.lit(0.0),
                    lambda acc, x: acc + F.length(x).cast("double"),
                ),
                F.size(toks).cast("double"),
            ),
            4,
        ).alias("avg_token_len"),
    )


# BPE-style pre-tokenizer approximation: letter runs, digit runs capped
# at 3 (cl100k-style number chunking), single punctuation marks. The
# pattern stays in the common subset of Java regex (Spark) and RE2
# (DuckDB) so both engines extract identical pieces.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9 ]"


def bpe_token_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token counting with a BPE-ish regex pre-tokenizer alongside the
    whitespace count — the cheap proxy every data pipeline uses to
    estimate training-token cost before running a real tokenizer.
    tokens_per_word > ~1.5 flags code/numeric/punctuation-heavy docs."""
    pieces = F.regexp_extract_all(_txt(text_col), F.lit(BPE_ISH_PATTERN), 0)
    n_words = F.size(words(_txt(text_col))).cast("long")
    n_bpe = F.size(pieces).cast("long")
    return df.select(
        F.col(id_col),
        n_bpe.alias("n_bpe_tokens"),
        n_words.alias("n_word_tokens"),
        F.round(
            n_bpe.cast("double") / F.greatest(n_words, F.lit(1)).cast("double"),
            6,
        ).alias("tokens_per_word"),
    )


def quality_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic quality features: length, stopword ratio, punct ratio,
    uppercase ratio, type-token ratio — the standard cheap LLM-data filters."""
    toks = words(_txt(text_col))
    n_tok = F.size(toks).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.array_intersect(toks, stop_arr)).cast("double")
    stop_hits = F.size(
        F.filter(toks, lambda t: F.array_contains(stop_arr, t))
    ).cast("double")
    n_chars = F.length(_txt(text_col)).cast("double")
    n_punct = (
        n_chars - F.length(F.regexp_replace(_txt(text_col), r"[.,;:!?]", "")).cast("double")
    )
    n_upper = (
        n_chars - F.length(F.regexp_replace(_txt(text_col), r"[A-Z]", "")).cast("double")
    )
    return df.select(
        F.col(id_col),
        F.length(_txt(text_col)).alias("n_chars"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(F.try_divide(stop_hits, n_tok), 6).alias("stopword_ratio"),
        F.round(F.try_divide(n_punct, n_chars), 6).alias("punct_ratio"),
        F.round(F.try_divide(n_upper, n_chars), 6).alias("upper_ratio"),
        F.round(
            F.try_divide(F.size(F.array_distinct(toks)).cast("double"), n_tok),
            6,
        ).alias("type_token_ratio"),
        (n_stop > 0).alias("has_stopwords"),
    )


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lexicon: dict[str, tuple[str, ...]] | DataFrame | None = None,
) -> DataFrame:
    """Marker-word language ID: argmax over per-language marker hit
    counts. Score ties break to the lexicographically greatest language
    code (struct array_max semantics — the oracle mirrors with ORDER BY
    score DESC, lang DESC); zero marker hits → 'und' (undetermined).

    ``lexicon`` parameterizes the marker table (default: the demo-grade
    5-language ``LANG_MARKERS``):

    - a dict {lang: markers} stays on the literal-expression path —
      right for small lexicons, where the whole table folds into the
      whole-stage-codegen'd plan;
    - a DataFrame of (lang, marker) rows routes through a
      broadcast-join scoring path — the deployment shape for real
      ≥100-language × 1000s-of-markers lexicons, which would bloat a
      literal expression tree. Semantics are identical on both paths
      (pinned by test); either way there is zero Python in the row path.
    """
    if isinstance(lexicon, DataFrame):
        return _lang_id_table(df, lexicon, text_col, id_col)
    markers_by_lang = LANG_MARKERS if lexicon is None else lexicon
    toks = words(F.lower(_txt(text_col)))
    scores = [
        F.struct(
            F.size(
                F.filter(
                    toks,
                    lambda t: F.array_contains(
                        F.array(*[F.lit(m) for m in markers]), t
                    ),
                )
            ).cast("long").alias("score"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(markers_by_lang.items())
    ]
    best = F.array_max(F.array(*scores))
    return df.select(
        F.col(id_col),
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")).alias(
            "pred_lang"
        ),
        best["score"].alias("marker_hits"),
    )


def _lang_id_table(
    df: DataFrame, lexicon: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Broadcast-lexicon scoring: explode lowercased tokens, equi-join
    the (lang, marker) table, count hits per (doc, lang), keep the
    argmax per doc via max(struct(hits, lang)) — lexicographic struct
    max = highest hit count with ties → greatest lang, exactly the
    literal path's array_max convention, and it stays a partial-
    aggregatable groupBy (a row_number window here would add a per-doc
    sort). Left-join back so zero-hit docs stay 'und'. The lexicon is a
    dimension table — broadcast, never shuffled against the corpus."""
    toks = words(F.lower(_txt(text_col)))
    tok_rows = df.select(F.col(id_col), F.explode(toks).alias("_tok"))
    # distinct: a duplicated (lang, marker) row must not double-count —
    # the literal path's array_contains is naturally duplicate-immune
    lex = lexicon.select(
        F.col("lang").cast("string").alias("lang"),
        F.col("marker").cast("string").alias("_tok"),
    ).distinct()
    best = (
        tok_rows.join(F.broadcast(lex), "_tok")
        .groupBy(id_col, "lang")
        .agg(F.count(F.lit(1)).alias("marker_hits"))
        .groupBy(id_col)
        .agg(
            F.max(F.struct(F.col("marker_hits"), F.col("lang"))).alias("_b")
        )
        .select(
            id_col,
            F.col("_b.lang").alias("lang"),
            F.col("_b.marker_hits").alias("marker_hits"),
        )
    )
    return df.select(F.col(id_col)).join(best, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("lang"), F.lit("und")).alias("pred_lang"),
        F.coalesce(F.col("marker_hits"), F.lit(0)).cast("long").alias(
            "marker_hits"
        ),
    )


def corpus_filter_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_tokens: int = 5,
    max_tokens: int = 10_000,
    max_punct_ratio: float = 0.2,
) -> DataFrame:
    """The final keep/drop gate of a training-data pipeline: combine
    language ID, quality heuristics, token bounds and exact-dup keeper
    status into one verdict per document, with the FIRST failing rule as
    the drop reason (priority: duplicate > lang > too_short > too_long >
    high_punct > no_stopwords).

    One scan + one shuffle: every feature is a Column expression over the
    text; the keeper flag is a row_number window over md5(text) (exact
    duplicates by text hash — min id wins), so no join is needed.
    Output: (doc_id, pred_lang, n_tokens, punct_ratio, is_keeper, keep,
    reason).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    is_keeper = F.row_number().over(w) == 1
    toks = words(_txt(text_col))
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(_txt(text_col)).cast("double")
    n_punct = (
        n_chars
        - F.length(F.regexp_replace(_txt(text_col), r"[.,;:!?]", "")).cast("double")
    )
    punct_ratio = F.round(F.try_divide(n_punct, n_chars), 6)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    has_stop = (
        F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t))) > 0
    )
    ltoks = words(F.lower(_txt(text_col)))
    scores = [
        F.struct(
            F.size(
                F.filter(
                    ltoks,
                    lambda t: F.array_contains(
                        F.array(*[F.lit(m) for m in markers]), t
                    ),
                )
            ).cast("long").alias("score"),
            F.lit(lg).alias("lang"),
        )
        for lg, markers in sorted(LANG_MARKERS.items())
    ]
    best = F.array_max(F.array(*scores))
    pred_lang = (
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
    )
    reason = (
        F.when(~is_keeper, F.lit("duplicate"))
        .when(pred_lang != F.lit(lang), F.lit("lang"))
        .when(n_tok < min_tokens, F.lit("too_short"))
        .when(n_tok > max_tokens, F.lit("too_long"))
        .when(punct_ratio > max_punct_ratio, F.lit("high_punct"))
        .when(~has_stop, F.lit("no_stopwords"))
        .otherwise(F.lit("keep"))
    )
    return df.select(
        F.col(id_col),
        pred_lang.alias("pred_lang"),
        n_tok.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        is_keeper.cast("long").alias("is_keeper"),
        (reason == F.lit("keep")).cast("long").alias("keep"),
        reason.alias("reason"),
    )


def benchmark_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 5,
    broadcast_limit: int = 1_000_000,
) -> DataFrame:
    """Decontamination check: flag training documents sharing ≥
    ``min_overlap`` distinct word n-grams with ANY benchmark document
    (the standard test-set leakage gate run before training).

    Unlike near-dup Jaccard this is asymmetric and absolute: the
    benchmark side is usually tiny, the docs side is the corpus, and one
    strong overlap is disqualifying regardless of document length.
    Physical plan: explode distinct shingles on both sides,
    inverted-index equi-join on the shingle (never all-pairs — at corpus
    scale the join fan-out is ∝ shared-shingle count), count per (doc,
    benchmark doc) pair, keep the max-overlap pair per doc. The
    benchmark shingle table is broadcast only when a bounded probe shows
    ≤ ``broadcast_limit`` exploded shingle rows (the actual broadcast
    payload, ~100 MB at 1M rows) — a forced broadcast of a
    corpus-proportional side OOMs executors; past the limit the join
    strategy is left to Catalyst/AQE. Output: one row per CONTAMINATED
    doc — (doc_id, benchmark_id, n_shared) with ``benchmark_id`` the
    strongest match (ties → lowest id).
    """
    from vectordbindexing_spark.functions.text import word_ngrams

    def shingles(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col(id_col).cast("long").alias(out_id),
            F.explode(
                F.array_distinct(word_ngrams(_txt(text_col), n))
            ).alias("gram"),
        )

    d = shingles(docs, "doc_id")
    b = shingles(benchmark, "benchmark_id")
    # bounded size probe (stops scanning at limit+1 rows, same contract
    # as the knn planner): only hint broadcast for a provably small side
    if b.limit(broadcast_limit + 1).count() <= broadcast_limit:
        b = F.broadcast(b)
    overlap = (
        d.join(b, "gram")
        .groupBy("doc_id", "benchmark_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("n_shared").desc(), F.col("benchmark_id")
    )
    return (
        overlap.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "benchmark_id", "n_shared")
    )


# PII scrub rules, applied in order. Patterns live in the Java-regex ∩ RE2
# common subset (no groups, no lookaround) so Spark and the DuckDB oracle
# redact byte-identically. Heuristic by design — the standard pre-training
# scrub (C4/CCNet-style), not a compliance guarantee: versions like
# "1.2.3.4" do read as IPs, international phone prefixes and obfuscated
# emails ("a at b dot com") pass through. Extend by prepending rules.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\b[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}\b", "<PHONE>"),
)


def pii_redact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII scrubbing for training corpora: replace emails, IPv4 addresses
    and phone numbers with typed placeholders and count what was removed.

    Each rule's count is taken on the text AFTER the earlier rules ran
    (an address inside an already-redacted span cannot double-count), so
    counts always agree with what the redacted text actually lost.
    Pure nested Column expressions — one scan, whole-stage codegen, no
    shuffle, no Python in the row path. Output:
    (id, n_email, n_ip, n_phone, redacted).
    """
    t = _txt(text_col)
    counts = []
    for name, pat, repl in PII_RULES:
        counts.append(
            F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}")
        )
        t = F.regexp_replace(t, pat, repl)
    return df.select(F.col(id_col), *counts, t.alias("redacted"))


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3),
    round_to: int = 6,
) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):
    duplicate-line fraction plus, per n in ``ns``, the fraction of word
    n-gram occurrences taken by the single most frequent n-gram
    (top_{n}gram_frac) and the fraction that are repeats of an earlier
    occurrence (dup_{n}gram_frac). High values flag boilerplate /
    machine-generated text that length or stopword filters miss.

    Physical plan: line stats are pure expressions over split('\\n') (no
    shuffle); n-gram frequencies explode shingles tagged by n and
    aggregate — shuffle volume ∝ corpus token count × |ns|, the same
    scale class as the dedup shingle joins. Deliberately NOT a per-row
    frequency expression (transform × filter is O(len²) per document and
    a million-token doc would quadratically blow up one task); the
    groupBy form spreads every document's gram counting across the
    cluster.
    """
    from vectordbindexing_spark.functions.text import word_ngrams

    lines = F.split(_txt(text_col), "\n")
    base = df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(lines)).cast("double")
            / F.size(lines).cast("double"),
            round_to,
        ).alias("dup_line_frac"),
    )
    gram_rows = None
    for n in ns:
        g = df.select(
            F.col(id_col),
            F.lit(int(n)).alias("_n"),
            F.explode(word_ngrams(_txt(text_col), n)).alias("gram"),
        )
        gram_rows = g if gram_rows is None else gram_rows.unionByName(g)
    per_gram = gram_rows.groupBy(id_col, "_n", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_doc = per_gram.groupBy(id_col, "_n").agg(
        F.sum("c").alias("total"),
        F.max("c").alias("top"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    aggs = []
    for n in ns:
        top = F.max(F.when(F.col("_n") == n, F.col("top")))
        total = F.max(F.when(F.col("_n") == n, F.col("total")))
        dist = F.max(F.when(F.col("_n") == n, F.col("n_distinct")))
        aggs.append(
            F.round(top.cast("double") / total, round_to).alias(
                f"top_{n}gram_frac"
            )
        )
        aggs.append(
            F.round(F.lit(1.0) - dist.cast("double") / total, round_to).alias(
                f"dup_{n}gram_frac"
            )
        )
    wide = per_doc.groupBy(id_col).agg(*aggs)
    # word_ngrams maps every doc (even empty text) to ≥1 shingle, so the
    # join never drops or nulls a document
    return base.join(wide, id_col, "left")


def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 10,
) -> DataFrame:
    """Lines appearing in ≥ ``min_df`` DISTINCT documents — the
    boilerplate set of CCNet-style line-level dedup (headers, footers,
    cookie banners repeat across a site's pages; document-level dedup
    never catches them). One explode + one groupBy on the line —
    map-side combined, output cardinality = |distinct lines|.
    Output: (line, n_docs)."""
    lines = F.split(_txt(text_col), "\n")
    return (
        df.select(F.col(id_col), F.explode(lines).alias("line"))
        .groupBy("line")
        .agg(F.countDistinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_df)
    )


def remove_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 10,
) -> DataFrame:
    """CCNet-style line-level dedup: rebuild each document without the
    lines that appear in ≥ ``min_df`` distinct documents (empty lines
    count as boilerplate once they repeat — by design). Physical plan:
    explode lines with position, LEFT ANTI join the boilerplate set
    (an aggregate ≪ corpus — Catalyst/AQE picks broadcast when it
    fits), regroup by doc with an ordered collect, concat back. Line
    order is preserved via the position sort, and a fully-boilerplate
    document survives with empty clean_text (dropping whole documents
    is the filter gate's decision, not this operator's).
    Output: (id, n_kept, n_dropped, clean_text)."""
    lines = F.split(_txt(text_col), "\n")
    bp = boilerplate_lines(df, text_col, id_col, min_df).select("line")
    ex = df.select(
        F.col(id_col), F.posexplode(lines).alias("pos", "line")
    )
    kept = ex.join(bp, "line", "anti")
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
    )
    totals = df.select(
        F.col(id_col), F.size(lines).cast("long").alias("_n_total")
    )
    return totals.join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
        (F.col("_n_total") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_dropped"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


# URL pattern in the Java ∩ RE2 common subset (no groups, no
# lookaround, SQL-literal-safe chars only). The mandatory trailing
# [A-Za-z0-9/] keeps sentence punctuation out of the match
# ("http://foo.org," captures without the comma).
URL_PATTERN = r"https?://[A-Za-z0-9._~:/?#@!$&*+=%-]*[A-Za-z0-9/]"
DOMAIN_PATTERN = r"https?://([A-Za-z0-9.-]+)"


def extract_urls(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per URL occurrence: (id, url, domain). Pure expressions
    (regexp_extract_all → explode → regexp_extract) — scan-local, the
    fan-out is ∝ URL count. Feed of :func:`domain_stats` and of any
    per-domain filter/license/robots policy join."""
    urls = F.regexp_extract_all(_txt(text_col), F.lit(URL_PATTERN), F.lit(0))
    return df.select(F.col(id_col), F.explode(urls).alias("url")).select(
        F.col(id_col),
        "url",
        F.regexp_extract("url", DOMAIN_PATTERN, 1).alias("domain"),
    )


def domain_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Source-domain mix of a corpus: per domain, URL occurrences and
    distinct documents citing it — the report every training-data
    pipeline keeps for provenance/licensing review. One scan + one
    groupBy on domain (map-side combined; cardinality = |domains|)."""
    return (
        extract_urls(df, text_col, id_col)
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct(F.col(id_col)).alias("n_docs"),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window document chunking — the prep step every
    embedding/RAG pipeline runs before encoding: split each document
    into ``window``-token chunks starting every ``stride`` tokens
    (overlap = window − stride). Chunk starts are 1, 1+stride, … up to
    the token count, so every token is covered and the final chunk may
    be short; ``chunk_id`` is the 0-based window index, making
    (doc_id, chunk_id) the stable key downstream embeddings join back
    on. Pure expressions (sequence → transform → posexplode): the
    explode multiplies rows ~⌈n_tokens/stride⌉ per doc but shuffles
    nothing — chunking stays scan-local at any corpus size.
    Output: (doc_id, chunk_id, chunk_text, n_chunk_tokens)."""
    toks = words(_txt(text_col))
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(int(stride))
    )
    chunks = F.transform(
        starts, lambda s: F.concat_ws(" ", F.slice(toks, s, int(window)))
    )
    return df.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "chunk_text")
    ).select(
        F.col(id_col),
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "chunk_text",
        F.size(words(F.col("chunk_text"))).cast("long").alias(
            "n_chunk_tokens"
        ),
    )


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stable 64-bit content fingerprint (md5-derived, cross-engine)."""
    from vectordbindexing_spark.functions.hashing import det_hash64

    return df.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("fingerprint"),
        det_hash64(F.col(text_col)).alias("fingerprint64"),
    )


def char_trigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.5,
    impl: str = "auto",
) -> DataFrame:
    """CCNet-style perplexity filtering signal: score every document
    under a character-trigram language model trained on the corpus
    itself (Wenzek et al., "CCNet", LREC 2020 filter by LM perplexity —
    here a self-trained char LM instead of an external KenLM binary, so
    the whole computation stays an engine-replayable dataflow).

    Model: P(c₃|c₁c₂) = (count(c₁c₂c₃) + k) / (count(c₁c₂·) + k·V) with
    add-k smoothing over the corpus trigram/prefix tables, V = distinct
    trigram count. Score = mean −ln P over the doc's trigrams; unusually
    high scores mark gibberish/boilerplate/non-language bytes, unusually
    low mark degenerate repetition — both filter targets.

    Output: (doc_id, n_trigrams, avg_neg_logp) for docs with ≥ 1
    trigram. Determinism: the per-doc sum folds logs in POSITION order
    (array_sort + aggregate here, ``list_sum(list(... ORDER BY pos))``
    in the oracle) so both engines add in the same sequence; everything
    before the log is exact integer arithmetic.

    Scale: the count tables shuffle ∝ corpus trigram volume (map-side
    combined, the repetition_stats/decontamination class) — that pass is
    unavoidable. Scoring has two implementations:

    - ``impl="arrow"`` (default when the LM fits the broadcast gate):
      the count tables collect into broadcast sorted-id arrays and one
      mapInPandas scan scores each document fully vectorized
      (searchsorted vocab lookup + np.add.reduceat segment sums in
      position order) — no scoring join, no collect_list shuffle, no
      per-character Python loop. Measured 12.8 s (join) → ~2 s
      (interpreted arrow, r05) → vectorized (r06) at sf0.1.
    - ``impl="join"``: explode → two count joins → position-sorted
      aggregate fold. Keeps everything distributed; the fallback when
      the distinct-trigram count exceeds the broadcast gate (CJK-heavy
      corpora can push |charset|³ past it).

    ``impl="auto"`` picks arrow at or under the gate, join above it.
    Both fold logs in position order, so they agree to per-log ulp —
    and the oracle's ``list_sum(list(... ORDER BY pos))`` replays the
    same sequence.
    """
    txt = _txt(text_col)
    n_tri = F.length(txt) - F.lit(2)
    tris = F.transform(
        F.sequence(F.lit(1), n_tri),
        lambda i: F.struct(
            i.alias("pos"), F.substring(txt, i, 3).alias("tri")
        ),
    )
    occ = (
        # the length guard must come BEFORE sequence(): Spark's
        # sequence(1, n) turns DESCENDING for n < 1 and would fabricate
        # positions for sub-trigram docs (the oracle's range() is empty
        # there)
        df.filter(F.length(txt) >= 3)
        .select(F.col(id_col), tris.alias("ts"))
        .select(F.col(id_col), F.explode("ts").alias("t"))
        .select(
            F.col(id_col),
            F.col("t.pos").alias("pos"),
            F.col("t.tri").alias("tri"),
            F.substring(F.col("t.tri"), 1, 2).alias("bi"),
        )
    )
    # The trigram table builds from per-batch Counter partials in ONE
    # Arrow scan — the explode-of-10M-structs formulation costs 5 s at
    # sf0.1 purely in interpreted higher-order-function overhead, the
    # Counter pass ~0.3 s, and the shuffle carries only per-batch
    # DISTINCT trigrams (map-side combined by construction). Counts are
    # exact integers either way, so the oracle is unaffected. The table
    # is checkpointed because count()/collect()/the prefix rollup below
    # would otherwise each re-run the corpus scan; the prefix (bigram)
    # table rolls up from the trigram table — every occurrence's bigram
    # IS its trigram's 2-char prefix — so the corpus is scanned exactly
    # once for both tables.
    tri_counts = _tri_count_partials(df, text_col).localCheckpoint(
        eager=True
    )
    bi_counts = tri_counts.groupBy(
        F.substring("tri", 1, 2).alias("bi")
    ).agg(F.sum("ct").alias("cb"))
    v = tri_counts.count()  # distinct trigrams (exact, both engines)
    # the gate doubles as the impl switch: under it the LM collects and
    # broadcasts (arrow scoring, no join); above it a forced broadcast
    # would OOM executors (CJK-heavy corpora push |charset|³ into the
    # millions), so scoring stays a distributed join left to
    # Catalyst/AQE (same rationale as benchmark_contamination's gate)
    small = v <= 1_000_000
    if impl == "auto":
        impl = "arrow" if small else "join"
    if impl == "arrow":
        if not small:
            raise ValueError(
                f"impl='arrow' broadcasts the LM; {v} distinct trigrams "
                "exceed the 1M gate - use impl='join'"
            )
        return _lm_score_arrow(df, text_col, id_col, k, tri_counts, v)
    tri_c = F.broadcast(tri_counts) if small else tri_counts
    bi_c = F.broadcast(bi_counts) if small else bi_counts
    scored = (
        occ.join(tri_c, "tri")
        .join(bi_c, "bi")
        .withColumn(
            "logp",
            F.log(
                (F.col("ct") + F.lit(float(k)))
                / (F.col("cb") + F.lit(float(k) * v))
            ),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_trigrams"),
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("pos", "logp"))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["logp"],
            ).alias("_sum"),
        )
        .select(
            F.col(id_col),
            F.col("n_trigrams").cast("long").alias("n_trigrams"),
            F.round(-F.col("_sum") / F.col("n_trigrams"), 6).alias(
                "avg_neg_logp"
            ),
        )
    )


def _doc_trigram_ids(texts):
    """Vectorized character-trigram extraction: concatenate the docs
    (each ≥ 3 code points) into one uint32 codepoint array and return
    ``(tri_ids, bi_ids, n, seg)`` — int64 trigram / prefix-bigram ids
    for every in-document window in POSITION order, the per-doc window
    counts, and each doc's first-window offset into the id arrays.

    Ids pack the 3 (resp. 2) code points into one int64 (21 bits per
    code point covers all of Unicode, 3·21 = 63 bits), so id order is
    irrelevant to the math — they only need to be *injective* for the
    vocab lookup and np.unique. Windows never cross a doc boundary:
    each doc contributes exactly len-2 windows starting at its own
    offset."""
    import numpy as np

    lens = np.fromiter((len(t) for t in texts), np.int64, len(texts))
    cp = np.frombuffer(
        "".join(texts).encode("utf-32-le"), dtype=np.uint32
    ).astype(np.int64)
    n = lens - 2
    doc_off = np.concatenate(([0], np.cumsum(lens)[:-1]))
    seg = np.concatenate(([0], np.cumsum(n)[:-1]))
    idx = np.arange(int(n.sum()), dtype=np.int64) + np.repeat(
        doc_off - seg, n
    )
    c0, c1, c2 = cp[idx], cp[idx + 1], cp[idx + 2]
    tri = (c0 << 42) | (c1 << 21) | c2
    bi = (c0 << 21) | c1
    return tri, bi, n, seg


def _ids_to_strs(ids, width):
    """Decode packed codepoint ids back to their ``width``-char strings
    (inverse of the packing in _doc_trigram_ids). One Python slice per
    DISTINCT id — never per occurrence."""
    import numpy as np

    c = np.empty((len(ids), width), dtype=np.uint32)
    for j in range(width):
        c[:, width - 1 - j] = (ids >> (21 * j)) & 0x1FFFFF
    s = c.tobytes().decode("utf-32-le")
    return [s[i : i + width] for i in range(0, len(s), width)]


def _tri_count_partials(df, text_col):
    """(tri, ct) corpus counts via per-Arrow-batch np.unique over the
    vectorized trigram ids — one scan, shuffle rows ∝ distinct trigrams
    per batch, never occurrences. Counts are exact integers, so the
    id-space detour is invisible to the oracle."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = [t for t in pdf["t"] if len(t) >= 3]
            if not texts:
                continue
            tri, _, _, _ = _doc_trigram_ids(texts)
            u, cts = np.unique(tri, return_counts=True)
            yield pd.DataFrame(
                {"tri": _ids_to_strs(u, 3), "ct": cts.astype(np.int64)}
            )

    return (
        df.select(_txt(text_col).alias("t"))
        .filter(F.length("t") >= 3)
        .mapInPandas(partial, schema="tri string, ct long")
        .groupBy("tri")
        .agg(F.sum("ct").alias("ct"))
    )


def _lm_score_arrow(df, text_col, id_col, k, tri_counts, v):
    """Arrow scoring path: the LM (two sorted id/count arrays, ≤ the
    1M-row gate) broadcasts and one mapInPandas scan scores every
    document fully vectorized — packed-codepoint trigram ids, binary
    vocab lookup (np.searchsorted), np.log over the whole batch, and
    per-doc segment sums via np.add.reduceat in position order. No
    scoring join, no collect_list shuffle, and no per-character Python
    loop (the r05 version walked every character interpreted; at 10¹⁰
    docs that constant factor was the fleet bill)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    def _pack_vocab(rows, key, val, width):
        """Encode the collected count table to (sorted packed-id array,
        aligned count array) for O(log V) searchsorted lookups."""
        ks = [r[key] for r in rows]
        cp = np.frombuffer(
            "".join(ks).encode("utf-32-le"), dtype=np.uint32
        ).astype(np.int64).reshape(-1, width)
        ids = np.zeros(len(ks), dtype=np.int64)
        for j in range(width):
            ids |= cp[:, width - 1 - j] << (21 * j)
        order = np.argsort(ids)
        vals = np.fromiter((r[val] for r in rows), np.int64, len(ks))
        return ids[order], vals[order]

    spark = df.sparkSession
    tri_keys, tri_vals = _pack_vocab(tri_counts.collect(), "tri", "ct", 3)
    # the prefix (bigram) table derives DRIVER-SIDE from the collected
    # trigram table: a packed trigram id's top 42 bits ARE its 2-char
    # prefix id, and tri_keys is sorted, so the prefix ids are already
    # non-decreasing — one np.unique + segment sum replaces the
    # bi_counts groupBy job + its collect (exact integer math, bit-
    # identical to the substring rollup; two fewer fixed-latency jobs
    # on a query whose cost is ~all fixed overhead at bench scale)
    pref = tri_keys >> 21
    bi_keys, inv = np.unique(pref, return_inverse=True)
    bi_vals = np.zeros(len(bi_keys), dtype=np.int64)
    np.add.at(bi_vals, inv, tri_vals)
    bc = spark.sparkContext.broadcast(
        (tri_keys, tri_vals, bi_keys, bi_vals, float(k), float(k) * v)
    )

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tk, tv, bk, bv, kk, kv = bc.value
        for pdf in batches:
            keep = [
                (did, t)
                for did, t in zip(pdf["i"], pdf["t"])
                if len(t) >= 3
            ]
            if not keep:
                continue
            texts = [t for _, t in keep]
            tri, bi, n, seg = _doc_trigram_ids(texts)
            # the model trained on this same corpus, so every window id
            # is present in the vocab and searchsorted is an exact hit
            ct = tv[np.searchsorted(tk, tri)]
            cb = bv[np.searchsorted(bk, bi)]
            # same expression tree as the join path: divide, then log.
            # np.log's vectorized libm differs from JVM/DuckDB log by
            # ≤1 ulp per term (as math.log already did); the summation
            # order below (reduceat segment sums) can differ from the
            # oracle's sequential fold by strictly less than that —
            # both absorbed by the round(·,6) on the final average.
            logp = np.log((ct + kk) / (cb + kv))
            sums = np.add.reduceat(logp, seg)
            yield pd.DataFrame(
                {
                    "_id": np.fromiter(
                        (d for d, _ in keep), np.int64, len(keep)
                    ),
                    "n_trigrams": n,
                    "avg_neg_logp": -sums / n,
                }
            )

    txt = _txt(text_col)
    return (
        df.select(F.col(id_col).alias("i"), txt.alias("t"))
        .filter(F.length("t") >= 3)
        .mapInPandas(
            score, schema="_id long, n_trigrams long, avg_neg_logp double"
        )
        .select(
            F.col("_id").alias(id_col),
            "n_trigrams",
            # JVM-side HALF_UP round, same as the join path and oracle
            # (python's round() is half-to-even)
            F.round("avg_neg_logp", 6).alias("avg_neg_logp"),
        )
    )


def pack_token_windows(
    df: DataFrame,
    seq_len: int = 2048,
    n_shards: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """GPT-style sequence-packing coordinates: where every document's
    tokens land once the corpus is concatenated and cut into fixed
    ``seq_len`` training windows.

    Pretraining pipelines don't feed one document per sequence — they
    shuffle deterministically, concatenate the token stream, and slice
    it into equal windows (documents span window boundaries; packing
    efficiency is 100% by construction). The distributed form shards
    first: documents hash into ``n_shards`` independent streams
    (a global single stream would serialize the cumsum through one
    window partition — the classic scale trap), then within each shard
    a hash-ordered running token sum places each document at
    [tok_start, tok_end) of the shard stream; training window ``s``
    covers [s·seq_len, (s+1)·seq_len).

    Output per doc: (doc_id, shard, n_tokens, tok_start, tok_end,
    seq_first, seq_last, crosses_boundary). Deterministic and
    content-independent (md5 of the id), so the same corpus always
    packs identically — reproducible data recipes, and the DuckDB
    oracle replays it exactly. One shuffle (the per-shard window).

    At 100 TB: n_shards scales with the cluster (one running sum per
    shard, each a separate window partition); tokens here are the
    whitespace proxy — swap the count column for a real tokenizer's
    output upstream without touching the packing math.
    """
    from pyspark.sql import Window

    from vectordbindexing_spark.functions.hashing import det_hash64

    toks = F.size(words(_txt(text_col))).cast("long")
    h = det_hash64(F.col(id_col).cast("string"))
    base = df.select(
        F.col(id_col),
        toks.alias("n_tokens"),
        h.alias("_h"),
        (h % n_shards).cast("long").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("_h", id_col)
    # Integer floor division (DIV) on longs, not F.floor(x / n): the
    # double division loses exactness once a shard's running token sum
    # exceeds 2^53, and the DuckDB oracle uses exact integer `//`.
    # Offsets are non-negative so DIV == floor division here.
    sl = int(seq_len)
    out = (
        base.withColumn("tok_end", F.sum("n_tokens").over(w))
        .withColumn("tok_start", F.col("tok_end") - F.col("n_tokens"))
        .withColumn("seq_first", F.expr(f"tok_start DIV {sl}"))
        .withColumn(
            "seq_last",
            F.when(
                F.col("n_tokens") > 0,
                F.expr(f"(tok_end - 1) DIV {sl}"),
            ).otherwise(F.expr(f"tok_start DIV {sl}")),
        )
    )
    return out.select(
        F.col(id_col),
        "shard",
        "n_tokens",
        "tok_start",
        "tok_end",
        F.col("seq_first").cast("long").alias("seq_first"),
        F.col("seq_last").cast("long").alias("seq_last"),
        (F.col("seq_last") > F.col("seq_first"))
        .cast("long")
        .alias("crosses_boundary"),
    )
