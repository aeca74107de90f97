"""Exact duplicated-span detection (substring-level dedup).

Spark-first re-expression of suffix-array training-data dedup (Lee et
al. 2022, "Deduplicating Training Data Makes Language Models Better",
github.com/google-research/deduplicate-text-datasets): a global suffix
array needs a global sort over every byte of the corpus — the one
operation that does NOT scale on a shuffle architecture. The
equivalent-for-fixed-granularity formulation used here: hash every
rolling ``window``-token span, shuffle ONCE on the 60-bit span hash,
and mark spans whose hash occurs >= 2 times corpus-wide. Any duplicated
region of >= window tokens contains a duplicated window, so coverage is
exact at window granularity. Per-doc duplicated-token coverage is an
interval union of the [pos, pos+window) hits — one window-function pass
(lag-based island detection), no per-doc Python.

Scale shape (100 TB): tokenize + window-hash are per-row narrow ops;
the only wide ops are one groupBy(whash) (map-side combinable: count +
min-key) and one co-partitioned join back on whash; the interval union
shuffles only the *duplicated* windows by doc_id. Nothing is ever
all-pairs and no driver state exists. Complements the probabilistic
near-dup stack in ``operators/dedup.py`` (MinHash/SimHash find
whole-doc near-copies; this finds verbatim shared regions the
band-hash designs cannot localize).

The reference repo has no substring dedup; this is part of the
LLM-pipeline capability scope (SURVEY §0/§7 Phase 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from vectordbindexing_spark.functions.hashing import det_hash60
from vectordbindexing_spark.functions.text import words

# Canonical-occurrence key packs (doc_id, pos) into one BIGINT so both
# engines can argmin it with plain integer min(): key = doc_id * 2^22 + pos.
# Bounds: pos < 2^22 (4.2M tokens/doc — chunk_documents long before that)
# and doc_id < 2^41. Checked at runtime on the Spark side.
POS_LIMIT = 1 << 22


def window_hash_col(toks, window: int):
    """Rolling ``window``-token span hashes for a token-array column.

    Docs shorter than ``window`` tokens emit an empty array (a span of
    fewer tokens cannot witness a >=window duplicate). ``sequence`` is
    guarded behind the length check — Spark's sequence(1, n) DESCENDS
    for n < 1.
    """
    n = F.size(toks)
    return F.when(
        n >= window,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(window - 1)),
            lambda i: det_hash60(F.concat_ws(" ", F.slice(toks, i, window))),
        ),
    ).otherwise(F.array().cast("array<long>"))


def _interval_cover(hits: DataFrame, id_col: str, window: int, out_col: str) -> DataFrame:
    """Tokens covered by the union of [pos, pos+window) intervals, per doc.

    All intervals share one length, so islands split exactly where the
    gap to the previous start is >= window (lag), and each island covers
    max(pos) - min(pos) + window tokens. One window pass + one groupBy,
    both partitioned by doc — no cross-doc data movement.
    """
    wspec = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(wspec)
    isl = F.sum(F.when(prev.isNull() | (F.col("pos") - prev >= window), 1).otherwise(0)).over(
        wspec.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        hits.select(id_col, "pos")
        .withColumn("_isl", isl)
        .groupBy(id_col, "_isl")
        .agg((F.max("pos") - F.min("pos") + F.lit(window)).alias("_len"))
        .groupBy(id_col)
        .agg(F.sum("_len").cast("long").alias(out_col))
    )


def duplicated_spans(
    df: DataFrame,
    window: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span statistics at ``window``-token
    granularity.

    Output columns (all BIGINT — exact integers keep the cross-engine
    hash gate trivial):
      n_tokens          whitespace tokens in the doc (NULL text -> 0)
      n_windows         rolling windows emitted (max(n_tokens-window+1, 0))
      n_dup_windows     windows whose hash occurs >= 2 times corpus-wide
      dup_cover         tokens under the union of duplicated windows
      removable_cover   same union, excluding each hash's canonical
                        (lowest (doc_id, pos)) occurrence — the tokens
                        Lee-et-al-style dedup would actually cut

    Ties/canonical choice are deterministic: the keeper of a duplicated
    span is the occurrence with the smallest packed (doc_id, pos) key.
    """
    toks = words(F.coalesce(F.col(text_col), F.lit("")))
    # stats0 tokenizes but never hashes — size() alone is ~5x cheaper
    # than the md5-per-window branch below, so recomputing it here beats
    # carrying the hash arrays through a wide schema.
    n = F.size(toks)
    stats0 = df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        F.greatest(n - F.lit(window - 1), F.lit(0)).cast("long").alias("n_windows"),
    )
    # The expensive branch (tokenize + md5 per window) must execute ONCE:
    # an explicit repartition(whash) puts one exchange directly above it,
    # and both downstream consumers (the occurrence agg AND the join
    # probe) read that exchange's shuffle files instead of recomputing
    # the hashes — the final adaptive plan carries a ReusedExchange for
    # it (measured at 100k docs: 56.7 s -> 30.8 s, identical output).
    ex = (
        df.select(F.col(id_col), F.posexplode(window_hash_col(toks, window)).alias("pos", "whash"))
        .withColumn(
            "_ckey",
            F.when(
                F.col("pos") < POS_LIMIT, F.col(id_col) * POS_LIMIT + F.col("pos")
            ).otherwise(
                F.raise_error(F.lit("duplicated_spans: pos >= 2^22; chunk the doc first"))
            ),
        )
        .repartition("whash")
    )
    agg = (
        ex.groupBy("whash")
        .agg(F.count(F.lit(1)).alias("_n_occ"), F.min("_ckey").alias("_ckey_min"))
        .filter(F.col("_n_occ") >= 2)
        .select("whash", "_ckey_min")
    )
    # join is already co-partitioned on whash; the repartition(id) below
    # makes the join's own subtree a reused exchange too, so the three
    # per-doc consumers (count + two interval unions) compute it once.
    dup = ex.join(agg, "whash").repartition(id_col)
    ndup = dup.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_dup_windows"))
    cover_dup = _interval_cover(dup, id_col, window, "dup_cover")
    cover_rm = _interval_cover(
        dup.filter(F.col("_ckey") != F.col("_ckey_min")), id_col, window, "removable_cover"
    )
    out = (
        stats0.join(ndup, id_col, "left")
        .join(cover_dup, id_col, "left")
        .join(cover_rm, id_col, "left")
    )
    zero = F.lit(0).cast("long")
    return out.select(
        id_col,
        "n_tokens",
        "n_windows",
        F.coalesce("n_dup_windows", zero).alias("n_dup_windows"),
        F.coalesce("dup_cover", zero).alias("dup_cover"),
        F.coalesce("removable_cover", zero).alias("removable_cover"),
    )
