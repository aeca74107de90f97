"""Edit-distance near-dup: lossless prefix filter vs brute force."""

from __future__ import annotations

import itertools
import random

from vectordbindexing_spark.operators.dedup import editdist_neardup_pairs


def _ed(a, b):
    la, lb = len(a), len(b)
    dp = list(range(lb + 1))
    for i in range(1, la + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, lb + 1):
            cur = dp[j]
            dp[j] = min(dp[j] + 1, dp[j - 1] + 1, prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return dp[lb]


def _truth(docs, d):
    return {
        (min(a, b), max(a, b), _ed(ta, tb))
        for (a, ta), (b, tb) in itertools.combinations(docs, 2)
        if _ed(ta, tb) <= d
    }


def test_matches_brute_force_adversarial(spark):
    # tiny alphabet + many short strings: maximally stresses both the
    # prefix filter and the short-doc sentinel hole
    rng = random.Random(42)
    docs = [
        (i, "".join(rng.choice("abcde") for _ in range(rng.randint(0, 20))))
        for i in range(150)
    ]
    docs += [(1000 + i, t[1:] + rng.choice("abcde"))
             for i, (_, t) in enumerate(docs[:30])]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in editdist_neardup_pairs(df, d=2, q=3).collect()
    }
    assert got == _truth(docs, 2)


def test_matches_brute_force_d1(spark):
    rng = random.Random(9)
    docs = [
        (i, "".join(rng.choice("xyz") for _ in range(rng.randint(1, 12))))
        for i in range(120)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in editdist_neardup_pairs(df, d=1, q=2).collect()
    }
    assert got == _truth(docs, 1)


def test_short_and_empty_strings(spark):
    # all below the q-gram floor: only the sentinel bucket finds these
    docs = [(1, ""), (2, "a"), (3, "ab"), (4, "xy"), (5, "abc"), (6, "zzzzzzzz")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in editdist_neardup_pairs(df, d=2, q=3).collect()
    }
    assert got == _truth(docs, 2)
    assert (1, 2, 1) in got  # empty vs one char


def test_no_false_positives_far_strings(spark):
    docs = [(1, "completely different text"), (2, "nothing alike here at all")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    assert editdist_neardup_pairs(df, d=2, q=3).count() == 0


def test_cell_cap_engages_only_on_overflow(spark):
    # degenerate template corpus: every doc shares the same grams
    docs = [(i, f"aaaaaaaaaa{i % 3}") for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = {
        (r["id_a"], r["id_b"])
        for r in editdist_neardup_pairs(df, d=1, q=3, cell_cap=10).collect()
    }
    full = _truth(docs, 1)
    # never false positives; capped output is a subset of truth
    assert capped <= {(a, b) for a, b, _ in full}
    # a cap above the 60-row corpus never engages, so the grouped
    # candidate pass runs uncapped and is exact
    uncapped = {
        (r["id_a"], r["id_b"], r["dist"])
        for r in editdist_neardup_pairs(df, d=1, q=3, cell_cap=100).collect()
    }
    assert uncapped == full


def test_corpus_is_ascii(sf_dir):
    # the DuckDB oracle's levenshtein is byte-based vs Spark's
    # char-based; they agree only on ASCII — pin the assumption
    import duckdb

    n = duckdb.sql(
        f"select count(*) from '{sf_dir}/documents.parquet' "
        "where octet_length(text::BLOB) <> length(text)"
    ).fetchone()[0]
    assert n == 0
