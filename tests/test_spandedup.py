"""Duplicated-span detection (spandedup) — hand-computed fixtures.

Window w=3 keeps every expectation checkable by eye. Fixture:
  doc 1 "a b c d e f"  — shares span "c d e" with doc 2 (canonical here)
  doc 2 "x x c d e y"  — the duplicate occurrence (removable)
  doc 3 "z z z z z"    — within-doc repetition, overlapping windows
  doc 4 "p q"          — shorter than w: zero windows
  doc 5 NULL           — NULL text tolerated as empty
"""

from __future__ import annotations

import duckdb
import pytest

from vectordbindexing_spark.operators.spandedup import duplicated_spans

ROWS = [
    (1, "a b c d e f"),
    (2, "x x c d e y"),
    (3, "z z z z z"),
    (4, "p q"),
    (5, None),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def test_duplicated_spans_stats(spark, docs):
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_windows"],
            r["n_dup_windows"],
            r["dup_cover"],
            r["removable_cover"],
        )
        for r in duplicated_spans(docs, window=3).collect()
    }
    assert got == {
        1: (6, 4, 1, 3, 0),  # canonical "c d e" stays
        2: (6, 4, 1, 3, 3),  # duplicate occurrence is removable
        3: (5, 3, 3, 5, 4),  # [0,3)∪[1,4)∪[2,5)=5; minus canonical [0,3)-island start → [1,5)=4
        4: (2, 0, 0, 0, 0),
        5: (0, 0, 0, 0, 0),
    }


def test_stats_schema_is_all_bigint(docs):
    out = duplicated_spans(docs, window=3)
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["bigint"] * 6


def test_duckdb_parity_on_fixture(spark, docs):
    """The oracle formulation (same SQL the contract oracle uses) agrees
    row-for-row with the Spark operator on this fixture."""
    from vectordbindexing_spark.oracles import duplicated_spans_sql

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {'NULL' if t is None else repr(t)})" for i, t in ROWS
        )
        + ") AS v(doc_id, text)"
    )
    oracle = {
        row[0]: row[1:]
        for row in con.sql(duplicated_spans_sql(window=3)).fetchall()
    }
    got = {
        r["doc_id"]: (
            r["n_tokens"],
            r["n_windows"],
            r["n_dup_windows"],
            r["dup_cover"],
            r["removable_cover"],
        )
        for r in duplicated_spans(docs, window=3).collect()
    }
    assert got == oracle


def test_det_hash60_three_way_parity():
    from vectordbindexing_spark.functions.hashing import (
        DET_HASH60_SQL,
        det_hash60_py,
    )

    s = "c d e"
    duck = duckdb.sql(
        "SELECT " + DET_HASH60_SQL.format(s=repr(s))
    ).fetchone()[0]
    assert duck == det_hash60_py(s)
    assert 0 <= duck < (1 << 60)
