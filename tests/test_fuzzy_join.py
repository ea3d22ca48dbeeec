"""Blocked edit-distance join vs a brute-force driver reference."""

from __future__ import annotations

import pytest

from datapump_spark.operators.fuzzy_join import edit_distance_pairs


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


STRINGS = [
    (0, "the quick brown fox"),
    (1, "the quick brown fix"),        # dist 1 to 0
    (2, "the quick brown foxes"),      # dist 2 to 0, 3 to 1
    (3, "a completely different one"),
    (4, "the quick brown fox"),        # exact dup of 0
    (5, "short"),
    (6, "shirt"),                      # dist 1 to 5
    (7, ""),                           # empty edge case
    (8, "sho"),                        # dist 2 to 5/6 (len diff 2)
]


def brute(max_dist):
    out = set()
    for i, a in STRINGS:
        for j, b in STRINGS:
            if i < j and abs(len(a) - len(b)) <= max_dist:
                d = _lev(a, b)
                if d <= max_dist:
                    out.add((i, j, d))
    return out


@pytest.mark.parametrize("k", [1, 2, 3])
def test_blocking_is_lossless(spark, k):
    df = spark.createDataFrame(STRINGS, "doc_id int, text string")
    got = {(r["id_l"], r["id_r"], r["dist"])
           for r in edit_distance_pairs(df, max_dist=k).collect()}
    assert got == brute(k)


def test_no_duplicate_pairs(spark):
    df = spark.createDataFrame(STRINGS, "doc_id int, text string")
    rows = edit_distance_pairs(df, max_dist=3).collect()
    keys = [(r["id_l"], r["id_r"]) for r in rows]
    assert len(keys) == len(set(keys))
    assert all(r["id_l"] < r["id_r"] for r in rows)


def test_extra_block_col_restricts_pairs(spark):
    # same strings, but blocked by a group column: cross-group pairs vanish
    rows = [(i, t, i % 2) for i, t in STRINGS]
    df = spark.createDataFrame(rows, "doc_id int, text string, grp int")
    got = {(r["id_l"], r["id_r"])
           for r in edit_distance_pairs(
               df, max_dist=3, extra_block_col="grp").collect()}
    expect = {(i, j) for i, j, _ in brute(3) if i % 2 == j % 2}
    assert got == expect


def test_max_dist_validation(spark):
    df = spark.createDataFrame(STRINGS, "doc_id int, text string")
    with pytest.raises(ValueError):
        edit_distance_pairs(df, max_dist=0)


def test_odd_text_column_name_gives_same_pairs(spark):
    """A backtick and a space in the text column name cannot break the
    generated SQL text or the F.col reference."""
    rows = [(1, "hello"), (2, "hallo"), (3, "zzzzzzzzzzzz")]

    def pairs(text_col):
        df = spark.createDataFrame(rows, ["doc_id", text_col])
        out = edit_distance_pairs(df, text_col=text_col, max_dist=2)
        return sorted(map(tuple, out.collect()))

    assert pairs("text") == [(1, 2, 1)]
    assert pairs("a`b Join") == pairs("text")
