"""Flagship index pipeline: golden corpus + invariants (SURVEY.md §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sdu_hadoop_indexer_spark.text.indexer import (
    doclen,
    index_flat,
    index_nested,
    tokenize,
    wordcount,
)

# 5-doc golden micro-corpus in the documents schema. Exercises: repeated
# terms, unicode, repeated whitespace (the reference's split("\s") pitfall,
# App.scala:155), empty body, single-token doc.
GOLDEN = [
    (0, "big data big index", "en", "src0", 18),
    (1, "data  lake", "en", "src0", 10),  # double space
    (2, "héllo wörld héllo", "fr", "src1", 17),
    (3, "", "en", "src1", 0),  # empty body
    (4, "index", "en", "src2", 5),
]

# Expected nested index: term -> [(doc_id, positions)] with 0-based ordinals.
EXPECTED = {
    "big": ([(0, [0, 2])], 1),
    "data": ([(0, [1]), (1, [0])], 2),
    "index": ([(0, [3]), (4, [0])], 2),
    "lake": ([(1, [1])], 1),  # \s+ consumes the double space: no phantom ordinal
    "héllo": ([(2, [0, 2])], 1),
    "wörld": ([(2, [1])], 1),
}


# The golden corpus plus `join` documents for the snippet: a leading space
# (the raw split's empty slot 0 shifts every ordinal by one) with double
# spaces inside, and a tab-separated doc hitting `join` twice.
SNIPPET_GOLDEN = GOLDEN + [
    (5, " fast  join of  big data", "en", "src2", 24),
    (6, "join  the\tjoin", "en", "src2", 15),
]

# Expected text_snippet rows: (doc_id, first_pos, snippet).
EXPECTED_SNIPPETS = {(5, 2, "fast join of big"), (6, 0, "join the join")}


def _write_golden(spark, d, rows) -> str:
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")
    df.write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def golden_dir(spark, tmp_path_factory):
    return _write_golden(spark, tmp_path_factory.mktemp("golden"), GOLDEN)


def test_golden_nested_index(spark, golden_dir):
    rows = index_nested(spark, golden_dir).collect()
    got = {
        r.term: ([(p.doc_id, p.positions) for p in r.postings], r.df) for r in rows
    }
    assert got == EXPECTED


def test_golden_doclen(spark, golden_dir):
    got = {r.doc_id: r.dl for r in doclen(spark, golden_dir).collect()}
    # doc 3 (empty body) has no tokens → absent from the doclen table
    assert got == {0: 4, 1: 2, 2: 3, 4: 1}


def test_golden_snippet_uses_raw_split_ordinals(spark, tmp_path_factory):
    """The snippet is read off the pinned postings, whose positions are the
    raw-split ordinals: a leading space puts the first token at 1, and
    double spaces/tabs add no phantom slot."""
    from sdu_hadoop_indexer_spark.text.search import text_snippet

    d = _write_golden(spark, tmp_path_factory.mktemp("snippet"), SNIPPET_GOLDEN)
    got = {tuple(r) for r in text_snippet(spark, d).collect()}
    assert got == EXPECTED_SNIPPETS


def test_tokenize_double_space_keeps_ordinals(spark, golden_dir):
    toks = tokenize(spark, golden_dir).where(F.col("doc_id") == 1).collect()
    assert {(t.pos, t.term) for t in toks} == {(0, "data"), (1, "lake")}


def test_invariant_tf_sums_to_token_count(spark, sf_dir):
    """∀ corpus: Σ tf over the flat index == total token count."""
    total_tokens = tokenize(spark, sf_dir).count()
    tf_sum = index_flat(spark, sf_dir).agg(F.sum("tf")).collect()[0][0]
    assert tf_sum == total_tokens


def test_invariant_df_equals_postings_len(spark, sf_dir):
    bad = (
        index_nested(spark, sf_dir)
        .where(F.col("df") != F.size("postings"))
        .count()
    )
    assert bad == 0


def test_invariant_wordcount_matches_flat(spark, sf_dir):
    wc = {r.term: r.cnt for r in wordcount(spark, sf_dir).collect()}
    via_flat = {
        r.term: r.total
        for r in index_flat(spark, sf_dir)
        .groupBy("term")
        .agg(F.sum("tf").alias("total"))
        .collect()
    }
    assert wc == via_flat


def test_positions_are_sorted_ordinals(spark, sf_dir):
    flat = index_flat(spark, sf_dir)
    bad = flat.where(
        F.col("positions") != F.sort_array("positions")
    ).count()
    assert bad == 0


def test_sharded_index_reconstructs_nested_and_bounds_groups(spark, sf_dir):
    """Union of a term's shards must reproduce the nested index exactly
    (same postings multiset, df = sum of shard dfs), and the hottest
    reduce group must shrink by ~N_POSTING_SHARDS — the straggler bound
    the sharding exists for (round-12 skew study)."""
    from sdu_hadoop_indexer_spark.text.indexer import (
        N_POSTING_SHARDS,
        index_sharded,
    )

    nested = {
        r.term: (sorted((p.doc_id, tuple(p.positions)) for p in r.postings),
                 r.df)
        for r in index_nested(spark, sf_dir).collect()
    }
    sharded = index_sharded(spark, sf_dir).collect()
    merged: dict[str, list] = {}
    df_sum: dict[str, int] = {}
    max_group = 0
    for r in sharded:
        assert 0 <= r.shard < N_POSTING_SHARDS
        assert all(p.doc_id % N_POSTING_SHARDS == r.shard for p in r.postings)
        assert r.df_shard == len(r.postings)
        merged.setdefault(r.term, []).extend(
            (p.doc_id, tuple(p.positions)) for p in r.postings
        )
        df_sum[r.term] = df_sum.get(r.term, 0) + r.df_shard
        max_group = max(max_group, len(r.postings))
    assert {t: (sorted(v), df_sum[t]) for t, v in merged.items()} == nested
    hottest_nested = max(df for _, df in nested.values())
    # each shard holds the hot term's docs with doc_id % N == shard; allow
    # 2x headroom over the perfect split for doc_id distribution
    assert max_group <= max(2 * hottest_nested // N_POSTING_SHARDS + 1, 8)
