"""Connected components over a doc↔bucket member relation
(`dedup._min_label_components`, the core of `dedup_minhash_cluster`) on
adversarial graph shapes, each checked against a pure-Python union-find."""

from __future__ import annotations

import warnings

import pytest

from sdu_hadoop_indexer_spark.llm import dedup as D


def union_find(member: list[tuple[int, int]]) -> dict[int, int]:
    """doc_id -> min doc_id of its component, by union-find over buckets."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    first: dict[int, int] = {}
    for bkt, doc in member:
        parent.setdefault(doc, doc)
        if bkt in first:
            a, b = find(first[bkt]), find(doc)
            parent[max(a, b)] = min(a, b)
        else:
            first[bkt] = doc
    return {d: find(d) for d in parent}


def components(spark, member: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(member, "bkt long, doc_id long")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        rows = D._min_label_components(df).collect()
    return {r.doc_id: r.label for r in rows}


def chain(n_docs: int) -> list[tuple[int, int]]:
    """Docs 0..n-1 where bucket i holds docs i and i+1: n-1 hops from the
    min label at one end to the other end, the slowest shape to converge."""
    return [(b, d) for b in range(n_docs - 1) for d in (b, b + 1)]


def test_chain_of_ten_converges(spark):
    member = chain(10)
    assert components(spark, member) == union_find(member)


def test_chain_of_max_hops_converges(spark):
    member = chain(D.MAX_CC_ITERS + 1)  # exactly MAX_CC_ITERS hops
    assert components(spark, member) == union_find(member)


def test_chain_longer_than_max_hops_raises(spark):
    df = spark.createDataFrame(chain(D.MAX_CC_ITERS + 2), "bkt long, doc_id long")
    with pytest.raises(RuntimeError, match="no fixed point"):
        D._min_label_components(df)


def test_one_giant_clique(spark):
    # every doc shares bucket 7 and keeps three private buckets (one per
    # other band), ids not starting at 0
    docs = range(1000, 1400)
    member = [(7, d) for d in docs] + [(d * 10 + j, d) for d in docs for j in (1, 2, 3)]
    got = components(spark, member)
    assert got == union_find(member)
    assert set(got.values()) == {1000}


def test_all_singletons(spark):
    member = [(d * 10 + j, d) for d in range(50) for j in range(4)]
    got = components(spark, member)
    assert got == union_find(member)
    assert all(label == d for d, label in got.items())


def test_two_cliques_bridged_by_one_bucket(spark):
    a, b = range(30, 40), range(10, 20)
    member = (
        [(100, d) for d in a]
        + [(200, d) for d in b]
        + [(300, 39), (300, 15)]  # the one shared bucket
        + [(1000 + d, d) for d in (*a, *b)]
    )
    got = components(spark, member)
    assert got == union_find(member)
    assert set(got.values()) == {10}
