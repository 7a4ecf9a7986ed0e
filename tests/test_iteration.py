"""Executor-loss-safe round staging (iteration.stage_round): the
``reliable=True`` parquet path must produce results identical to the default
executor-local-checkpoint path for every iterative operator that uses it
(round-3 verdict item 6: localCheckpoint blocks die with their executor at
cluster scale, so the staged form is the 100 TB mode)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sdu_hadoop_indexer_spark import iteration


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_stage_round_parquet_roundtrip(spark, tmp_path, monkeypatch):
    monkeypatch.setenv(iteration.STAGE_DIR_ENV, str(tmp_path / "stage"))
    df = spark.range(100).select("id", (F.col("id") * 3).alias("v"))
    staged = iteration.stage_round(df, reliable=True)
    assert _rows(staged) == _rows(df)
    # the round actually hit the filesystem (lineage now starts at files)
    assert os.listdir(str(tmp_path / "stage"))
    assert "Scan parquet" in staged._jdf.queryExecution().executedPlan().toString()


def test_minhash_cluster_reliable_matches_default(spark, sf_dir, tmp_path, monkeypatch):
    from sdu_hadoop_indexer_spark.llm import dedup

    monkeypatch.setenv(iteration.STAGE_DIR_ENV, str(tmp_path / "stage"))
    base = _rows(dedup.dedup_minhash_cluster(spark, sf_dir))
    staged = _rows(dedup.dedup_minhash_cluster(spark, sf_dir, reliable=True))
    assert staged == base
    # bounded disk: RoundStager deletes superseded rounds, so only the
    # final labels round remains (NOT one dir per round)
    dirs = os.listdir(str(tmp_path / "stage"))
    assert len(dirs) == 1


def test_pagerank_reliable_matches_default(spark, sf_dir, tmp_path, monkeypatch):
    from sdu_hadoop_indexer_spark.text import mining

    monkeypatch.setenv(iteration.STAGE_DIR_ENV, str(tmp_path / "stage"))
    base = _rows(mining.pagerank_keywords(spark, sf_dir))
    staged = _rows(mining.pagerank_keywords(spark, sf_dir, reliable=True))
    assert staged == base


def test_bpe_train_reliable_matches_default(spark, sf_dir, tmp_path, monkeypatch):
    from sdu_hadoop_indexer_spark.llm import tokenizer

    monkeypatch.setenv(iteration.STAGE_DIR_ENV, str(tmp_path / "stage"))
    base = _rows(tokenizer.bpe_train(spark, sf_dir, n_merges=8))
    staged = _rows(tokenizer.bpe_train(spark, sf_dir, n_merges=8, reliable=True))
    assert staged == base


def test_bpe_incremental_counts_path_matches(spark, sf_dir, monkeypatch):
    """The SPARK_GRAFT_BPE_INCREMENTAL=1 delta-maintained pair counts (the
    corpus-scale form — r16, kept env-gated after losing the fixture-scale
    A/B) must produce the identical merge table AND identical final encoded
    vocab to the default full-recount loop."""
    from sdu_hadoop_indexer_spark.llm import tokenizer

    base = _rows(tokenizer.bpe_train(spark, sf_dir, n_merges=8))
    base_enc = _rows(tokenizer.bpe_encode(spark, sf_dir, n_merges=8))
    monkeypatch.setenv("SPARK_GRAFT_BPE_INCREMENTAL", "1")
    inc = _rows(tokenizer.bpe_train(spark, sf_dir, n_merges=8))
    inc_enc = _rows(tokenizer.bpe_encode(spark, sf_dir, n_merges=8))
    assert inc == base
    assert inc_enc == base_enc
