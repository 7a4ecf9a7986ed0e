"""Memoized pins must never serve stale data (`caching.memoized_persist`).

A pin is keyed by (application, sf_dir) and versioned by the sf_dir's
parquet stamp. Rewriting a fixture in place under a live session must
rebuild the pin from the new rows and unpersist the superseded copy:
Spark's cache matches plans by file path, so a stale copy left pinned would
also answer the rebuild."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

from sdu_hadoop_indexer_spark.llm.dedup import _token_sets
from sdu_hadoop_indexer_spark.text.indexer import index_flat


def _write_docs(d: str, bodies: list[str]) -> None:
    """Overwrite d/documents.parquet in place (one file, same path)."""
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(bodies)), pa.int64()),
                "text": bodies,
                "lang": ["en"] * len(bodies),
                "source": ["s"] * len(bodies),
                "n_chars": pa.array([len(b) for b in bodies], pa.int64()),
            }
        ),
        f"{d}/documents.parquet",
    )


def _pairs(bodies: list[str]) -> set[tuple[int, str]]:
    return {(i, t) for i, b in enumerate(bodies) for t in b.lower().split()}


def _cached_rdd_ids(spark) -> set[int]:
    """Ids of the session's materialized cached relations."""
    return {r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_rewritten_input_rebuilds_pins_and_drops_the_old_copy(spark, tmp_path):
    d = str(tmp_path)
    before = _cached_rdd_ids(spark)
    for bodies in (["alpha beta", "gamma"], ["delta epsilon zeta", "eta", "theta"]):
        _write_docs(d, bodies)
        tsets = {(r.doc_id, r.term) for r in _token_sets(spark, d).collect()}
        flat = {(r.doc_id, r.term) for r in index_flat(spark, d).collect()}
        assert tsets == flat == _pairs(bodies)
        # one token-set pin + one flat-index pin, never a superseded copy
        assert len(_cached_rdd_ids(spark) - before) == 2


def test_unchanged_input_is_a_cache_hit(spark, tmp_path):
    d = str(tmp_path)
    _write_docs(d, ["alpha beta", "gamma"])
    assert index_flat(spark, d) is index_flat(spark, d)
