"""Deterministic cost pins: the Spark job counts of the cold MinHash pipeline
and of the warm search ops.

Job counts do not move with host load, so an extra eager job (a re-added
convergence probe, a re-added checkpoint of a pinned relation, a search op
that re-tokenizes instead of reading the pinned index) fails here
deterministically, with no timing window. Each op is one build plus a
noop-sink write, under its own job group, on a fresh session (runtime
confs from `session.tune` only, like a session the program does not own) over
a private copy of the sf0.001 documents, so every memoized pin misses until
the op (or a warm-up call) builds it."""

from __future__ import annotations

import os
import shutil

from sdu_hadoop_indexer_spark import registry

# jobs per op. dedup_minhash_lsh: the documents schema read, the band pin
# and the bucket self-join. dedup_minhash_cluster: one job per half-round
# (two per components round) plus the output's result job; this corpus
# reaches its fixed point at round 4, which round 5's bucket half-round
# proves. (The sum-of-labels probe loop fired 33 jobs here.)
COLD_JOBS = {"dedup_minhash_lsh": 11, "dedup_minhash_cluster": 11}


# jobs per search op once the flat index is pinned: a filter over the pin is
# one job; a doc_id join adds its broadcast build, a per-term regroup its
# shuffle stage; bm25 = query-term df (shuffle + broadcast) + doc lengths
# (broadcast) + corpus stats (shuffle + broadcast) + the top-10. Every one
# of these re-ran scan → spread → tokenize → groupBy before the pin.
WARM_SEARCH_JOBS = {
    "text_term_lookup": 1,
    "text_bool_and": 1,
    "text_phrase": 2,
    "join_self_positional": 2,
    "text_snippet": 2,
    "text_index_nested": 2,
    "text_bm25": 6,
}


def _job_counts(spark, sf_dir, tmp_path, names, tag, warm=False):
    """{name: jobs} of one noop-sink run of each op in ``names``; with
    ``warm``, every op first runs once untimed (outside the job group)."""
    run_dir = str(tmp_path)
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), run_dir)
    session = spark.newSession()
    sc = session.sparkContext
    queries = registry.all_queries()
    if warm:
        for name in names:
            queries[name](session, run_dir).write.format("noop").mode(
                "overwrite"
            ).save()
    got = {}
    for name in names:
        group = f"{tag}-{name}"
        sc.setJobGroup(group, name)
        try:
            df = queries[name](session, run_dir)
            df.write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    return got


def test_cold_minhash_pipeline_job_counts(spark, sf_dir, tmp_path):
    assert _job_counts(spark, sf_dir, tmp_path, COLD_JOBS, "cold") == COLD_JOBS


def test_warm_search_ops_read_the_pinned_index(spark, sf_dir, tmp_path):
    got = _job_counts(spark, sf_dir, tmp_path, WARM_SEARCH_JOBS, "warm", True)
    assert got == WARM_SEARCH_JOBS
