"""Deterministic cost pin: the Spark job counts of the cold MinHash pipeline.

Job counts do not move with host load, so an extra eager job (a re-added
convergence probe, a re-added checkpoint of a pinned relation) fails here
deterministically, with no timing window. Each op is one build plus a
noop-sink write, under its own job group, on a fresh session (runtime
confs from `session.tune` only, like a session the program does not own) over
a private copy of the sf0.001 documents, so every memoized pin misses."""

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


def test_cold_minhash_pipeline_job_counts(spark, sf_dir, tmp_path):
    cold_dir = str(tmp_path)
    shutil.copy(os.path.join(sf_dir, "documents.parquet"), cold_dir)
    session = spark.newSession()
    sc = session.sparkContext
    queries = registry.all_queries()
    got = {}
    for name in COLD_JOBS:
        group = f"job-count-{name}"
        sc.setJobGroup(group, name)
        try:
            df = queries[name](session, cold_dir)
            df.write.format("noop").mode("overwrite").save()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        got[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert got == COLD_JOBS
