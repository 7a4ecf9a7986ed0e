"""Session-scoped persisted-artifact memoization.

Several operators rebuild the same intermediate relation on every call —
the MinHash band table (`llm.dedup._lsh_bands`), the blocked all-pairs
replication (`llm.similarity.blocked_pair_groups`). Re-persisting a fresh
copy per call leaks cached partitions into the long-lived gate/bench
session until LRU eviction silently recomputes lineage mid-suite; this
helper pins ONE persisted copy per (application, sf_dir, input version)
and drops only genuinely stale entries — dead sessions, or a SUPERSEDED
entry for the same sf_dir whose parquet files were rewritten. Live entries
for OTHER sf_dirs of the same app are kept, so a caller interleaving SFs
(the multi-SF gate loop) does not thrash-recompute the expensive
band/blocked-pair lineage on every switch (round-3 ADVICE).
At cluster scale these artifacts are staged tables (parquet); in-session
they are the engine's pinned build-side relations.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

# input version each pin was built from, keyed (id(cache), (app, sf_dir));
# kept beside the caches so every cache stays a plain key -> DataFrame map
_STAMPS: dict[tuple[int, tuple[str, str]], tuple] = {}


def input_stamp(sf_dir: str) -> tuple:
    """Version of an sf_dir's inputs: the (name, mtime_ns, size) of every
    ``*.parquet`` entry — the per-file stamp `catalog.table` keys its
    handles on, taken over the whole directory because a pin may read any
    of its tables. A rewrite in place changes it."""
    try:
        with os.scandir(sf_dir) as it:
            entries = [
                (e.name, e.stat()) for e in it if e.name.endswith(".parquet")
            ]
    except OSError:
        return ()
    return tuple(sorted((n, st.st_mtime_ns, st.st_size) for n, st in entries))


def memoized_persist(
    cache: dict[tuple[str, str], DataFrame],
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], DataFrame],
    pin: bool = True,
) -> DataFrame:
    """Return the cached persisted relation for (app, sf_dir), building and
    persisting it on first use. A hit is served only while the sf_dir's
    `input_stamp` equals the one the pin was built from; a rewritten input
    unpersists the superseded pin before the rebuild (Spark's cache
    matches plans by file PATH, not content, so a rebuild next to a live
    stale pin would be answered from the stale blocks). Eviction policy:
    on a miss, drop only entries from DEAD sessions (other applicationId —
    their executors are gone, the handles are unusable, nothing to
    unpersist); every live entry of the current app (necessarily for other
    sf_dirs — a same-SF entry would have been the hit) is kept, so a
    multi-SF gate loop never thrash-recomputes the expensive
    band/blocked-pair lineage.

    Two pin forms coexist since r15 (ADVICE r15 — keep them distinct):

    * CORPUS-SHAPED pins (the LSH bands relation, blocked pairs) persist
      the lazy handle (``pin=True``, the default). A checkpoint leaf here
      would freeze the build's AQE-coalesced partitioning — the bands pin
      collapses to ~1 partition and the bucket self-join's pair expansion
      serializes into one task (measured r15: est_quality 1.9 s → 19 s).
    * SMALL EDGE pins (capped edges, near-jaccard/containment edge sets)
      stage a checkpoint LEAF inside ``build`` so multi-branch consumers
      plan against the leaf instead of re-analyzing the full lineage per
      reference. Those builds pass ``pin=False``: the checkpoint blocks
      ARE the pinned storage, and a second ``.persist()`` on top would
      double-store every block (and cache eviction would unpersist only
      the outer handle, never the checkpoint blocks). Executor-loss
      caveat: a leafed pin cannot recompute after executor loss (lineage
      is truncated), so on a real cluster these pins are the staged
      tables a pipeline writes between stages (``stage_round``'s
      ``reliable=True`` form), not localCheckpoints.
    """
    key = (spark.sparkContext.applicationId, sf_dir)
    stamp = input_stamp(sf_dir)
    cached = cache.get(key)
    if cached is not None:
        if _STAMPS.get((id(cache), key)) == stamp:
            return cached
        cached.unpersist()
    for k in list(cache):
        if k[0] != key[0]:
            del cache[k]
            _STAMPS.pop((id(cache), k), None)
    out = build()
    if pin:
        out = out.persist()
    cache[key] = out
    _STAMPS[(id(cache), key)] = stamp
    return out
