"""Benchmark inputs: the program's reference fixtures, plus seeded corpora
generated into the checkout and cached on disk.

* ``fixture(scale)`` -- the program's own reference fixture tables, copied
  byte for byte into ``perfbench/data/``: ``sf0.1`` (5,000 docs, 600k
  lineitem) for measuring and ``sf0.001`` for the smoke test. They are
  read-only and never depend on the seed; the seed only orders the queries
  that run over them.
* ``corpus(seed, n_docs, index)`` -- one ``documents.parquet`` from
  ``tools/gen_scale_fixture.generate(..., vocab_terms=20000,
  mix_fixture_vocab=True)`` over the sf0.1 fixture: an open vocabulary
  where the only near-duplicates are the injected clones, and the
  fixture's query terms still occur. It is a pure function of
  ``(seed, n_docs, index)``; ``index`` selects one of several independent
  corpora per seed (the dedup workload needs a fresh one per timed
  operation). A directory that already holds a finished copy is reused
  instead of regenerated. Generation time is reported on its own
  (``inputs.gen_s``) and is never part of ``setup_s``.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
FIXTURES = {"full": "sf0.1", "tiny": "sf0.001"}
CORPUS_VOCAB = 20000


def fixture(scale: str) -> str:
    return os.path.join(DATA, FIXTURES[scale])


def _sub_seed(seed: int, *parts: int) -> int:
    """Independent non-negative seed for one (seed, part...) stream."""
    return int(np.random.SeedSequence([seed, *parts]).generate_state(1)[0])


class Inputs:
    """Generates and caches corpora under ``cache_dir``. ``gen_s`` sums the
    generation time of every corpus handed out, as measured when it was
    generated (a cached corpus reports the time it originally took)."""

    def __init__(self, cache_dir: str, generator):
        self.cache_dir = cache_dir
        self.gen = generator  # the tools/gen_scale_fixture module
        self.gen_s = 0.0

    def corpus(self, seed: int, n_docs: int, index: int) -> str:
        path = os.path.join(self.cache_dir, f"corpus-{n_docs}-s{seed}-{index}")
        done = os.path.join(path, ".done")
        if not os.path.exists(done):
            t0 = time.perf_counter()
            tmp = f"{path}.tmp-{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            os.makedirs(tmp)
            self.gen.generate(
                n_docs, tmp, fixture("full"),
                seed=_sub_seed(seed, 4, index),
                vocab_terms=CORPUS_VOCAB, mix_fixture_vocab=True,
            )
            with open(os.path.join(tmp, ".done"), "w") as f:
                f.write(repr(time.perf_counter() - t0))
            try:
                os.rename(tmp, path)
            except OSError:  # a concurrent run finished the same corpus first
                shutil.rmtree(tmp, ignore_errors=True)
        with open(done) as f:
            self.gen_s += float(f.read())
        return path
