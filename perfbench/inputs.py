"""Benchmark inputs.

- sequences: the engine's tokenized-sequence table, produced from the
  workload seed by the program's own generator
  (`mpds_spark.sources.synth.synth_sequences`), written once per (seed, size,
  generator source) into a cache directory inside the checkout and reused by
  later runs with the same seed. Generation is never timed.
- catalog: the repository's driver tables at sf0.1 (TESTDATA.md, seed 42),
  of which the reference queries read only `events` and `documents`. They are
  committed under perfbench/data/ so the benchmark runs without the external
  test-data directory; the seed only shuffles the query order.
"""

from __future__ import annotations

import hashlib
import inspect
import os
import shutil

from mpds_spark.sources import synth

CATALOG_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def _fingerprint(*parts) -> str:
    h = hashlib.sha256()
    for p in parts:
        h.update(str(p).encode())
    h.update(inspect.getsource(synth).encode())
    with open(__file__, "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:12]


def _cached(root: str, name: str, build) -> str:
    """Build `name` under root once; a half-written directory is rebuilt."""
    path = os.path.join(root, name)
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def sequences(spark, root: str, seed: int, n_docs: int, n_entities: int,
              hot_frac: float, n_files: int) -> str:
    """Materialized tokenized-sequence table (parquet dir)."""

    def build(tmp):
        out = os.path.join(tmp, "data")
        synth.synth_sequences(
            spark, n_docs, seed=seed, n_entities=n_entities, hot_frac=hot_frac,
            num_partitions=n_files,
        ).write.parquet(out)

    key = _fingerprint("seq", seed, n_docs, n_entities, hot_frac, n_files)
    return os.path.join(_cached(root, f"seq_{seed}_{key}", build), "data")
