"""One generation cache: `memo(op, keyed, build)`.

An operator family builds an expensive artifact once per input
generation (one version of the input data) and every later call over the
same generation gets the same object back.  The artifact is whatever
`build()` returns: a persisted DataFrame, a tuple of them (the builder
persists its own frames, at its own storage level), or a plain
driver-side value such as a trained k-means codebook.  Hyperparameters
that change the artifact go in the family name (`minhash_lsh[64,16,0.5]`),
so variants keep their own slots instead of evicting each other.

The generation key is plan identity (semanticHash) composed with
input-DATA identity (path, mtime_ns, size of every scan input file),
because a file rewritten in place leaves the plan hash unchanged — the
silent-stale-cache hazard this project's testdata has actually exercised
twice (r4 VERDICT finding 1).

The policy `memo` owns, for every family:
- LRU capacity GENERATIONS_PER_FAMILY (2): a session alternating between
  two datasets (a staging and a production corpus, two scale factors)
  does not thrash; a third generation evicts the least-recently-used one.
- Path-overlap eviction: a new generation evicts any generation that
  shares an input path.  Spark's CacheManager matches canonicalized plans
  by PATH, so a rewritten file's old cached blocks would otherwise still
  be substituted into the new plans (measured live: the rewrite-in-place
  regression test fails without this).  Disjoint datasets coexist.
- A generation built in another SparkContext (a stopped session) is
  dropped, never served: its handles are bound to a dead context.
- An UNVERIFIABLE key (the input listing failed) is never served, and it
  holds one slot of its own, so it never evicts a servable generation;
  the next unverifiable build releases it.
- A hit re-persists any frame an external `spark.catalog.clearCache()`
  dropped (found live: bench extras ran 6x slow after the streaming
  section's clearCache; same key == same input data, so re-persisting
  the identical plan is always safe).
Evicting a generation unpersists every DataFrame in it.  Calls nest
across families (a builder may memo its own inputs).
"""

from __future__ import annotations

import os
from collections import OrderedDict
from typing import Callable, TypeVar
from urllib.parse import urlparse

from pyspark.sql import DataFrame

GENERATIONS_PER_FAMILY = 2

_T = TypeVar("_T")

# family -> key -> (value, input paths, owning applicationId)
_GENERATIONS: dict[str, OrderedDict[object, tuple[object, frozenset[str], str]]] = {}

# Unique sentinel, not an int: a legitimate key of 0 (a hash that lands
# on 0) must not be confused with "input identity unknown" (r8 ADVICE).
_UNVERIFIABLE = object()


def _app_id(df: DataFrame) -> str:
    try:
        return df.sparkSession.sparkContext.applicationId
    except Exception:
        return ""


def _input_paths(df: DataFrame) -> frozenset[str]:
    """Local paths of the frame's scan input files (empty for in-memory
    frames) — the path-overlap eviction predicate."""
    try:
        return frozenset(urlparse(u).path for u in df.inputFiles())
    except Exception:
        return frozenset()


def _input_bytes(df: DataFrame) -> int:
    """Total on-disk bytes of the frame's scan inputs (0 when unknown)."""
    total = 0
    try:
        for uri in df.inputFiles():
            p = urlparse(uri).path
            if p and os.path.exists(p):
                total += os.stat(p).st_size
    except Exception:
        return 0
    return total


# the coalesced frame's in-memory blowup vs its source files (word
# shingles over compressed parquet text ≈ 40×), and the bytes per task
_SCAN_EXPANSION = 40.0
_SCAN_TARGET_BYTES = 32 << 20


def scan_coalesce(df: DataFrame, source: DataFrame) -> DataFrame:
    """Coalesce a (typically cached) frame for scan-bound consumers so a
    small dataset is not read in defaultParallelism near-empty tasks.

    partitions = clamp(source_input_bytes * _SCAN_EXPANSION
                       / _SCAN_TARGET_BYTES, 1, defaultParallelism)

    - Unknown input size → no coalesce (never guess below the cluster).
    - At large inputs the clamp hits defaultParallelism and coalesce()
      is a no-op, so the 100 TB plan is untouched; this only removes
      fixed per-task scheduling overhead on small inputs (measured
      ~0.5 s/query at sf0.1 for 32 near-empty tasks per stage).
    coalesce() is narrow — no shuffle; it merges cached partitions at
    read time and leaves the build's parallelism alone."""
    nbytes = _input_bytes(source)
    if nbytes <= 0:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    n = max(1, min(par, int(nbytes * _SCAN_EXPANSION // _SCAN_TARGET_BYTES) + 1))
    return df.coalesce(n) if n < par else df


def _cache_key(df: DataFrame) -> object:
    """Generation key = plan identity ∘ input-file identity (see module
    doc).

    Identity layers, strongest available wins per file:
    - local file → (path, mtime_ns, size): catches even a same-name
      in-place rewrite;
    - non-local URI (object store) → the URI string itself: parquet
      writers emit unique part filenames per job, so any real dataset
      rewrite changes the listing and therefore the key;
    - listing itself fails → UNVERIFIABLE: never served, degrading to
      correct-but-cold rather than possibly-stale.
    Frames with no file scan at all (createDataFrame fixtures) key on the
    plan hash alone — their data is part of the plan."""
    sig: list[tuple] = []
    try:
        for uri in df.inputFiles():
            p = urlparse(uri).path
            if p and os.path.exists(p):
                st = os.stat(p)
                sig.append((p, st.st_mtime_ns, st.st_size))
            else:
                sig.append((uri,))
    except Exception:
        return _UNVERIFIABLE
    return hash((df.semanticHash(), tuple(sorted(sig))))


def _frames(value: object) -> list[DataFrame]:
    items = value if isinstance(value, tuple) else (value,)
    return [v for v in items if isinstance(v, DataFrame)]


def _release(value: object) -> None:
    for f in _frames(value):
        try:
            f.unpersist()
        except Exception:
            pass  # session may already be gone


def _repersist(value: object) -> None:
    for f in _frames(value):
        try:
            sl = f.storageLevel
            if not (sl.useMemory or sl.useDisk or sl.useOffHeap):
                f.persist()
        except Exception:
            pass  # storage introspection must never break a hit


def memo(op: str, keyed: DataFrame, build: Callable[[], _T]) -> _T:
    """Family `op`'s value for `keyed`'s input generation: the stored one
    on a hit, else `build()`'s result, stored and returned (see the module
    doc for the eviction policy)."""
    key = _cache_key(keyed)
    owner = _app_id(keyed)
    gens = _GENERATIONS.get(op)
    if key is not _UNVERIFIABLE and gens is not None and key in gens:
        value, _, built_in = gens[key]
        if not built_in or built_in == owner:
            _repersist(value)
            gens.move_to_end(key)
            return value
        del gens[key]  # dead-session handles: no unpersist possible
    value = build()
    paths = _input_paths(keyed)
    gens = _GENERATIONS.setdefault(op, OrderedDict())
    if key in gens:  # only the unverifiable slot is ever replaced
        _release(gens.pop(key)[0])
    if paths:
        for stale in [k for k, (_, p, _o) in gens.items() if p & paths]:
            _release(gens.pop(stale)[0])
    gens[key] = (value, paths, owner)
    servable = [k for k in gens if k is not _UNVERIFIABLE]
    for old in servable[: max(0, len(servable) - GENERATIONS_PER_FAMILY)]:
        _release(gens.pop(old)[0])
    return value


def clear(op: str | None = None) -> None:
    """Unpersist and drop every generation of `op` (or of ALL families) —
    test/teardown hook."""
    for o in [op] if op is not None else list(_GENERATIONS):
        for value, _, _ in _GENERATIONS.pop(o, OrderedDict()).values():
            _release(value)
