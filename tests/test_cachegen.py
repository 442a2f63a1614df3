"""Pure-Python pins for the generation-cache policy (functions/cachegen.memo):
LRU capacity, path-overlap eviction, dead-session invalidation, the
unverifiable slot, plain values — no SparkSession needed (stub frames)."""

from __future__ import annotations

from types import SimpleNamespace

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from marketstream_etl_spark.functions import cachegen


class _Frame(DataFrame):
    """A stub frame: the plan hash, input files and session applicationId
    memo keys on, and a storage level that persist/unpersist flip.
    `files=None` makes the input listing fail (an unverifiable key)."""

    def __new__(cls, *args, **kwargs):
        return object.__new__(cls)

    def __init__(self, files=("/p",), plan=1, app="app-1"):
        self._files, self._plan, self._app = files, plan, app
        self.persisted = True

    def semanticHash(self):
        return self._plan

    def inputFiles(self):
        if self._files is None:
            raise RuntimeError("listing failed")
        return [f"file://{p}" for p in self._files]

    @property
    def sparkSession(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(applicationId=self._app)
        )

    @property
    def storageLevel(self):
        return StorageLevel.MEMORY_AND_DISK if self.persisted else StorageLevel.NONE

    def persist(self, *_):
        self.persisted = True
        return self

    def unpersist(self, *_):
        self.persisted = False
        return self

    @property
    def unpersisted(self):
        return not self.persisted


class _Builds:
    """A build() that returns the given values in turn and counts calls."""

    def __init__(self, *values):
        self.values, self.calls = list(values), 0

    def __call__(self):
        self.calls += 1
        return self.values.pop(0)


def _memo(keyed, value, op="fam"):
    return cachegen.memo(op, keyed, lambda: value)


def setup_function(_fn):
    cachegen.clear()


def teardown_function(_fn):
    cachegen.clear()


def test_lru_capacity_evicts_oldest():
    keys = [_Frame(files=(f"/p{i}",)) for i in range(3)]
    frames = [(_Frame(), _Frame()) for _ in range(3)]
    for key, value in zip(keys, frames):
        assert _memo(key, value) is value
    # beyond capacity 2: every frame of the oldest generation is released
    assert all(f.unpersisted for f in frames[0])
    assert not any(f.unpersisted for v in frames[1:] for f in v)
    assert _memo(keys[1], "rebuilt") is frames[1]
    assert _memo(keys[2], "rebuilt") is frames[2]
    assert _memo(keys[0], "rebuilt") == "rebuilt"


def test_lookup_refreshes_lru_position():
    a, b, c = _Frame(), _Frame(), _Frame()
    _memo(_Frame(files=("/a",)), a)
    _memo(_Frame(files=("/b",)), b)
    assert _memo(_Frame(files=("/a",)), "miss") is a  # a hit: b is now LRU
    _memo(_Frame(files=("/c",)), c)
    assert b.unpersisted and not a.unpersisted


def test_path_overlap_evicts_rewritten_generation():
    # in-place rewrite: new key, same path — the old generation's cached
    # blocks would be plan-matched by CacheManager and served stale
    old, new = _Frame(), _Frame()
    _memo(_Frame(files=("/data/docs.parquet",), plan=1), old)
    _memo(_Frame(files=("/data/docs.parquet",), plan=2), new)
    assert old.unpersisted and not new.unpersisted
    assert _memo(_Frame(files=("/data/docs.parquet",), plan=1), "x") == "x"


def test_disjoint_paths_coexist():
    a, b = _Frame(), _Frame()
    _memo(_Frame(files=("/ds1/docs.parquet",)), a)
    _memo(_Frame(files=("/ds2/docs.parquet",)), b)
    assert not a.unpersisted and not b.unpersisted
    assert _memo(_Frame(files=("/ds1/docs.parquet",)), "miss") is a


def test_dead_session_hit_is_dropped():
    stale = _Frame()
    _memo(_Frame(app="app-old"), stale)
    # a caller from a NEW session rebuilds instead of getting dead handles
    build = _Builds("fresh", "again")
    assert cachegen.memo("fam", _Frame(app="app-new"), build) == "fresh"
    # and the dead entry was replaced, not retried forever
    assert cachegen.memo("fam", _Frame(app="app-new"), build) == "fresh"
    assert build.calls == 1


def test_same_session_hit_survives_validation():
    f = _Frame()
    _memo(_Frame(app="app-1"), f)
    assert _memo(_Frame(app="app-1"), "miss") is f


def test_hit_repersists_a_frame_clearcache_dropped():
    f = _Frame()
    _memo(_Frame(), f)
    f.unpersist()  # what an external spark.catalog.clearCache() leaves
    assert _memo(_Frame(), "miss") is f
    assert not f.unpersisted


def test_unverifiable_input_never_serves_cache():
    # listing failure -> UNVERIFIABLE: built every time, never served
    f1, f2 = _Frame(), _Frame()
    assert _memo(_Frame(files=None), f1) is f1
    assert _memo(_Frame(files=None), f2) is f2
    # the next unverifiable generation releases the previous one's frames
    assert f1.unpersisted and not f2.unpersisted


def test_obj_cache_roundtrip_and_lru():
    # plain driver-side values (a codebook) share the frame policy
    build = _Builds({"a": 1}, {"b": 2}, {"c": 3}, {"b": 4})
    k1, k2, k3 = (_Frame(files=(f"/e{i}",)) for i in range(3))
    assert cachegen.memo("cb", k1, build) == {"a": 1}
    assert cachegen.memo("cb", k2, build) == {"b": 2}
    assert cachegen.memo("cb", k1, build) == {"a": 1}  # hit: refresh k1
    assert cachegen.memo("cb", k3, build) == {"c": 3}  # evicts k2, the LRU
    assert build.calls == 3
    assert cachegen.memo("cb", k1, build) == {"a": 1}
    assert cachegen.memo("cb", k2, build) == {"b": 4}  # rebuilt
    assert build.calls == 4


def test_obj_cache_unverifiable_key_never_served():
    build = _Builds({"x": 1}, {"x": 2})
    assert cachegen.memo("cb", _Frame(files=None), build) == {"x": 1}
    assert cachegen.memo("cb", _Frame(files=None), build) == {"x": 2}


def test_obj_cache_zero_key_component_is_cacheable(monkeypatch):
    # r8 ADVICE: the old sentinel was the int 0, so a key that landed on
    # 0 was silently uncacheable.  The object() sentinel fixes that.
    monkeypatch.setattr(cachegen, "_cache_key", lambda _df: 0)
    build = _Builds({"x": 1}, {"x": 2})
    assert cachegen.memo("cb0", _Frame(), build) == {"x": 1}
    assert cachegen.memo("cb0", _Frame(), build) == {"x": 1}
    assert build.calls == 1


def test_unverifiable_generation_keeps_servable_slots():
    # capacity is GENERATIONS_PER_FAMILY (2): an unverifiable generation
    # must not evict a servable one
    a, b = _Frame(), _Frame()
    _memo(_Frame(files=("/a",)), a)
    _memo(_Frame(files=("/b",)), b)
    _memo(_Frame(files=None), _Frame())
    assert not a.unpersisted and not b.unpersisted
    assert _memo(_Frame(files=("/a",)), "miss") is a
    assert _memo(_Frame(files=("/b",)), "miss") is b


def test_memo_calls_nest_across_families():
    inner = _Frame()

    def outer_build():
        return (_memo(_Frame(), inner, op="inner"), _Frame())

    outer = cachegen.memo("outer", _Frame(), outer_build)
    assert outer[0] is inner
    assert _memo(_Frame(), "miss", op="inner") is inner
    assert _memo(_Frame(), "miss", op="outer") is outer


def test_obj_cache_cleared_with_families():
    f = _Frame()
    _memo(_Frame(), (f, {"z": 1}))
    cachegen.clear()
    assert f.unpersisted
    assert _memo(_Frame(), "rebuilt") == "rebuilt"
