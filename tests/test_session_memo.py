"""``queries.session_memo`` — the one (session, corpus) caching
boundary behind every shared intermediate the composite entries reuse
(capped shingles, Jaccard pairs, learned langid, BPE merges, image
fingerprints)."""

import pytest
from pyspark.sql import DataFrame

from mgl870_tp02_project_01_hadoopmapreducelogs_spark import queries
from mgl870_tp02_project_01_hadoopmapreducelogs_spark.queries import (
    session_memo,
)


@pytest.fixture(autouse=True)
def isolated_store():
    """Run each test on an empty store and put the session's real
    entries back afterwards, untouched."""
    saved = dict(queries._memo_store)
    queries._memo_store.clear()
    yield queries._memo_store
    queries._memo_store.clear()
    queries._memo_store.update(saved)


class _DeadFrame(DataFrame):
    """A DataFrame whose unpersist fails, as py4j does on a stopped
    SparkContext."""

    def __new__(cls):
        return object.__new__(cls)

    def __init__(self):
        pass

    def unpersist(self, blocking=False):
        raise RuntimeError("unpersist on a dead context")


def _cached(spark, n):
    df = spark.range(n).cache()
    df.count()
    return df


def test_hit_returns_stored_value_without_building(spark):
    calls = []

    def build():
        calls.append(1)
        return _cached(spark, 3)

    first = session_memo(spark, "corpus-a", "frame", build)
    again = session_memo(spark, "corpus-a", "frame", build)
    assert again is first
    assert calls == [1]


def test_new_corpus_unpersists_every_entry_of_the_old_one(spark, isolated_store):
    frame = session_memo(spark, "corpus-a", "frame", lambda: _cached(spark, 3))
    raw, capped = session_memo(
        spark, "corpus-a", "pair", lambda: (_cached(spark, 4), _cached(spark, 2))
    )
    assert frame.is_cached and raw.is_cached and capped.is_cached

    rebuilt = session_memo(spark, "corpus-b", "frame", lambda: _cached(spark, 5))
    assert rebuilt is not frame and rebuilt.count() == 5
    assert not frame.is_cached
    assert not raw.is_cached and not capped.is_cached
    # a sibling name of the live corpus is kept
    other = session_memo(spark, "corpus-b", "other", lambda: _cached(spark, 1))
    assert rebuilt.is_cached and other.is_cached
    app = spark.sparkContext.applicationId
    assert set(isolated_store) == {
        (app, "corpus-b", "frame"),
        (app, "corpus-b", "other"),
    }


def test_dead_session_entry_is_dropped_without_unpersist(spark, isolated_store):
    isolated_store[("app-stopped", "corpus-a", "frame")] = _DeadFrame()
    built = session_memo(spark, "corpus-b", "frame", lambda: _cached(spark, 2))
    assert built.count() == 2
    app = spark.sparkContext.applicationId
    assert set(isolated_store) == {(app, "corpus-b", "frame")}

    # the same stub under the live session IS unpersisted, so the
    # check above is not vacuous
    isolated_store[(app, "corpus-c", "frame")] = _DeadFrame()
    with pytest.raises(RuntimeError, match="dead context"):
        session_memo(spark, "corpus-d", "frame", lambda: _cached(spark, 1))


def test_driver_state_value_is_stored_and_evicted(spark, isolated_store):
    merges = [(0, "t h", 7), (1, "th e", 5)]
    got = session_memo(spark, "corpus-a", "merges", lambda: merges)
    assert got is merges
    assert session_memo(spark, "corpus-a", "merges", list) is merges

    fresh = session_memo(spark, "corpus-b", "merges", lambda: [(0, "a b", 2)])
    assert fresh == [(0, "a b", 2)]
    app = spark.sparkContext.applicationId
    assert set(isolated_store) == {(app, "corpus-b", "merges")}
