"""The caller-owned persist scope (al_drift_detection_spark.persist): a scope
frees exactly the frames registered while it was the innermost one open —
persisted and localCheckpointed alike — on a normal exit and on an
exception; with no scope open, registration changes nothing."""

from __future__ import annotations

import threading

import pytest

from al_drift_detection_spark.persist import persist_scope, release, scoped


def _ids(spark):
    # id sets, not sizes: the ContextCleaner may free other tests' RDDs
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _persisted(spark, n=50):
    df = scoped(spark.range(n).selectExpr("id", "id % 7 AS k").persist())
    df.count()
    return df


def test_nested_scopes_release_only_their_own(spark):
    before = _ids(spark)
    with persist_scope():
        outer = _persisted(spark)
        outer_ids = _ids(spark) - before
        with persist_scope():
            inner = _persisted(spark, 60)
            assert _ids(spark) - before - outer_ids
        assert not inner.is_cached
        assert outer.is_cached and _ids(spark) - before == outer_ids
    assert not outer.is_cached
    assert _ids(spark) - before == set()


def test_exception_in_body_still_releases(spark):
    before = _ids(spark)
    with pytest.raises(RuntimeError, match="boom"):
        with persist_scope():
            df = _persisted(spark)
            raise RuntimeError("boom")
    assert not df.is_cached
    assert _ids(spark) - before == set()


def test_no_scope_is_a_plain_persist(spark):
    before = _ids(spark)
    df = _persisted(spark)
    assert df.is_cached and _ids(spark) - before
    df.unpersist()
    assert _ids(spark) - before == set()


def test_frame_unpersisted_by_caller_is_harmless_at_exit(spark):
    before = _ids(spark)
    with persist_scope():
        df = _persisted(spark)
        df.unpersist()
        ck = scoped(spark.range(30).localCheckpoint(eager=True))
        release(ck)  # freed early; the scope frees it again at exit
    assert _ids(spark) - before == set()


def test_scope_frees_local_checkpoints_loudly(spark):
    """DataFrame.unpersist() cannot free a localCheckpoint; the scope frees
    the checkpointed RDD, and a later read fails instead of recomputing."""
    before = _ids(spark)
    with persist_scope():
        eager = scoped(spark.range(40).localCheckpoint(eager=True))
        lazy = scoped(spark.range(40).selectExpr("id * 2 AS v").localCheckpoint(eager=False))
        assert lazy.count() == 40
        assert len(_ids(spark) - before) == 2
    assert _ids(spark) - before == set()
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        eager.count()


def test_worker_thread_sees_no_inherited_scope(spark):
    """A foreachBatch callback runs on another thread: frames it registers
    must not be freed by a scope the main thread happened to have open."""
    got = {}

    def batch_fn():
        got["df"] = _persisted(spark)

    with persist_scope():
        t = threading.Thread(target=batch_fn)
        t.start()
        t.join()
    df = got["df"]
    assert df.is_cached
    df.unpersist()
