"""Session conf that shapes Python UDF execution: every task gets a fresh
worker (spark.python.worker.reuse=false); on a local master it forks from
the engine's daemon (worker_daemon.py), which has already imported pandas
and pyarrow."""

from __future__ import annotations

from types import SimpleNamespace

import pandas as pd
import pytest

N_TASKS = 16  # more tasks than the fixture's 8 slots, so a pool would reuse


def test_workers_fork_fresh_from_the_warm_daemon(spark):
    def probe(batches):
        import os
        import sys

        # a counter that lives in the worker process: a reused worker would
        # see the value an earlier task left behind
        served = getattr(sys, "_probe_tasks_served", 0) + 1
        sys._probe_tasks_served = served
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "main": [sys.modules["__main__"].__spec__.name],
            "served": [served],
        })

    assert spark.sparkContext.getConf().get("spark.python.worker.reuse") == "false"
    rows = (
        spark.range(0, N_TASKS, numPartitions=N_TASKS)
        .mapInPandas(probe, "pid long, main string, served long")
        .collect()
    )
    assert len(rows) == N_TASKS
    assert {r["main"] for r in rows} == {"al_drift_detection_spark.worker_daemon"}
    # fresh per task: one process each, and none served an earlier task
    assert len({r["pid"] for r in rows}) == N_TASKS
    assert {r["served"] for r in rows} == {1}


class _RecordingBuilder:
    """Stands in for SparkSession.builder: records the conf get_spark sets
    and returns it instead of starting a JVM."""

    def __init__(self):
        self.conf = {}

    def appName(self, _name):
        return self

    def master(self, master):
        self.conf["spark.master"] = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self.conf


@pytest.mark.parametrize(
    "master, warm",
    [("local[2]", True), ("spark://host:7077", False), ("yarn", False)],
)
def test_warm_daemon_only_where_executors_share_the_path(monkeypatch, master, warm):
    """A cluster executor starts its Python daemon before any --py-files
    archive reaches its path, so only a local master (whose executors inherit
    this process's PYTHONPATH) gets the engine daemon; the others keep the
    stock pyspark.daemon, and a fresh worker per task either way."""
    from al_drift_detection_spark import session

    monkeypatch.setattr(
        session, "SparkSession", SimpleNamespace(builder=_RecordingBuilder())
    )
    conf = session.get_spark(master=master)
    assert conf["spark.python.worker.reuse"] == "false"
    assert ("spark.python.daemon.module" in conf) == warm
    if warm:
        assert conf["spark.python.daemon.module"] == session.DAEMON_MODULE
