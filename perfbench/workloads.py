"""The workloads: one timed pass each, plus the untimed reset before it.

Each pass calls the engine's public entry points exactly as a user would;
the pass's spans come from `Tracer` (run.py turns it on for traced passes).
Every pass starts from an empty output directory and an empty Spark cache,
so pass N does the same work as pass 1 of a fresh CLI process.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil

# input sizes, fixed when the benchmark is built (README: "Workloads")
IMAGES = {"windows": 12, "rows_per_window": 1000, "windows_per_part": 2, "n_files": 8}
MIX_SCALE = 0.01
REF_WINDOWS = 4                 # runner --ref-windows default
STREAM_WINDOW_S = 300           # runner --stream-window default
STREAM_WATERMARK_S = 60         # runner --stream-watermark default
FILES_PER_TRIGGER = 13
MIX_QUERIES = [
    "q_dedup_clusters",
    "q_cms_point_estimates",
    "q_tfidf_topk",
    "q_tumbling_vote",
]


def warm_page_cache(root: str) -> None:
    """Read every input file once so a pass never measures the disk."""
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            with open(os.path.join(dirpath, f), "rb") as fh:
                while fh.read(1 << 20):
                    pass


class Workload:
    name = ""
    ops_per_pass = 1

    def __init__(self, spark, data_dir: str, manifest: dict, work_dir: str, tracer) -> None:
        self.spark = spark
        self.data = data_dir
        self.manifest = manifest
        self.out = os.path.join(work_dir, "out", self.name)
        self.tracer = tracer

    @property
    def input_rows(self) -> int:
        return self.manifest["rows"]

    def reset(self) -> None:
        self.spark.catalog.clearCache()
        shutil.rmtree(self.out, ignore_errors=True)
        warm_page_cache(self.data)

    def run_pass(self) -> None:
        raise NotImplementedError


class BatchValidate(Workload):
    """The runner CLI's batch pass with --decode: suite, drift, writes,
    decode checks, checkpoint."""

    name = "batch_validate"

    def run_pass(self) -> None:
        from al_drift_detection_spark import runner

        argv = ["--images", f"{self.data}/images", "--ref", f"{self.data}/ref",
                "--out", self.out, "--decode"]
        with contextlib.redirect_stdout(io.StringIO()):  # its JSON summary line
            rc = runner.main(argv)
        if rc != 0:
            raise RuntimeError(f"runner exited {rc}")


class StreamClosed(Workload):
    """Stage the table as an event-time feed, build the references, then run
    every closed-window family as one streaming query over the feed."""

    name = "stream_closed"

    def run_pass(self) -> None:
        from al_drift_detection_spark.streaming import driver

        meta = self.spark.read.parquet(f"{self.data}/images").drop("bytes").cache()
        stage = f"{self.out}/_stream_input"
        with self.tracer.span("streaming.stage"):
            driver.stage_bounded_stream(meta, stage, STREAM_WINDOW_S, STREAM_WATERMARK_S)
        with self.tracer.span("streaming.references"):
            refs = driver.build_references(meta, REF_WINDOWS, [])
        with self.tracer.span("streaming.query"):
            driver.run_closed_streams_combined(
                self.spark, stage, self.out, refs, [],
                window_seconds=STREAM_WINDOW_S,
                watermark=f"{STREAM_WATERMARK_S} seconds",
                files_per_trigger=FILES_PER_TRIGGER,
            )
        meta.unpersist()


class OperatorMix(Workload):
    """A fixed round of oracle-checked registry queries (runnable, but not
    in BENCHMARK.json: README, "Dropped")."""

    name = "operator_mix"
    ops_per_pass = len(MIX_QUERIES)

    def __init__(self, *a, **k) -> None:
        super().__init__(*a, **k)
        self.results: dict = {}
        self.rows_read: dict[str, int] = {}

    @property
    def input_rows(self) -> int:
        return sum(self.rows_read.values())

    def run_pass(self) -> None:
        from al_drift_detection_spark.operators import REGISTRY

        record = not self.rows_read  # the first (warm-up) round notes what each query reads
        self.results = {}
        for q in MIX_QUERIES:
            with self.tracer.span(f"operators.{q}"), tables_read(record) as seen:
                self.results[q] = REGISTRY[q].fn(self.spark, self.data).toPandas()
            if record:
                self.rows_read[q] = sum(self.manifest["rows"].get(t, 0) for t in seen)
            self.spark.catalog.clearCache()


@contextlib.contextmanager
def tables_read(record: bool):
    """Collect the base names of the parquet tables read inside the block."""
    from pyspark.sql.readwriter import DataFrameReader

    seen: set[str] = set()
    if not record:
        yield seen
        return
    orig = DataFrameReader.parquet

    def spy(reader, *paths, **kw):
        seen.update(os.path.basename(str(p)).split(".")[0] for p in paths)
        return orig(reader, *paths, **kw)

    DataFrameReader.parquet = spy
    try:
        yield seen
    finally:
        DataFrameReader.parquet = orig


WORKLOADS = {w.name: w for w in (BatchValidate, StreamClosed, OperatorMix)}
