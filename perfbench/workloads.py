"""The benchmark's workloads.

Each workload stages its inputs and expected outputs from the seed, runs
one timed *unit* of work at a time (checking each unit's output), and
runs one traced pass that times and counts the calls into each layer of
the package:

- ``index_zipf``: one ``job.run_inverted_index_job`` call over a Zipf
  corpus.  The growing vocabulary gives the combine, shuffle, reduce and
  sink layers real load, as the reference's news corpus did.
- ``index_replicated``: the same job over replicated fixture documents
  (31 distinct words), bench.py's flagship recipe.  It is map-bound with
  a tiny shuffle: the control for combine, shuffle, reduce and sink
  changes, and the other extreme for the combiner.
- ``ops_families``: one pass over three operator families: iterative
  fixpoint operators (many small jobs, bound by rounds x per-job
  overhead), substring/suffix span operators (executor-side sorts and
  shuffles) and a maintained-index operator (bucketed warehouse writes).
  It touches no flagship code, so it is the control for flagship
  changes, and the ``index_*`` workloads are the controls for operator
  changes.
"""

from __future__ import annotations

import hashlib
import shutil
import statistics
import time
import traceback
from pathlib import Path

import numpy as np
import pyarrow as pa

from perfbench import inputs
from perfbench.procs import RssSampler

# Operator families (ROADMAP items 2, 3 and 5): a few members of each, so
# that a cold pass and a timed pass fit one run.  ops_families runs them
# all in a seeded order, one pass per timed unit.
FAMILIES = {
    "fixpoint": ("dedup_connected_components", "graph_pagerank_nations"),
    "span": (
        "exact_substring_duplicates",
        "substring_overlap_spans",
        "suffix_array_ranked_lcp",
    ),
    "index": ("index_delete_propagation",),
}
ALL_OPS = tuple(op for fam in FAMILIES.values() for op in fam)

# Operators whose DuckDB oracle is not feasible at the benchmark's input
# size; they are checked for run-to-run stability instead (the first
# output of the run is the reference).  Every operator above has a
# feasible oracle at this size, so the set is empty.
STABILITY_ONLY: frozenset[str] = frozenset()

# spark.ui.retainedJobs in session.build_session.  Spark trims a full
# store by at least a tenth at once, so a job group this large may have
# lost its oldest jobs.
RETAINED_JOBS = 100

ZIPF_TOKENS = 1_600_000
REPLICATED_BYTES = 32_000_000
CORPUS_FILES = 16
KERNEL_FILES = 4
TABLE_ORDERS = 1500
TABLE_DOCS = 500

INDEX_LAYERS = (
    "sources.scan_s", "sources.scan_tasks", "sources.scan_task_skew",
    "functions.tokenize_kernel_mb_s", "functions.map_combine_s",
    "functions.tokens_emitted", "functions.pairs_after_combine",
    "functions.combine_ratio", "functions.worker_peak_rss_mb",
    "job.map_stage_task_ms", "job.reduce_stage_task_ms", "job.sink_stage_task_ms",
    "job.shuffle_write_bytes", "job.shuffle_read_bytes", "job.stages", "job.tasks",
    "job.output_bytes", "job.output_files", "job.partition_skew", "job.report_s",
    "job.window_complete",
)
OPS_LAYERS = (
    *(f"operators.{op}.{m}" for op in ALL_OPS for m in ("wall_s", "jobs", "stages", "shuffle_bytes")),
    *(f"operators.{fam}_family_s" for fam in FAMILIES),
    "operators.incomplete_windows",
)
PER_LAYER = (
    "session.start_s", "session.warmup_s", "session.peak_rss_mb",
    "setup.stage_s", "setup.expect_s",
    *INDEX_LAYERS, *OPS_LAYERS,
    "metrics.collect_s", "trace.overhead_s",
)


def layer_unit(name: str) -> str:
    if name.endswith("_mb_s"):
        return "MB/s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_skew", "_ratio")):
        return "ratio"
    if name.endswith("_complete"):
        return "bool"
    return "count"


def _settle(spark) -> None:
    """Wait until the listener bus has delivered every event, so the
    status store holds the stages and tasks of the jobs just finished."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _stage_window(spark, floor: int) -> tuple[list, bool]:
    """The retained stages after ``floor``, and whether the window is
    whole.  spark.ui.retainedStages (100 in session.build_session) evicts
    the oldest stages first, so the window is whole while some stage from
    before it is still retained."""
    from mapreduce_c_implementation_spark.metrics import collect_stage_metrics

    _settle(spark)
    retained = collect_stage_metrics(spark)
    window = [s for s in retained if s.stage_id > floor]
    return window, len(window) < len(retained)


def _task_run_times(spark, stage_id: int) -> list[int]:
    """Executor run time (ms) of each task of one stage attempt, from the
    same driver status store ``metrics.collect_stage_metrics`` reads."""
    store = spark.sparkContext._jsc.sc().statusStore()
    it = store.taskList(stage_id, 0, 1 << 20).iterator()
    out = []
    while it.hasNext():
        m = it.next().taskMetrics()
        if m.isDefined():
            out.append(int(m.get().executorRunTime()))
    return out


def _fname_col(F):
    # The job's MR_CurrentFile lineage column, as job.py builds it.
    return F.element_at(F.split(F.input_file_name(), "/"), -1).alias("fname")


class Index:
    """The flagship job over a seeded text corpus: ``index_zipf`` (a
    Zipf-vocabulary corpus) or ``index_replicated`` (replicated fixture
    documents)."""

    def __init__(self, name: str, work: Path, seed: int, scale: float, threads: int):
        self.name = name
        self.work = work
        self.seed = seed
        self.scale = scale
        self.threads = threads
        self.input_records: list[dict] = []

    def stage(self, i: int) -> None:
        corpus = self.work / f"corpus{i}"
        if self.name == "index_zipf":
            n_tokens = max(10_000, int(ZIPF_TOKENS * self.scale))
            self.lines, record = inputs.zipf_corpus(corpus, self.seed, n_tokens, CORPUS_FILES)
        else:
            self.lines, record = inputs.replicated_corpus(
                corpus, self.seed, TABLE_DOCS, int(REPLICATED_BYTES * self.scale), CORPUS_FILES
            )
        self.input_records.append(record)
        if i:
            shutil.rmtree(self.work / f"corpus{i - 1}")
        self.corpus = corpus
        self.input_bytes = record["bytes"]

    def expect(self) -> None:
        from mapreduce_c_implementation_spark.functions.text import DUCKDB_TOKENIZE

        self.expected = inputs.expected_postings(self.lines, DUCKDB_TOKENIZE, self.threads)
        self.input_records[-1]["expected"] = self.expected
        del self.lines

    def _job(self):
        from mapreduce_c_implementation_spark.job import MapReduceJob

        return MapReduceJob(
            input_paths=[str(self.corpus)],
            output_dir=str(self.work / "out"),
            metrics_path=str(self.work / "metrics_report.txt"),
        )

    def unit(self, spark) -> tuple[float, int, int]:
        """One job, timed from outside; returns (wall, attempted, failed)."""
        from mapreduce_c_implementation_spark.job import run_inverted_index_job

        job = self._job()
        t0 = time.perf_counter()
        try:
            result = run_inverted_index_job(spark, job)
        except Exception:  # counted as a failed unit, reported on stderr
            traceback.print_exc()
            return time.perf_counter() - t0, 1, 1
        wall = time.perf_counter() - t0
        ok = inputs.job_output_digest(result.output_files) == self.expected["sha256"]
        return wall, 1, 0 if ok else 1

    def trace(self, spark, tracer, sampler_root: int) -> dict:
        from pyspark.sql import functions as F

        from mapreduce_c_implementation_spark.functions.text import tokenize_pairs_arrow
        from mapreduce_c_implementation_spark.job import run_inverted_index_job
        from mapreduce_c_implementation_spark.metrics import (
            collect_stage_metrics,
            max_stage_id,
        )

        paths = [str(self.corpus)]
        out: dict[str, float] = {}

        def lines():
            return spark.read.text(paths).select(F.col("value").alias("line"), _fname_col(F))

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        floor = max_stage_id(spark)
        with tracer.span("sources.scan") as c:
            t0 = time.perf_counter()
            noop(lines())
            out["sources.scan_s"] = time.perf_counter() - t0
        _settle(spark)
        scan = [s for s in collect_stage_metrics(spark, after=floor) if s.num_tasks]
        times = [t for s in scan for t in _task_run_times(spark, s.stage_id)]
        c["tasks"] = out["sources.scan_tasks"] = len(times)
        out["sources.scan_task_skew"] = max(times) / max(1, statistics.median(times))

        def pairs():
            return lines().mapInArrow(tokenize_pairs_arrow, schema="word string, fname string")

        with tracer.span("functions.map_combine"), RssSampler(sampler_root) as rss:
            t0 = time.perf_counter()
            noop(pairs())
            map_s = time.perf_counter() - t0
        out["functions.map_combine_s"] = map_s - out["sources.scan_s"]
        out["functions.worker_peak_rss_mb"] = rss.peak_worker / 1e6
        with tracer.span("functions.count_pairs") as c:
            c["pairs"] = out["functions.pairs_after_combine"] = pairs().count()
        out["functions.tokens_emitted"] = self.expected["n_tokens"]
        out["functions.combine_ratio"] = (
            out["functions.pairs_after_combine"] / out["functions.tokens_emitted"]
        )

        files = sorted(self.corpus.iterdir())[:KERNEL_FILES]
        batches = []
        for f in files:
            text = f.read_text(encoding="utf-8").splitlines()
            batches += pa.table({"line": text, "fname": [f.name] * len(text)}).to_batches(10_000)
        kernel_mb = sum(f.stat().st_size for f in files) / 1e6
        with tracer.span("functions.tokenize_kernel", mb=kernel_mb) as c:
            t0 = time.perf_counter()
            c["pairs"] = sum(b.num_rows for b in tokenize_pairs_arrow(iter(batches)))
            out["functions.tokenize_kernel_mb_s"] = kernel_mb / (time.perf_counter() - t0)

        floor = max_stage_id(spark)
        with tracer.span("job.run_inverted_index_job") as c:
            t0 = time.perf_counter()
            result = run_inverted_index_job(spark, self._job())
            wall = time.perf_counter() - t0
        ok = inputs.job_output_digest(result.output_files) == self.expected["sha256"]
        stages = [s for s in result.metrics.stages if s.status == "COMPLETE"]
        maps = [s for s in stages if s.input_bytes]
        reduces = [s for s in stages if s.shuffle_read_bytes and s.shuffle_write_bytes]
        sinks = [s for s in stages if s.shuffle_read_bytes and not s.shuffle_write_bytes]
        sizes = [Path(f).stat().st_size for f in result.output_files]
        out.update({
            "job.map_stage_task_ms": sum(s.run_time_ms for s in maps),
            "job.reduce_stage_task_ms": sum(s.run_time_ms for s in reduces),
            "job.sink_stage_task_ms": sum(s.run_time_ms for s in sinks),
            "job.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
            "job.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in stages),
            "job.stages": len(stages),
            "job.tasks": sum(s.num_tasks for s in stages),
            "job.output_bytes": sum(sizes),
            "job.output_files": len(sizes),
            "job.partition_skew": max(sizes) / max(1, statistics.median(sizes)),
            "job.report_s": wall - result.metrics.wall_s,
            "job.window_complete": int(_stage_window(spark, floor)[1]),
        })
        c.update(stages=len(stages), shuffle_bytes=out["job.shuffle_write_bytes"])
        with tracer.span("metrics.collect_stage_metrics"):
            t0 = time.perf_counter()
            collect_stage_metrics(spark, after=floor)
            out["metrics.collect_s"] = time.perf_counter() - t0
        return {"layers": out, "wall": wall, "attempted": 1, "failed": int(not ok)}


class Ops:
    """One pass over every family's operators per unit, in a seeded
    order, on seeded fixture tables."""

    name = "ops_families"

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed
        order = np.random.default_rng(seed).permutation(len(ALL_OPS))
        self.ops = [ALL_OPS[i] for i in order]
        self.input_records: list[dict] = []
        self.op_walls: dict[str, list[float]] = {}

    def stage(self, i: int) -> None:
        tables = self.work / f"tables{i}"
        record = inputs.fixture_tables(tables, self.seed, TABLE_ORDERS, TABLE_DOCS)
        self.input_records.append(record)
        if i:
            shutil.rmtree(self.work / f"tables{i - 1}")
        self.tables = tables
        self.input_bytes = record["bytes"]

    def expect(self) -> None:
        """The DuckDB oracle's output digest per operator (oracle tests'
        canonical form)."""
        from tests.oracle import run_oracle

        from mapreduce_c_implementation_spark.registry import all_operators

        registry = all_operators()
        self.expected: dict[str, str | None] = {}
        for op in self.ops:
            if op in STABILITY_ONLY:
                self.expected[op] = None
            else:
                sql = registry[op].oracle_sql
                self.expected[op] = _rows_digest(run_oracle(sql, str(self.tables)))
        self.input_records[-1]["expected"] = dict(self.expected)

    def _run_op(self, spark, op: str) -> tuple[float, bool]:
        from mapreduce_c_implementation_spark.registry import all_operators

        t0 = time.perf_counter()
        try:
            pdf = all_operators()[op].query_fn(spark, str(self.tables)).toPandas()
        except Exception:  # counted as a failed operator, reported on stderr
            traceback.print_exc()
            return time.perf_counter() - t0, False
        finally:
            spark.catalog.clearCache()
        wall = time.perf_counter() - t0
        digest = _rows_digest(pdf)
        if self.expected[op] is None:  # stability-only: first output is the reference
            self.expected[op] = digest
        return wall, digest == self.expected[op]

    def unit(self, spark) -> tuple[float, int, int]:
        failed = 0
        t0 = time.perf_counter()
        for op in self.ops:
            wall, ok = self._run_op(spark, op)
            self.op_walls.setdefault(op, []).append(wall)
            failed += not ok
        return time.perf_counter() - t0, len(self.ops), failed

    def trace(self, spark, tracer, sampler_root: int) -> dict:
        """One pass with each operator under its own job group, followed
        by a stage snapshot of its window."""
        from mapreduce_c_implementation_spark.metrics import max_stage_id

        sc = spark.sparkContext
        out: dict[str, float] = {}
        incomplete = []
        collect_s = []
        failed = 0
        t0 = time.perf_counter()
        for op in self.ops:
            group = f"perfbench-{op}"
            floor = max_stage_id(spark)
            sc.setJobGroup(group, op)
            try:
                with tracer.span(f"operators.{op}") as c:
                    op_wall, ok = self._run_op(spark, op)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            failed += not ok
            t1 = time.perf_counter()
            with tracer.span("metrics.collect_stage_metrics"):
                stages, whole = _stage_window(spark, floor)
            collect_s.append(time.perf_counter() - t1)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            whole = whole and jobs < RETAINED_JOBS * 0.9
            if not whole:
                incomplete.append(op)
            c.update(jobs=jobs, stages=len(stages), whole=whole)
            out[f"operators.{op}.wall_s"] = op_wall
            # An incomplete window reads -1 rather than an undercount.
            out[f"operators.{op}.jobs"] = jobs if whole else -1
            out[f"operators.{op}.stages"] = len(stages) if whole else -1
            out[f"operators.{op}.shuffle_bytes"] = (
                sum(s.shuffle_write_bytes for s in stages) if whole else -1
            )
        wall = time.perf_counter() - t0
        for fam in FAMILIES:
            out[f"operators.{fam}_family_s"] = sum(
                out[f"operators.{op}.wall_s"] for op in FAMILIES[fam]
            )
        out["operators.incomplete_windows"] = len(incomplete)
        out["metrics.collect_s"] = statistics.median(collect_s)
        return {
            "layers": out, "wall": wall, "attempted": len(self.ops), "failed": failed,
            "incomplete_windows": incomplete,
        }


def _rows_digest(pdf) -> str:
    """Digest of a result frame canonicalised as the oracle tests do
    (sorted column names, 12-significant-digit floats, sorted rows)."""
    from tests.oracle import canonical_rows

    h = hashlib.sha256(repr(sorted(pdf.columns)).encode())
    h.update(repr(canonical_rows(pdf)).encode())
    return h.hexdigest()


INDEX_WORKLOADS = ("index_zipf", "index_replicated")
WORKLOAD_NAMES = (*INDEX_WORKLOADS, Ops.name)


def make(name: str, work: Path, seed: int, scale: float, threads: int):
    if name in INDEX_WORKLOADS:
        return Index(name, work, seed, scale, threads)
    return Ops(work, seed)
