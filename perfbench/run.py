"""Repository benchmark: one workload per invocation.

Run from the repository root:

    python3 perfbench/run.py --workload index_zipf --seed 1 --seconds 10 --trace 0

A run (1) starts the session with ``session.build_session``, (2)
generates the workload's inputs from ``--seed`` three times (the median
counts towards set-up, and the three digests must agree), (3) computes
the expected outputs, (4) runs one discarded warm-up unit, (5) runs
checked units of work until their walls add up to ``--seconds``, and
with ``--trace 1`` (6) runs one traced pass that times and counts the
calls into each package layer.  ``setup_s`` is the sum of (1) to (4);
``wall_s`` is the median unit wall.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line before
it is a JSON record of the host, configuration, inputs and samples.
Spans of a traced run are written to ``.perfbench_out/``.  Scratch data
lives under ``.perfbench_work/`` and is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

PACKAGE = "mapreduce_c_implementation_spark"
STAGINGS = 3
MIN_FREE_BYTES = 2 << 30

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "input_mb_per_s": "MB/s",
}


def parse_args(argv):
    from perfbench.workloads import WORKLOAD_NAMES

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="input-size multiplier for the index corpora (the smoke tests use a small one)",
    )
    return p.parse_args(argv)


def high_percentile(samples: list[float]) -> dict:
    """Median plus the highest percentile that still leaves at least ten
    samples above it (none when there are eleven samples or fewer)."""
    n = len(samples)
    out = {"n": n, "median": statistics.median(samples)}
    for p in (99.9, 99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            out[f"p{p:g}"] = statistics.quantiles(samples, n=1000)[round(p * 10) - 1]
            break
    return out


def host_record(spark, root: Path, seed: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    mem_kb = next(
        int(line.split()[1])
        for line in Path("/proc/meminfo").read_text().splitlines()
        if line.startswith("MemTotal:")
    )
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True,
            timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = None  # the benchmark may run from an exported tree
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "git_sha": sha,
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "seed": seed,
    }


def isolate(root: Path, work: Path) -> None:
    """Point every file Spark and its workers write at ``work`` and put
    the repository root on the workers' import path."""
    tmp = work / "tmp"
    conf = work / "conf"
    tmp.mkdir(parents=True)
    conf.mkdir()
    # build_session sets none of these keys; spark-submit reads them from
    # $SPARK_CONF_DIR/spark-defaults.conf when it launches the JVM.
    (conf / "spark-defaults.conf").write_text(
        f"spark.sql.warehouse.dir {work / 'warehouse'}\n"
        f"spark.local.dir {tmp}\n"
        f"spark.driver.extraJavaOptions -Djava.io.tmpdir={tmp}\n"
        "spark.ui.showConsoleProgress false\n"
    )
    os.environ["SPARK_CONF_DIR"] = str(conf)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = f"{root}{os.pathsep}{path}" if path else str(root)
    os.chdir(work)


def run(args, root: Path, work: Path) -> tuple[dict, dict]:
    from perfbench import workloads
    from perfbench.procs import RssSampler
    from perfbench.trace import Tracer

    from mapreduce_c_implementation_spark.session import build_session

    threads = len(os.sched_getaffinity(0))
    wl = workloads.make(args.workload, work, args.seed, args.scale, threads)
    me = os.getpid()
    attempted = failed = 0

    spark = None
    try:
        t0 = time.perf_counter()
        spark = build_session("perfbench")
        start_s = time.perf_counter() - t0
        # Memory is sampled from session start to the last timed unit.
        with RssSampler(me) as rss:
            stage_s = []
            for i in range(STAGINGS):
                t0 = time.perf_counter()
                wl.stage(i)
                stage_s.append(time.perf_counter() - t0)
            if len({r["sha256"] for r in wl.input_records}) != 1:
                raise RuntimeError("the same seed staged different inputs")
            t0 = time.perf_counter()
            wl.expect()
            expect_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            _, a, f = wl.unit(spark)
            warmup_s = time.perf_counter() - t0
            attempted, failed = attempted + a, failed + f

            # Units run until their summed wall (output checks excluded)
            # reaches --seconds.
            walls = []
            while sum(walls) < args.seconds:
                wall, a, f = wl.unit(spark)
                walls.append(wall)
                attempted, failed = attempted + a, failed + f

        wall = statistics.median(walls)
        metrics = {
            "setup_s": start_s + statistics.median(stage_s) + expect_s + warmup_s,
            "wall_s": wall,
            "input_mb_per_s": wl.input_bytes / 1e6 / wall,
        }
        record = {
            "workload": args.workload,
            "host": host_record(spark, root, args.seed),
            "input_mb": wl.input_bytes / 1e6,
            "inputs": wl.input_records,
            "wall_s": high_percentile(walls),
            "walls": walls,
            "peak_rss_mb": rss.peak_tree / 1e6,
            "op_walls": getattr(wl, "op_walls", None),
            "stability_only": sorted(workloads.STABILITY_ONLY),
        }
        if args.trace:
            tracer = Tracer(f"{args.workload}-seed{args.seed}-{me}")
            with tracer.span("run"):
                traced = wl.trace(spark, tracer, me)
            attempted += traced["attempted"]
            failed += traced["failed"]
            layers = {name: 0 for name in workloads.PER_LAYER}
            layers.update(traced["layers"])
            layers.update({
                "session.start_s": start_s,
                "session.warmup_s": warmup_s,
                "session.peak_rss_mb": rss.peak_tree / 1e6,
                "setup.stage_s": statistics.median(stage_s),
                "setup.expect_s": expect_s,
                "trace.overhead_s": traced["wall"] - wall,
            })
            metrics = {name: layers[name] for name in workloads.PER_LAYER}
            record["self_time_s"] = tracer.self_times()
            record["incomplete_windows"] = traced.get("incomplete_windows", [])
            tracer.write(root / ".perfbench_out" / f"trace-{tracer.run_id}.json")
    finally:
        stop_session(spark, me)
    record["fail_rate"] = failed / attempted
    return record, {"attempted": attempted, "failed": failed, "metrics": metrics}


def stop_session(spark, me: int) -> None:
    """Stop the session, its JVM and every process they started."""
    from perfbench.procs import stop_tree

    try:
        if spark is not None:
            gateway = spark.sparkContext._gateway
            try:
                spark.stop()
            finally:
                gateway.shutdown()
    finally:
        stop_tree(me)


def unit_of(name: str) -> str:
    from perfbench.workloads import layer_unit

    return END_TO_END.get(name) or layer_unit(name)


def main(argv=None) -> int:
    root = Path.cwd()
    if not (root / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {root} has no {PACKAGE}/; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    args = parse_args(argv)
    work = root / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        if shutil.disk_usage(work).free < MIN_FREE_BYTES:
            print(f"perfbench: under {MIN_FREE_BYTES >> 30} GiB free at {work}",
                  file=sys.stderr)
            return 3
        isolate(root, work)
        record, result = run(args, root, work)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        os.chdir(root)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (root / ".perfbench_work").rmdir()
        except OSError:
            pass  # another run's directory is still there
    m = result["metrics"]
    print(f"perfbench {args.workload} seed={args.seed} fail_rate={record['fail_rate']:.3f} "
          + " ".join(f"{k}={v:.4g}{unit_of(k)}" for k, v in m.items() if k in END_TO_END),
          file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in m.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    sys.exit(main())
