"""The benchmark's own tests: seeded inputs, the independent expected
index, and a small end-to-end run per workload that must print every
metric BENCHMARK.json names, with its unit.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import inputs  # noqa: E402
from perfbench.run import high_percentile  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


@pytest.mark.parametrize("make", [
    lambda dest, seed: inputs.zipf_corpus(dest, seed, 20_000, 4, vocab=5_000),
    lambda dest, seed: inputs.replicated_corpus(dest, seed, 50, 100_000, 4),
], ids=["zipf", "replicated"])
def test_corpus_digest_follows_seed(tmp_path, make):
    digest = [make(tmp_path / str(i), seed)[1]["sha256"] for i, seed in enumerate((7, 7, 8))]
    assert digest[0] == digest[1] != digest[2]


def test_fixture_tables_digest_follows_seed(tmp_path):
    digest = [
        inputs.fixture_tables(tmp_path / str(i), seed, 300, 60)["sha256"]
        for i, seed in enumerate((7, 7, 8))
    ]
    assert digest[0] == digest[1] != digest[2]


def test_expected_postings_match_a_python_tokenizer(tmp_path):
    from mapreduce_c_implementation_spark.functions.text import DUCKDB_TOKENIZE

    lines, _ = inputs.zipf_corpus(tmp_path, 3, 5_000, 3, vocab=500)
    postings: dict[str, set[str]] = {}
    n_tokens = 0
    for fname, line in zip(lines.column("fname").to_pylist(), lines.column("line").to_pylist()):
        for tok in re.split("[^a-zA-Z0-9]+", line):
            if tok:
                n_tokens += 1
                postings.setdefault(tok[:255].lower(), set()).add(fname)
    want = inputs.digest_lines(f"{w} -> [{', '.join(sorted(f))}]" for w, f in postings.items())
    got = inputs.expected_postings(lines, DUCKDB_TOKENIZE, threads=2)
    assert got["sha256"] == want
    assert got["n_tokens"] == n_tokens


def test_high_percentile_needs_ten_samples_beyond_it():
    assert high_percentile([1.0] * 11) == {"n": 11, "median": 1.0}
    assert set(high_percentile(list(range(40)))) == {"n", "median", "p75"}


def _run(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.02"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize(
    "workload,trace",
    [("index_zipf", 0), ("index_zipf", 1), ("index_replicated", 1), ("ops_families", 1)],
)
def test_small_run_prints_every_metric_with_its_unit(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_fails_without_the_package(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(ROOT / path, tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(SPEC["workloads"][0]["name"], 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout == ""
