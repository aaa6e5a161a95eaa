"""Tests of the benchmark itself: ``python -m pytest perfbench -q`` from
the repository root. The end-to-end cases run the command on tiny
corpora (a few minutes in all on 4 cores)."""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pytest

from perfbench import docweb, gen
from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS
from perfbench.tracing import covered_seconds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(*args, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def _assert_all_metrics(result, expected):
    assert result["metrics"].keys() == expected.keys()
    for name, unit in expected.items():
        assert result["metrics"][name]["unit"] == unit


def test_benchmark_json_matches_the_command():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert max(bounds.values()) == bounds["setup_s"] <= 0.25


def test_generators_are_seeded(tmp_path):
    for seed in (1, 1, 2):
        d = tmp_path / f"s{seed}"
        d.mkdir(exist_ok=True)
        gen.write_documents(str(d), 50, seed)
        gen.write_events(str(d), 100, seed)
    same = [(tmp_path / "s1" / f).read_bytes() for f in ("documents.parquet", "events.parquet")]
    other = [(tmp_path / "s2" / f).read_bytes() for f in ("documents.parquet", "events.parquet")]
    assert same != other
    assert docweb.choose_seed_docs(500, 7) == docweb.choose_seed_docs(500, 7)


def test_seed_docs_share_one_closure_depth():
    n = docweb.N_DOCS
    depths = {docweb.closure_depth(n, docweb.choose_seed_docs(n, s)) for s in range(20)}
    assert len(depths) == 1


def test_covered_seconds_is_the_clipped_union():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert covered_seconds(spans, 0.5, 10.0) == pytest.approx(1.5 + 1.0 + 1.0 + 1.0)
    assert covered_seconds([], 0.0, 1.0) == 0.0


@pytest.mark.parametrize("trace,expected", [("0", END_TO_END), ("1", PER_LAYER)])
def test_docweb_prints_every_metric(trace, expected):
    rc, result, err = _run("--workload", "docweb", "--seed", "3", "--trace", trace, "--docs", "40")
    assert rc == 0, err[-2000:]
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    _assert_all_metrics(result, expected)
    if trace == "1":
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["engine.fetch_yield"] == 1.0
        assert m["tables.bytes_written"] > 0 and m["trace_overhead"] > 0


def test_docweb_dropped_fetched_row_fails():
    rc, result, _ = _run("--workload", "docweb", "--seed", "3", "--trace", "0",
                         "--docs", "40", "--corrupt")
    assert rc == 1
    assert not result["correct"] and result["failed"] > 0


def test_analytics_prints_every_metric_and_catches_an_altered_row():
    rc, result, err = _run("--workload", "analytics", "--seed", "3", "--trace", "1", "--docs", "60")
    assert rc == 0, err[-2000:]
    assert result["correct"] and result["failed"] == 0
    _assert_all_metrics(result, PER_LAYER)
    assert all(result["metrics"][f"operators.{q}_s"]["value"] > 0 for q in
               ("exact_dedup", "lr_quality", "politeness_schedule"))
    rc, result, _ = _run("--workload", "analytics", "--seed", "3", "--trace", "0",
                         "--docs", "60", "--corrupt")
    assert rc == 1
    assert not result["correct"] and result["failed"] > 0
    _assert_all_metrics(result, END_TO_END)


def test_outside_a_checkout_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, result, _ = _run("--workload", "docweb", "--seed", "1", cwd=str(tmp_path))
    assert rc != 0 and result is None


def _session_members(sid: int) -> list[int]:
    """Live processes of session ``sid`` (the run and all it started)."""
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[3]) == sid and fields[0] != "Z":
                pids.append(int(name))
    return pids


@pytest.mark.parametrize("terminate_after_s", [None, 20.0])
def test_no_process_outlives_the_run(terminate_after_s):
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", "docweb", "--seed", "3",
         "--seconds", "1", "--trace", "1", "--docs", "40"],
        cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, start_new_session=True,
    )
    if terminate_after_s is not None:
        time.sleep(terminate_after_s)
        assert len(_session_members(p.pid)) > 1  # the JVM is up
        p.send_signal(signal.SIGTERM)
    p.wait(timeout=600)
    assert _session_members(p.pid) == []
