"""Self-test of the benchmark's output format, at the smallest size.

Runs every workload with ``--scale small`` in both modes and checks that
the last stdout line parses as {correct, attempted, failed, metrics},
that every metric BENCHMARK.json names appears with its unit, that the
report line names each workload's end-to-end metrics with units, and
that an injected oracle mismatch makes the command fail.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import metrics  # noqa: E402
from perfbench.run import WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

# the metrics each workload's report line names, with their units
REPORT = {
    "crawl_steady": {"crawl_urls_per_s": "urls/s", "round_p50_s": "s", "round_p75_s": "s",
                     "publish_s": "s"},
    "crawl_bfs": {"crawl_urls_per_s": "urls/s", "round_p50_s": "s", "round_p75_s": "s",
                  "publish_s": "s"},
    "search_serve": {"search_qps": "req/s", "search_p50_ms": "ms", "search_p75_ms": "ms",
                     "publish_s": "s"},
}
COMMON = {"setup_s": "s", "peak_rss_mb": "MB", "error_frac": "ratio"}


def bench(*args: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    cmd = SPEC["command"] + list(args)
    environ = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(cmd, cwd=cwd, env=environ, capture_output=True, text=True,
                          timeout=900)


def result_line(out: str) -> dict:
    res = json.loads(out.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int)
    return res


@pytest.fixture(scope="module", params=[(w, t) for w in WORKLOADS for t in (0, 1)],
                ids=lambda p: f"{p[0]}-trace{p[1]}")
def run(request, tmp_path_factory):
    workload, trace = request.param
    spans_out = tmp_path_factory.mktemp("spans") / "spans.json"
    p = bench("--workload", workload, "--seed", "3", "--seconds", "2",
              "--trace", str(trace), "--scale", "small", "--trace-out", str(spans_out))
    assert p.returncode == 0, p.stderr[-3000:]
    return workload, trace, p.stdout, spans_out


def test_output_format(run):
    workload, trace, out, spans_out = run
    res = result_line(out)
    assert res["correct"] is True and res["failed"] == 0
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if not trace:
            assert got["value"] > 0, m["name"]
    if trace:
        spans = json.loads(spans_out.read_text())["spans"]
        names = {s["name"] for s in spans}
        assert names >= ({"search.backend"} if workload == "search_serve" else
                         {"rounds.round", "tableformat.commit", "catalog.upsert"})
        for s in spans:
            assert s["start"] <= s["end"] and {"id", "parent", "key"} <= set(s)
    else:
        report = json.loads(out.strip().splitlines()[-2])["report"]
        for name, unit in {**REPORT[workload], **COMMON}.items():
            assert report[name]["unit"] == unit
        assert report["error_frac"]["value"] == 0.0


def test_names_match_benchmark_json():
    assert [m["name"] for m in SPEC["end_to_end"]] == list(metrics.END_TO_END)
    assert [m["unit"] for m in SPEC["end_to_end"]] == list(metrics.END_TO_END.values())
    assert [m["name"] for m in SPEC["per_layer"]] == list(metrics.PER_LAYER)
    assert [m["unit"] for m in SPEC["per_layer"]] == list(metrics.PER_LAYER.values())
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", ["crawl_bfs", "search_serve"])
def test_injected_mismatch_fails(workload):
    p = bench("--workload", workload, "--seed", "3", "--seconds", "2", "--scale", "small",
              "--inject-mismatch")
    assert p.returncode != 0
    res = result_line(p.stdout)
    assert res["correct"] is False and res["failed"] >= 1
    assert "MISMATCH" in p.stderr


def test_fails_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero without printing a result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = bench("--workload", "crawl_bfs", "--seed", "1", "--seconds", "1", cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout

