"""The benchmark's own tests, on the smoke size of each workload.

    python -m pytest perfbench -q

Each workload runs once untraced and twice traced with the same seed.
The tests check the output contract, that every metric is declared in
BENCHMARK.json with its unit, that the host-independent counts repeat
exactly, and that the benchmark refuses to run without the package."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import run as bench  # noqa: E402

WORKLOADS = sorted(bench.WORKLOADS)
SEED = 7

#: metrics the benchmark's design names, mapped to the declared metric that
#: reports them.  End-to-end metrics are emitted by every workload, so the
#: workload-specific figures are the generic op_* ones or per-layer.
NAMED = {
    "setup_s": "setup_s",
    "peak_rss_mb": "peak_rss_mb",
    "error_rate": "error_rate",
    "lookups_per_s": "ops_per_s",
    "lookup_p50_ms": "op_p50_ms",
    "lookup_p99_ms": "lookup_p99_ms",
    "index_bytes_ratio": "index_bytes_ratio",
    "scan_p50_ms": "scan_p50_ms",
    "scan_p90_ms": "scan_p90_ms",
    "refresh_p50_ms": "refresh_p50_ms",
    "pipeline_pass_s": "pipeline_pass_s",
    "footer_splice.read_metadata_ms": "footer_splice.read_metadata_ms",
    "footer_splice.read_metadata_p99_ms": "footer_splice.read_metadata_p99_ms",
    "footer_splice.read_schema_ms": "footer_splice.read_schema_ms",
    "reader.open_read_ms": "reader.open_read_ms",
    "footer_splice.generate_ms": "footer_splice.generate_ms",
    "footer_splice.sidecar_bytes": "footer_splice.sidecar_bytes",
    "smart.plan_ms": "smart.plan_ms",
    "scan.exec_ms": "scan.exec_ms",
    "smart.route_indexed_share": "smart.route_indexed_share",
    "scan.rg_kept_ratio": "scan.rg_kept_ratio",
    "scan.tier_kept.stats": "scan.tier_kept.stats",
    "scan.tier_kept.dictionary": "scan.tier_kept.dictionary",
    "scan.tier_kept.bloom": "scan.tier_kept.bloom",
    "scan.tier_kept.page": "scan.tier_kept.page",
    "spark.jobs_per_scan": "spark.jobs_per_scan",
    "builder.refresh_ms": "builder.refresh_ms",
    "metadata_index.point_select_ms": "metadata_index.point_select_ms",
    "spark.jobs_per_refresh": "spark.jobs_per_refresh",
    "builder.build_ms": "builder.build_ms",
    "control.full_footer_ms": "control.full_footer_ms",
    **{f"op.{q}_s": f"op.{q}_s" for q in
       ("q91_minhash_lsh", "q147_copurchase_pairs", "q130_pagerank_fixedpoint",
        "q70_tumbling_window", "q117_sessionization", "q20_inner_join")},
    **{f"op.q20_inner_join.{k}": f"op.q20_inner_join.{k}" for k in ("jobs", "stages")},
}

_RUNS: dict = {}


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def runs(workload: str) -> dict:
    """(context, result) of one untraced and two traced smoke runs."""
    if workload not in _RUNS:
        out = {}
        for tag, trace in (("plain", 0), ("traced", 1), ("traced_again", 1)):
            p = _run(workload, trace)
            assert p.returncode == 0, p.stderr[-3000:]
            lines = p.stdout.strip().splitlines()
            out[tag] = (json.loads(lines[-2]), json.loads(lines[-1]))
        _RUNS[workload] = out
    return _RUNS[workload]


def spec() -> dict:
    return bench.load_spec()


def test_spec_shape():
    s = spec()
    assert set(s) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert s["paths"] == ["perfbench"]
    assert sorted(w["name"] for w in s["workloads"]) == WORKLOADS
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    assert len(names) == len(set(names))
    bounds = {m["name"]: m["bound"] for m in s["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_named_metrics_are_declared():
    declared = {m["name"] for m in spec()["end_to_end"] + spec()["per_layer"]}
    assert set(NAMED.values()) <= declared


def test_declared_per_layer_is_what_the_workloads_own():
    owned = set().union(*(bench.owned_per_layer(w) for w in WORKLOADS))
    assert owned == {m["name"] for m in spec()["per_layer"]}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_output_contract(workload):
    s = spec()
    for tag, declared in (("plain", s["end_to_end"]), ("traced", s["per_layer"])):
        _ctx, res = runs(workload)[tag]
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
        assert {k: v["unit"] for k, v in res["metrics"].items()} == {
            m["name"]: m["unit"] for m in declared}
    for m in s["end_to_end"]:
        assert runs(workload)["plain"][1]["metrics"][m["name"]]["value"] > 0, m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_context_records_host_and_seed(workload):
    ctx, _res = runs(workload)["plain"]
    assert ctx["seed"] == SEED and ctx["nproc"] >= 1 and ctx["control.full_footer_ms"] > 0
    assert ctx["raw.setup_s"] > 0 and ctx["raw.op_geomean_ms"] > 0 and ctx["host.speed"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_counts_repeat_for_a_seed(workload):
    a = runs(workload)["traced"][0]["counts"]
    b = runs(workload)["traced_again"][0]["counts"]
    assert a and a == b


def test_refuses_to_run_without_the_package():
    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        p = _run("meta-lookup", 0, cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
