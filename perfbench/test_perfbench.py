"""Self-tests for the contract-run benchmark.

Run from the repo root:

    python3 -m pytest perfbench/test_perfbench.py -q

The end-to-end cases run each workload at a tiny size through the same
command the benchmark is driven by (about half a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
import yaml

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
import workloads  # noqa: E402
from spans import NAME_RE, Tracer, check_nesting  # noqa: E402

with open(os.path.join(harness.ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    BENCH = json.load(_f)
TINY = {"audio_pass": 120, "audio_skew_fail": 400, "tabular_ckpt": 4000}
SEED = 3


def _run(workload: str, trace: int) -> dict:
    """One benchmark run; it must leave no process behind. As a subreaper,
    this process inherits anything the run orphans."""
    harness.adopt_orphans()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "0", "--trace", str(trace),
         "--rows", str(TINY[workload])],
        capture_output=True, text=True, timeout=600, cwd=harness.ROOT,
        check=False)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "leftover processes" not in proc.stderr
    me = os.getpid()
    assert [p for p in harness.process_tree(me) if p != me] == []
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _artifact(name: str) -> dict:
    with open(os.path.join(harness.WORK, "out", name), encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_traced_run_end_to_end(workload):
    out = _run(workload, 1)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 6
    assert set(out["metrics"]) == {m["name"] for m in BENCH["per_layer"]}
    assert all(NAME_RE.match(n) for n in out["metrics"])
    assert out["metrics"]["compile.checks"]["value"] == workloads.WORKLOADS[workload].checks

    spans = _artifact(f"trace_{workload}_s{SEED}.json")["spans"]
    check_nesting(spans)
    by_id = {s["id"]: s for s in spans}
    assert all(NAME_RE.match(s["name"]) for s in spans)
    roots = [s for s in spans if s["parent"] is None]
    assert [r["name"] for r in roots] == [f"workload.{workload}"]
    ops = [s for s in spans if s["name"] == "operation"]
    assert ops
    for s in spans:
        if s["name"] in ("engine.validate", "io.write_results", "io.write_violations"):
            assert by_id[s["parent"]]["name"] == "operation"


def test_untraced_checkpointed_run():
    """End-to-end metrics only; and every checkpointed operation starts from
    an empty checkpoint_dir. The engine appends to its manifest, so a leaked
    directory would show more than one record per partition."""
    out = _run("tabular_ckpt", 0)
    assert out["correct"] and out["failed"] == 0
    assert set(out["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
    for name, m in out["metrics"].items():
        assert NAME_RE.match(name) and m["value"] > 0
    ops = _artifact(f"run_tabular_ckpt_s{SEED}_t0.json")["ops"]
    assert len(ops) >= 3
    assert {o["ckpt_records"] for o in ops} == {len(workloads.REGIONS)}


def test_split_contract_partitions_rules():
    wl = workloads.WORKLOADS["audio_pass"]
    fused, dedicated = (yaml.safe_load(t) for t in
                        workloads.split_contract(workloads.contract_text(wl)))
    fields = fused["models"]["audio_clips"]["fields"]
    assert not any(k in f for f in fields.values()
                   for k in ("unique", "references", "primaryKey"))
    assert {q.get("invariant") or q["type"]
            for q in dedicated["models"]["audio_clips"]["quality"]} == {
        "transcript-equality", "sql"}
    dfields = dedicated["models"]["audio_clips"]["fields"]
    assert dfields["clip_id"] == {"type": "string", "unique": True,
                                  "references": "transcripts_ref.clip_id"}
    assert dfields["sr_hz"] == {"type": "int"}


def test_span_nesting_detects_escape():
    tr = Tracer(True)
    with tr.span("workload.x"):
        with tr.span("operation"):
            pass
    check_nesting(tr.spans)
    tr.spans[1]["end"] = tr.spans[0]["end"] + 1.0
    with pytest.raises(ValueError):
        check_nesting(tr.spans)
    with pytest.raises(ValueError):
        with tr.span("bad name"):
            pass


def test_union_of_job_intervals():
    assert harness.union_ms([(0, 10), (5, 20), (30, 40)]) == 30.0
    assert harness.union_ms([]) == 0.0


def test_refuses_to_run_without_engine(tmp_path):
    """A copy holding only the benchmark exits non-zero without a result."""
    dst = tmp_path / "perfbench"
    dst.mkdir()
    for name in ("run.py", "harness.py", "spans.py", "workloads.py"):
        (dst / name).write_text(open(os.path.join(HERE, name)).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "audio_pass",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, timeout=120, cwd=tmp_path, check=False)
    assert proc.returncode != 0 and proc.stdout == ""
