"""Contract-run benchmark: one workload per invocation, result as JSON.

Usage (from the repo root):

    python3 perfbench/run.py --workload audio_pass --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One operation is one contract run as a user's job waits for it:
``engine.validate`` -> ``io.write_results`` of the results rows ->
materialising and writing the violations frame. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the layer ladder, the sub-contract
splits and per-operation status-store harvests, and reports per-layer
metrics plus the tracing overhead. The last stdout line is always one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import subprocess
import sys
import time
from statistics import median
from typing import Any, Dict, List, Optional

import harness
import workloads as wmod
from harness import HarnessError
from spans import NAME_RE, Tracer, check_nesting

MIN_OPS = 3               # timed operations per run, even past --seconds
WARM_OPS = 2              # untimed, checked operations before the timed ones,
WARM_SECONDS = 8.0        # and for at least this long (JIT, page cache)
LADDER_REPS = 3
OUT = os.path.join(harness.WORK, "out")


class Bench:
    """One workload at one seed inside one benchmark process."""

    def __init__(self, wl: wmod.Workload, seed: int, rows: int, tracer: Tracer):
        self.wl = wl
        self.seed = seed
        self.rows = rows
        self.tr = tracer
        self.spark = None
        self.out = os.path.join(OUT, f"{wl.name}_s{seed}")
        self.layer: Dict[str, float] = {}
        self.failures: List[str] = []

    # -- set-up -------------------------------------------------------------

    def generate_if_needed(self) -> float:
        if wmod.cached(self.wl, self.seed, self.rows):
            return 0.0
        t0 = time.perf_counter()
        wmod.generate(self.wl, self.seed, self.rows,
                      len(os.sched_getaffinity(0)))
        # flush the new files now, so their write-back does not overlap
        # the timed operations
        os.sync()
        return time.perf_counter() - t0

    def setup(self) -> Dict[str, float]:
        """Session start, spec parse, compile, ref-stats snapshot, warm-up."""
        from dcspark import drift as drift_mod
        from dcspark.compile import create_checks
        from dcspark.engine import ValidationConfig
        from dcspark.spec import DataContractSpecification

        wl, t = self.wl, {}
        with self.tr.span("setup"):
            t0 = time.perf_counter()
            with self.tr.span("session.start"):
                self.spark = harness.start_session(
                    harness.session_confs(harness.cpus()))
            t["session_s"] = time.perf_counter() - t0
            with self.tr.span("spec.parse"):
                t1 = time.perf_counter()
                self.spec = DataContractSpecification.from_file(
                    os.path.join(harness.ROOT, wl.contract))
                t["parse_s"] = time.perf_counter() - t1
            with self.tr.span("compile.create_checks"):
                t1 = time.perf_counter()
                self.n_checks = sum(len(v) for v in create_checks(self.spec).values())
                t["compile_s"] = time.perf_counter() - t1
            with self.tr.span("io.load_tables"):
                t1 = time.perf_counter()
                self.tables = wmod.load_tables(self.spark, wl, self.seed, self.rows)
                t["load_s"] = time.perf_counter() - t1
            fact = self.tables[wl.fact]
            with self.tr.span("drift.build_ref_stats"):
                t1 = time.perf_counter()
                cols = wmod.drift_columns(wl)
                ref_stats = drift_mod.build_ref_stats(fact.select(*cols), cols)
                t["ref_stats_s"] = time.perf_counter() - t1
            self.snr = wmod.snr_fn(wl, self.seed) if wl.payload else None
            self.cfg = ValidationConfig(
                ref_stats={wl.fact: ref_stats}, audio_snr_fn=self.snr,
                partition_col=wl.partition_col)
            with self.tr.span("python.warmup"):
                t1 = time.perf_counter()
                self._warm_python(fact)
                t["warmup_s"] = time.perf_counter() - t1
            t["setup_s"] = time.perf_counter() - t0
        return t

    def _warm_python(self, fact) -> None:
        """Start the Python daemon and one worker per slot; warm the decoder."""
        n = harness.cpus()
        self.spark.range(n, numPartitions=n).mapInArrow(
            _noop_batches, "n long").collect()
        if self.wl.payload:
            from dcspark import audio as audio_mod

            audio_mod.audio_decode_report(fact.limit(64), snr_fn=self.snr).count()

    def measure_input(self) -> None:
        """Fact-table bytes, computed by the benchmark (also warms the page cache)."""
        from pyspark.sql import functions as F

        fact = self.tables[self.wl.fact]
        if self.wl.payload:
            self.input_bytes = int(fact.select(F.sum(F.length("bytes"))).first()[0])
        else:
            fact.select(*[F.count(c) for c in fact.columns]).collect()
            self.input_bytes = wmod.parquet_bytes(self.wl, self.seed, self.rows)
        self.expect = wmod.oracle(self.wl, self.seed, self.rows)
        self.expect_failed = wmod.expected_failures(self.wl, self.expect)
        self.expect_vio = wmod.violation_rows_expected(
            self.expect, self.cfg.violation_cap)

    # -- one operation --------------------------------------------------------

    def _fresh(self, name: str) -> str:
        path = os.path.join(self.out, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def operation(self, sampler: harness.RssSampler, traced: bool,
                  spec=None, check: bool = True) -> Dict[str, Any]:
        from dcspark.engine import RESULTS_DDL, validate
        from dcspark.io import write_results

        spark, tr = self.spark, self.tr
        cfg = self.cfg
        ckpt = None
        if self.wl.partition_col:
            ckpt = self._fresh("ckpt")
            cfg = dataclasses.replace(cfg, checkpoint_dir=ckpt)
        res_path, vio_path = self._fresh("results"), self._fresh("violations")
        jobs0 = harness.job_ids(spark) if traced else None
        cpu0 = harness.python_cpu_ms(harness.jvm_pid(spark)) if traced else None
        sampler.take_peak()
        wall0 = time.time()
        t0 = time.perf_counter()
        with tr.span("operation") as op_span:
            with tr.span("engine.validate"):
                t1 = time.perf_counter()
                result = validate(spark, spec or self.spec, self.tables, cfg)
                validate_s = time.perf_counter() - t1
            with tr.span("io.write_results"):
                t1 = time.perf_counter()
                write_results(spark.createDataFrame(result.results, schema=RESULTS_DDL),
                              res_path)
                write_results_s = time.perf_counter() - t1
            with tr.span("io.write_violations"):
                t1 = time.perf_counter()
                if result.violations is not None:
                    write_results(result.violations, vio_path)
                violations_write_s = time.perf_counter() - t1
        run_s = time.perf_counter() - t0
        wall1 = time.time()
        rec: Dict[str, Any] = {
            "run_s": run_s, "validate_s": validate_s,
            "write_results_s": write_results_s,
            "violations_write_s": violations_write_s,
            "peak_rss": sampler.take_peak(),
            "results_rows": len(result.results),
        }
        if traced:
            cpu1 = harness.python_cpu_ms(harness.jvm_pid(spark))
            cost = harness.harvest_jobs(spark, harness.job_ids(spark) - jobs0)
            rec.update({k: v for k, v in cost.items() if k != "intervals"})
            rec["python_cpu_ms"] = cpu1 - cpu0
            rec["driver_only_s"] = run_s - _clip_union(cost["intervals"], wall0, wall1)
            if op_span is not None:
                op_span["attrs"].update(jobs=cost["jobs"], tasks=cost["tasks"])
        if ckpt is not None:
            rec["ckpt_records"], rec["ckpt_bytes"] = _manifest_size(ckpt)
        vio_counts = _violation_counts(vio_path)
        rec["violation_rows"] = sum(vio_counts.values())
        if check:
            problems = self.verify(result, vio_counts)
            if problems:
                self.failures.extend(problems)
            rec["ok"] = not problems
        return rec

    def verify(self, result, vio_counts: Dict[str, int]) -> List[str]:
        """Compare one operation's outputs with the DuckDB expectation."""
        checks = result.run.checks
        problems = []
        if len(checks) != self.wl.checks:
            problems.append(f"check count {len(checks)} != {self.wl.checks}")
        want = "failed" if self.expect_failed else "passed"
        if result.run.result.value != want:
            problems.append(f"verdict {result.run.result.value} != {want}")
        failed = {c.key for c in checks if c.result.value != "passed"}
        if failed != self.expect_failed:
            problems.append(f"non-passing checks {sorted(failed)} != "
                            f"{sorted(self.expect_failed)}")
        for key, value in self.expect.items():
            got = result.metrics.get(key)
            if got is None or float(got) != value:
                problems.append(f"{key}: metric {got} != {value}")
        for key in self.expect:
            want_rows = self.expect_vio.get(key, 0)
            if vio_counts.get(key, 0) != want_rows:
                problems.append(f"{key}: {vio_counts.get(key, 0)} violation rows "
                                f"!= {want_rows}")
        return problems

    # -- traced extras -----------------------------------------------------------

    def ladder(self) -> None:
        """Rungs L0..L3 over the fact table, each the median of a few reps."""
        from pyspark.sql import functions as F

        fact = self.tables[self.wl.fact]
        if self.wl.payload:
            from dcspark import audio as audio_mod

            rungs = [
                ("io.scan", lambda: fact.select(F.sum(F.length("bytes"))).collect()),
                ("audio.arrow_handoff", lambda: fact.select("bytes").mapInArrow(
                    _noop_batches, "n long").agg(F.sum("n")).collect()),
                ("audio.decode", lambda: audio_mod.audio_decode_report(fact).count()),
                ("synth.snr_oracle", lambda: audio_mod.audio_decode_report(
                    fact, snr_fn=self.snr).count()),
            ]
        else:
            rungs = [
                ("io.scan", lambda: fact.select(
                    *[F.count(c) for c in fact.columns]).collect()),
                ("audio.arrow_handoff", lambda: fact.mapInArrow(
                    _noop_batches, "n long").agg(F.sum("n")).collect()),
            ]
        walls = []
        with self.tr.span("ladder"):
            for name, fn in rungs:
                reps = []
                for _ in range(LADDER_REPS):
                    with self.tr.span(name):
                        t0 = time.perf_counter()
                        fn()
                        reps.append(time.perf_counter() - t0)
                walls.append(median(reps))
        steps = [walls[0]] + [b - a for a, b in zip(walls, walls[1:])]
        names = ["io.scan_s", "audio.arrow_handoff_s", "audio.decode_s",
                 "synth.snr_oracle_s"]
        for i, name in enumerate(names):
            self.layer[name] = steps[i] if i < len(steps) else 0.0
        # the shared scan of a payload-free table is a pure JVM scan (L0)
        self.top_rung = walls[-1] if self.wl.payload else walls[0]

    def split(self, sampler: harness.RssSampler, full_validate_s: float) -> None:
        """Validate the shared-scan-only and dedicated-only sub-contracts."""
        from dcspark.spec import DataContractSpecification

        fused_txt, dedicated_txt = wmod.split_contract(
            wmod.contract_text(self.wl))
        walls = {}
        for name, txt in (("fused", fused_txt), ("dedicated", dedicated_txt)):
            spec = DataContractSpecification.from_string(txt)
            reps = []
            with self.tr.span(f"split.{name}"):
                for _ in range(LADDER_REPS):
                    reps.append(self.operation(sampler, False, spec=spec,
                                               check=False)["validate_s"])
            walls[name] = median(reps)
        self.layer["engine.fused_rest_s"] = walls["fused"] - self.top_rung
        self.layer["engine.dedicated_s"] = walls["dedicated"]
        self.layer["engine.overlap_s"] = (
            walls["fused"] + walls["dedicated"] - full_validate_s)


def _noop_batches(batches):
    import pyarrow as pa

    for b in batches:
        yield pa.RecordBatch.from_pydict({"n": [b.num_rows]})


def _clip_union(intervals, wall0: float, wall1: float) -> float:
    lo, hi = wall0 * 1000, wall1 * 1000
    clipped = [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]
    return harness.union_ms(clipped) / 1000.0


def _manifest_size(ckpt: str):
    records, size = 0, 0
    for root, _dirs, files in os.walk(ckpt):
        for name in files:
            path = os.path.join(root, name)
            size += os.path.getsize(path)
            if name.endswith(".jsonl"):
                with open(path, "rb") as f:
                    records += sum(1 for line in f if line.strip())
    return records, size


def _violation_counts(path: str) -> Dict[str, int]:
    """Written violation rows per check key, read back with DuckDB."""
    if not any(n.endswith(".parquet") for n in
               (os.listdir(path) if os.path.isdir(path) else ())):
        return {}
    import duckdb

    con = duckdb.connect()
    try:
        rows = con.execute(
            f"SELECT check_key, count(*) FROM read_parquet('{path}/*.parquet') "
            "GROUP BY 1").fetchall()
    finally:
        con.close()
    return {k: int(v) for k, v in rows}


def _metric(value: float, unit: str) -> Dict[str, Any]:
    return {"value": float(value), "unit": unit}


def run_workload(args) -> Dict[str, Any]:
    wl = wmod.WORKLOADS[args.workload]
    rows = args.rows or wl.rows
    traced = bool(args.trace)
    tracer = Tracer(traced)
    bench = Bench(wl, args.seed, rows, tracer)
    os.makedirs(bench.out, exist_ok=True)
    phases = {"generate_s": bench.generate_if_needed()}

    ops: List[Dict[str, Any]] = []
    untraced: List[Dict[str, Any]] = []
    warm: List[Dict[str, Any]] = []
    with tracer.span(f"workload.{wl.name}", seed=args.seed, rows=rows):
        setup = bench.setup()
        env = {**harness.versions(bench.spark),
               "confs": harness.session_confs(harness.cpus())}
        t0 = time.perf_counter()
        bench.measure_input()
        phases["input_and_oracle_s"] = time.perf_counter() - t0
        try:
            with harness.RssSampler(harness.jvm_pid(bench.spark)) as sampler:
                t0 = time.perf_counter()
                # the first operations compile every query plan and warm the
                # JIT and the Python workers: checked, not timed
                warm = _loop(bench, sampler, False, WARM_SECONDS, WARM_OPS)
                phases["warm_ops_s"] = time.perf_counter() - t0
                t0 = time.perf_counter()
                if traced:
                    bench.ladder()
                    phases["ladder_s"] = time.perf_counter() - t0
                    t0 = time.perf_counter()
                    # traced and untraced operations alternate, so JIT
                    # warm-up cannot masquerade as tracing overhead
                    both = _loop(bench, sampler, True, float(args.seconds))
                    ops = [o for o in both if o["traced"]]
                    untraced = [o for o in both if not o["traced"]]
                    phases["ops_s"] = time.perf_counter() - t0
                    t0 = time.perf_counter()
                    bench.split(sampler, median([o["validate_s"] for o in ops
                                                 if "validate_s" in o]))
                    phases["split_s"] = time.perf_counter() - t0
                else:
                    ops = _loop(bench, sampler, False, float(args.seconds))
                    phases["ops_s"] = time.perf_counter() - t0
        finally:
            t0 = time.perf_counter()
            harness.stop_session(bench.spark)
            phases["stop_s"] = time.perf_counter() - t0

    every = [*warm, *ops, *untraced]
    attempted = len(every)
    failed = sum(1 for o in every if not o["ok"])
    ops = [o for o in ops if "run_s" in o]
    untraced = [o for o in untraced if "run_s" in o]
    if not ops:
        raise HarnessError("every timed operation raised: " + "; ".join(bench.failures[:3]))
    run_s = median([o["run_s"] for o in ops])
    summary = {
        "workload": wl.name, "seed": args.seed, "rows": rows,
        "input_bytes": bench.input_bytes, "generate_s": phases["generate_s"],
        "ops": len(ops), "run_s_median": run_s,
        "run_s_max": max(o["run_s"] for o in ops),
        "failed_ratio": failed / attempted, "env": env,
        "setup": setup, "phases": phases, "problems": bench.failures[:20],
    }
    if traced:
        metrics = _layer_metrics(bench, setup, phases, ops, untraced)
        check_nesting(tracer.spans)
        tracer.write(os.path.join(OUT, f"trace_{wl.name}_s{args.seed}.json"))
    else:
        metrics = {
            "run_s": _metric(run_s, "s"),
            "rows_per_s": _metric(rows / run_s, "rows/s"),
            "input_gb_per_s": _metric(bench.input_bytes / run_s / 1e9, "GB/s"),
            "setup_s": _metric(setup["setup_s"], "s"),
            "peak_rss_mb": _metric(median([o["peak_rss"] for o in ops]) / 2**20, "MB"),
        }
    for name in metrics:
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
    with open(os.path.join(OUT, f"run_{wl.name}_s{args.seed}_t{args.trace}.json"),
              "w", encoding="utf-8") as f:
        json.dump({"summary": summary, "metrics": metrics, "ops": ops,
                   "untraced_ops": untraced}, f, indent=1, default=str)
    return {"summary": summary, "metrics": metrics, "attempted": attempted,
            "failed": failed}


def _loop(bench: Bench, sampler, trace: bool, seconds: float,
          min_ops: int = MIN_OPS) -> List[Dict[str, Any]]:
    """At least ``min_ops`` operations and ``seconds``; with ``trace`` every
    other one is traced."""
    ops: List[Dict[str, Any]] = []
    min_ops = 2 * min_ops if trace else min_ops
    t_end = time.perf_counter() + seconds
    while len(ops) < min_ops or time.perf_counter() < t_end:
        ops.append(_attempt(bench, sampler, trace and len(ops) % 2 == 1))
    return ops


def _attempt(bench: Bench, sampler, traced: bool) -> Dict[str, Any]:
    """One checked operation; one that raises counts as failed."""
    try:
        rec = bench.operation(sampler, traced)
    except Exception as e:  # noqa: BLE001 - a failed operation is a result
        bench.failures.append(f"operation raised {type(e).__name__}: {e}"[:500])
        rec = {"ok": False}
    rec["traced"] = traced
    return rec


def _layer_metrics(bench: Bench, s, phases, ops, untraced) -> Dict[str, Dict[str, Any]]:
    def med(key: str) -> float:
        return median([float(o.get(key, 0.0)) for o in ops])

    m = {
        "inputs.generate_s": _metric(phases["generate_s"], "s"),
        "session.start_s": _metric(s["session_s"], "s"),
        "io.load_tables_s": _metric(s["load_s"], "s"),
        "python.warmup_s": _metric(s["warmup_s"], "s"),
        "spec.parse_s": _metric(s["parse_s"], "s"),
        "compile.create_checks_s": _metric(s["compile_s"], "s"),
        "compile.checks": _metric(bench.n_checks, "count"),
        "drift.ref_stats_s": _metric(s["ref_stats_s"], "s"),
    }
    for name, value in bench.layer.items():
        m[name] = _metric(value, "s")
    m["engine.driver_only_s"] = _metric(med("driver_only_s"), "s")
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"engine.{key}"] = _metric(med(key), "count")
    for key in ("executor_run_ms", "jvm_cpu_ms", "gc_ms", "python_cpu_ms"):
        m[f"engine.{key}"] = _metric(med(key), "ms")
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"engine.{key}"] = _metric(med(key), "bytes")
    m["engine.task_skew"] = _metric(med("task_skew"), "ratio")
    tasks = sum(o["tasks"] for o in ops)
    m["engine.task_success_ratio"] = _metric(
        (tasks - sum(o["failed_tasks"] for o in ops)) / tasks if tasks else 1.0,
        "ratio")
    m["engine.ckpt_records"] = _metric(med("ckpt_records"), "count")
    m["engine.ckpt_bytes"] = _metric(med("ckpt_bytes"), "bytes")
    m["io.write_results_s"] = _metric(med("write_results_s"), "s")
    m["io.results_rows"] = _metric(med("results_rows"), "count")
    m["io.violations_write_s"] = _metric(med("violations_write_s"), "s")
    m["io.violation_rows"] = _metric(med("violation_rows"), "count")
    traced_run = med("run_s")
    plain_run = median([o["run_s"] for o in untraced])
    m["trace.run_s"] = _metric(traced_run, "s")
    m["trace.untraced_run_s"] = _metric(plain_run, "s")
    m["trace.overhead_s"] = _metric(traced_run - plain_run, "s")
    return m


def run_all(args) -> int:
    """Every workload in its own process; prints one block per workload."""
    results, code = {}, 0
    for name in wmod.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.rows:
            cmd += ["--rows", str(args.rows)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit {proc.returncode}", file=sys.stderr)
            code = 1
            continue
        results[name] = json.loads(lines[-1])
        for line in lines[:-1]:
            print(line)
        code |= 0 if results[name]["correct"] else 1
    print(json.dumps({"workloads": results}))
    return code


def parse_args(argv: Optional[List[str]] = None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(wmod.WORKLOADS) + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=0,
                   help="override the workload's fact-table size (self-tests)")
    return p.parse_args(argv)


def main(argv: Optional[List[str]] = None) -> int:
    harness.adopt_orphans()
    try:
        return _main(argv)
    finally:
        left = harness.reap_children()
        if left:
            print(f"perfbench: stopped leftover processes {left}", file=sys.stderr)


def _main(argv: Optional[List[str]] = None) -> int:
    try:
        harness.require_engine()
    except HarnessError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    harness.export_env()
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    try:
        out = run_workload(args)
    except HarnessError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    s = out["summary"]
    print(f"# {s['workload']} seed={s['seed']} rows={s['rows']} "
          f"input_bytes={s['input_bytes']} generate_s={s['generate_s']:.1f} "
          f"ops={s['ops']} run_s median={s['run_s_median']:.4f} "
          f"max={s['run_s_max']:.4f} (n={s['ops']}) "
          f"failed_ratio={s['failed_ratio']:.4f} (unit: ratio)")
    for name, m in out["metrics"].items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    for p in s["problems"]:
        print(f"# problem: {p}")
    print(json.dumps({"correct": out["failed"] == 0, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": out["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
