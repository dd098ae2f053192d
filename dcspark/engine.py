"""Validation executor: runs each model's job plan (dcspark/plan.py) with
minimal passes.

Execution plan per model (scale rationale in SURVEY.md §4):

1. Schema checks (field_is_present / field_type) — driver-side against
   ``df.schema``; never trigger a scan (anti-goal parity with the reference).
2. ONE shared multi-aggregate scan computes every agg-kind metric at once:
   null-counts, invalid-counts (length/range/enum/regex/format/not-equal),
   row_count, freshness max / retention min timestamps, and the KS/PSI drift grid
   sums. Catalyst fuses these into a single Exchange + partial (map-side) aggregate;
   with a partition column we group by its partition key instead and merge
   per-partition states (ScanState) into the global metrics on the driver
   (every metric is decomposable). Checkpoint/resume is the same loop over
   chunks of partitions; a plain run is its one-chunk case.
3. The audio decode-conformance pass (Arrow mapInPandas) aggregates its per-row
   flags through the same partitioned/mergeable path.
4. Dedicated jobs that genuinely need their own shuffle: uniqueness (groupBy-key
   duplicate count — map-side partial aggregation bounds shuffle volume by the
   number of DISTINCT keys per partition, AQE handles skew), referential integrity
   (anti-join; broadcast hint when the parent is declared small), and scalar SQL
   quality queries.
5. A violations pass runs ONLY for checks that failed, evaluating all failed
   predicates in a single scan (array-of-structs -> filter -> explode) with a
   per-check row cap (default 500 — parity with DATACONTRACT_MAX_ERRORS,
   /root/reference/datacontract/engines/fastjsonschema/check_jsonschema.py:55-63).

All checks report results (no short-circuiting), matching the reference's
worst-result-wins fold (/root/reference/datacontract/model/run.py:65-75).
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import math
import os
from dataclasses import dataclass, field as dc_field, replace
from typing import Any, Dict, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import audio as audio_mod
from . import drift as drift_mod
from . import plan as plan_mod
from . import tdigest as td_mod
from .compile import CompiledCheck, create_checks
from .run_model import Check, ResultEnum, Run
from .spec import DataContractSpecification, resolve_schema_field

VIOLATION_CAP_DEFAULT = 500

#: column-bound check kinds gated on their columns before planning, in the
#: order their "column missing" errors record
_GATE_ORDER = {"agg": 0, "freshness": 0, "retention": 0, "drift": 1,
               "unique": 2, "reference": 3, "group": 4}

#: check kind -> failure wording for checks whose metric counts violating
#: rows, pairs or groups (zero passes unless the rule has its own evaluator)
_COUNT_FAILURE = {
    "group": "group(s) violate {threshold}",
    "audio_fp": "near-duplicate clip pair(s)",
    "video": "video payload(s) failed decode or stream-header conformance",
    "image": "image payload(s) failed decode or dimension conformance",
    "image_quality": "image(s) outside decoded-feature bounds",
    "image_fp": "near-duplicate image pair(s)",
}

VIOLATIONS_DDL = (
    "run_id string, partition_id string, check_key string, clip_id string, "
    "observed string, expected string"
)

RESULTS_DDL = (
    "run_id string, partition_id string, model string, field string, "
    "check_key string, check_type string, category string, engine string, "
    "result string, metric_value double, threshold string, reason string, "
    "row_count bigint, ts_start timestamp, ts_end timestamp"
)


@dataclass
class ValidationConfig:
    partition_col: Optional[str] = None
    violation_cap: int = VIOLATION_CAP_DEFAULT
    # model -> column -> ref snapshot (drift_mod.build_ref_stats output)
    ref_stats: Dict[str, Dict[str, dict]] = dc_field(default_factory=dict)
    audio_oracle: Optional[audio_mod.OraclePcm] = None
    audio_snr_fn: Optional[audio_mod.SnrFn] = None  # blocked-SNR scale path (wins over oracle)
    now: Optional[dt.datetime] = None  # injectable clock for freshness/retention
    # per-partition resume manifest (JSONL): needs partition_col — without
    # one there is no partition to key its records by, and plan() says the
    # directory is ignored. Resume re-probes each recorded partition's
    # input-file lineage (file count + md5 of the sorted file list) and
    # rescans partitions whose files changed instead of serving stale state.
    checkpoint_dir: Optional[str] = None
    resume: bool = False
    checkpoint_chunks: int = 4  # partition-groups per checkpointed scan
    broadcast_references: bool = True  # hint broadcast for reference parents
    server_format: Optional[str] = None
    arrow_batch_rows: int = 512  # audio bytes are large; keep Arrow batches bounded
    parallel_jobs: int = 8  # concurrent driver-side Spark job submissions
    # uniqueness strategy: "exact" runs the dedicated two-phase groupBy job
    # (certifiable zero-duplicates); "approx" folds an HLL sketch into the
    # SHARED multi-aggregate scan (north-star architecture: approx-distinct
    # via HyperLogLog) — no key shuffle at all, duplicates estimated as
    # nonnull_count - hll_estimate with a 3-sigma noise floor. At 10^12 rows
    # the exact path shuffles distinct keys; the approx path ships one
    # 2^lgk-bucket sketch per partition and unions them losslessly.
    unique_mode: str = "exact"
    unique_hll_lgk: int = 14  # 2^14 buckets: rsd ~0.8%, ~16 KB sketch/partition
    # referential-integrity strategy: "exact" anti-joins child vs parent keys
    # (broadcast when the parent fits, else sort-merge — the child table
    # shuffles); "approx" folds the parent keys into ONE Bloom bitset and
    # probes child membership MAP-ONLY (zero child-side shuffle at 10^12
    # rows). One-sided semantics, disclosed in the run log + diagnostics:
    # every reported orphan is real (no bloom false negatives), a pass may
    # miss each true orphan with probability ~fpp (~0.8% at 10 bits/key).
    # Falls back to exact when the bitset would exceed the broadcast budget.
    reference_mode: str = "exact"
    reference_bloom_max_bytes: int = 256 << 20  # 256 MB ~ 1.7e8 parent keys
    # percentile (pNN) strategy: "exact" uses percentile_approx (GK sketch)
    # in the shared scan + a dedicated global pass when partitioned (GK
    # results don't merge on the driver); "sketch" builds mergeable
    # t-digests (north-star: approx quantiles via t-digest) in one
    # column-pruned mapInArrow pass — per-partition digests merge to the
    # global quantile with NO extra scan and persist through the checkpoint
    # manifest as base64, so resumed runs never re-read completed partitions.
    pctl_mode: str = "exact"
    pctl_tdigest_delta: int = 500  # compression: ~0.1-1% rank error, ~16 KB/digest
    # metric-history source for ``type: history`` checks: a results table this
    # engine wrote (RESULTS_DDL schema). The per-key window prune runs
    # distributed; only checks x window floats reach the driver.
    history_path: Optional[str] = None
    history_format: str = "parquet"  # parquet | iceberg | delta
    # pre-flight sampled validation: run every data check on a DETERMINISTIC
    # keyed-hash sample (xxhash64 of the model's pk + seed, pure JVM — stable
    # under repartition, task retries, and across runs, so a violation found
    # once reproduces). The point at 10^12 rows: hunt violations and decode
    # payloads at fraction cost before paying for the certifying full run.
    # Semantics are explicit, not hidden: metrics are RAW sample counts
    # (never scaled up); every check's diagnostics carry sample_fraction;
    # found violations are REAL rows (a failure is definitive), while a pass
    # only bounds the violation rate (~3/sample_n at 95%, rule of three).
    # Checks whose meaning doesn't survive sampling keep honest behavior:
    # uniqueness/referential run on the sample (duplicate pairs survive with
    # prob ~fraction^2 — a found duplicate is real, absence proves little),
    # row_count/freshness see sample counts / sample max — all of which the
    # reason string discloses.
    sample_fraction: Optional[float] = None
    sample_seed: int = 0
    # ad-hoc dataset filters per model (CLI --where): ANDed with the model's
    # contract-declared `filter:` when both are present
    model_where: Dict[str, str] = dc_field(default_factory=dict)


@dataclass
class ValidationResult:
    run: Run
    results: List[dict]          # validation_results rows (FIXTURES.md §4)
    violations: Optional[DataFrame]
    metrics: Dict[str, Optional[float]]  # check key -> global metric value
    # model -> {PlannedJob.id -> wall seconds}. Jobs overlap (driver-side thread
    # pool), so labels sum to MORE than compute_phase_wall — each label is
    # that job's own start->end wall, the ops-facing "which check family is
    # the expensive one" answer at any scale
    phase_timings: Dict[str, Dict[str, float]] = dc_field(default_factory=dict)


# ---------------------------------------------------------------------------
# metric merge (makes every shared-scan metric decomposable across partitions)
# ---------------------------------------------------------------------------

def _merge_op(alias: str, kind: str) -> str:
    if kind == "freshness" or alias.endswith("__max") or alias.endswith("__max_ts"):
        return "max"
    if kind == "retention" or alias.endswith("__min") or alias.endswith("__min_ts"):
        return "min"
    if alias.endswith("__pctl"):
        # quantile sketches are not driver-mergeable: a single row (flat run)
        # passes through untouched, >=2 partition rows merge to None and the
        # global value comes from the dedicated pruned pass in _run_shared_scan
        return "global"
    return "sum"


def _merge_values(op: str, a: Any, b: Any) -> Any:
    if a is None:
        return b
    if b is None:
        return a
    if op == "sum":
        return a + b
    if op == "max":
        return max(a, b)
    if op == "union":
        # HLL sketch bytes: collected (order-free) and unioned where read
        return sorted((a if isinstance(a, list) else [a])
                      + (b if isinstance(b, list) else [b]))
    return min(a, b)


def _merge_rows(rows: List[Dict[str, Any]], ops: Dict[str, str]) -> Dict[str, Any]:
    """Fold metric rows alias by alias with each alias's merge op. A
    "global" alias (a quantile sketch, not driver-mergeable) passes one
    row's value through and is unknowable (None) once two rows carry it —
    the engine then recomputes it in a dedicated column-pruned pass."""
    merged: Dict[str, Any] = {}
    for row in rows:
        for alias, op in ops.items():
            if alias not in row:
                continue
            if alias not in merged:
                merged[alias] = row[alias]
            elif op == "global":
                merged[alias] = None
            else:
                merged[alias] = _merge_values(op, merged[alias], row[alias])
    return merged


#: the shared scan's partition-key column (drift.partition_key of the
#: configured partition column)
PART = "__part"

_AUDIO_ALIASES = [f"__audio__{c}" for c in audio_mod.COMPACT_COUNT_COLS]

#: one capped violation-sample entry: (clip_id, observed, partition key)
Sample = Tuple[str, str, Optional[str]]


def _add_counts(a: Dict[Any, int], b: Dict[Any, int]) -> Dict[Any, int]:
    return {k: (a.get(k) or 0) + (b.get(k) or 0) for k in {**a, **b}}


def _recap(samples: List[Sample], cap: int) -> List[Sample]:
    """The ``cap`` smallest entries by clip_id: the global top-cap is a
    subset of the union of per-partition top-caps, so re-capping merged
    samples equals capping all violations at once."""
    return sorted(samples)[:cap]


@dataclass
class ScanState:
    """The shared scan's state for one partition key (for the whole frame
    on an unpartitioned run). Every field merges associatively and
    commutatively (``merge``) and round-trips through one checkpoint
    manifest record (``to_record`` / ``from_record``), so a plain run, a
    checkpointed run and a resumed one fold the same states to the same
    result."""

    #: agg aliases, drift bucket counts and HLL sketch bytes (merge by ops)
    metrics: Dict[str, Any] = dc_field(default_factory=dict)
    #: decode-conformance counts, ``__audio__<count column>``
    audio: Dict[str, int] = dc_field(default_factory=dict)
    #: capped decode-conformance violation sample
    audio_vio: List[Sample] = dc_field(default_factory=list)
    #: loudness-drift histograms: feature -> bin -> clip count
    fh: Dict[str, Dict[int, int]] = dc_field(default_factory=dict)
    #: signal-quality out-of-range counts / capped samples by rule index
    fq: Dict[int, int] = dc_field(default_factory=dict)
    fv: Dict[int, List[Sample]] = dc_field(default_factory=dict)
    #: t-digests by percentile column; merged states list one per
    #: partition, compressed once where the quantile is read
    digests: Dict[str, List[td_mod.TDigest]] = dc_field(default_factory=dict)
    #: input-file lineage of a manifest-recorded partition (never merged)
    lineage: Optional[Dict[str, Any]] = None

    def merge(self, other: "ScanState", ops: Dict[str, str], cap: int) -> "ScanState":
        return ScanState(
            metrics=_merge_rows([self.metrics, other.metrics], ops),
            audio=_add_counts(self.audio, other.audio),
            audio_vio=_recap(self.audio_vio + other.audio_vio, cap),
            fh={f: _add_counts(self.fh.get(f, {}), other.fh.get(f, {}))
                for f in {**self.fh, **other.fh}},
            fq=_add_counts(self.fq, other.fq),
            fv={li: _recap(self.fv.get(li, []) + other.fv.get(li, []), cap)
                for li in {**self.fv, **other.fv}},
            digests={c: self.digests.get(c, []) + other.digests.get(c, [])
                     for c in {**self.digests, **other.digests}},
        )

    def to_record(self) -> Dict[str, Any]:
        """This partition's manifest-record fields (JSON-ready)."""
        return {
            "metrics_json": _metrics_to_json(self.metrics),
            "audio_metrics_json": _metrics_to_json(self.audio) if self.audio else None,
            "audio_violations": [[c, o] for c, o, _ in self.audio_vio] or None,
            "audio_feature_hists": {
                f: {str(b): n for b, n in bins.items()}
                for f, bins in self.fh.items()} or None,
            "audio_quality": {
                "counts": {str(li): n for li, n in self.fq.items()},
                "violations": {str(li): [[c, o] for c, o, _ in v]
                               for li, v in self.fv.items()},
            } if self.fq or self.fv else None,
            "pctl_digests": {
                c: ds[0].to_b64()  # a recorded state is one partition's
                for c, ds in self.digests.items()} or None,
            "lineage": self.lineage,
        }

    @classmethod
    def from_record(cls, rec: Dict[str, Any]) -> "ScanState":
        pid = str(rec["partition_id"])
        aq = rec.get("audio_quality") or {}
        return cls(
            metrics=_json_to_metrics(rec["metrics_json"]),
            audio=(_json_to_metrics(rec["audio_metrics_json"])
                   if rec.get("audio_metrics_json") else {}),
            audio_vio=[(c, o, pid) for c, o in rec.get("audio_violations") or []],
            fh={f: {int(b): int(n) for b, n in bins.items()}
                for f, bins in (rec.get("audio_feature_hists") or {}).items()},
            fq={int(li): int(n) for li, n in (aq.get("counts") or {}).items()},
            fv={int(li): [(c, o, pid) for c, o in v]
                for li, v in (aq.get("violations") or {}).items()},
            digests={c: [td_mod.TDigest.from_b64(b)]
                     for c, b in (rec.get("pctl_digests") or {}).items()},
            lineage=rec.get("lineage"),
        )


@dataclass
class _ScanSpec:
    """What every chunk of one model's shared scan computes."""

    exprs: Dict[str, Column]         # metric agg alias -> aggregate
    ops: Dict[str, str]              # merge op per metric alias
    drift_jobs: List[dict]           # drift_mod.drift_bucket_rows specs
    partition_col: Optional[str]     # None: unpartitioned (one state)
    decode: bool                     # run the fused audio decode pass
    audio_chk: Optional[CompiledCheck]
    fp_checks: List[CompiledCheck]   # fingerprint checks fused into decode
    feat_bins: Dict[str, List[float]]
    feat_limits: List[Tuple[str, Optional[float], Optional[float]]]
    rate_text_col: Optional[str]
    pctl_cols: List[str]             # t-digest columns (pctl_mode sketch)


def _default_fs_is_local() -> bool:
    """True when the active session's Hadoop default filesystem is the local
    disk (fs.defaultFS file:/// — local mode). Unknown/no session -> False,
    so classification conservatively defers to the reader's error message."""
    try:
        spark = SparkSession.getActiveSession()
        if spark is None:
            return False
        fs = spark.sparkContext._jsc.hadoopConfiguration().get(
            "fs.defaultFS", "file:///")
        return (fs or "").startswith("file:")
    except Exception:  # noqa: BLE001 — any introspection failure: not conclusive
        return False


def _missing_table_error(path: str, exc: Exception) -> bool:
    """True when ``exc`` means the table at ``path`` simply does not exist
    yet (the expected first-ever-run bootstrap of a metric-history source),
    as opposed to a corrupt/unreadable table. Local schemeless paths are
    checked directly on disk; remote paths fall back to the reader's
    path-not-found error classes/messages."""
    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme == "file":
        local = path.split("://", 1)[-1]
        # file:// is the one scheme where the driver's local disk IS the
        # table's filesystem by declaration, so local existence decides
        # both ways: present -> the failure is real, absent -> bootstrap
        return not os.path.exists(local)
    if scheme == "" and os.path.exists(path) and _default_fs_is_local():
        # schemeless path that EXISTS locally, under a local default FS
        # (local mode, the common case): the table is demonstrably there, so
        # the load failure is real — a corrupt history table must not be
        # classified as a first-run bootstrap. Existence is only ever used to
        # CONFIRM the table; under a REMOTE default FS (spark-submit with
        # HDFS/S3A) a coincidental local directory proves nothing, and local
        # ABSENCE is never conclusive for schemeless paths (the reader's own
        # PATH_NOT_FOUND is the bootstrap signal either way).
        return False
    if isinstance(exc, FileNotFoundError):
        return True
    msg = str(exc)
    return (
        "PATH_NOT_FOUND" in msg
        or "Path does not exist" in msg
        or "FileNotFoundException" in msg
    )


# ---------------------------------------------------------------------------
# engine
# ---------------------------------------------------------------------------

class Validator:
    def __init__(
        self,
        spark: SparkSession,
        spec: DataContractSpecification,
        tables: Dict[str, DataFrame],
        config: Optional[ValidationConfig] = None,
    ):
        self.spark = spark
        self.spec = spec
        self.tables = tables
        self.config = config or ValidationConfig()
        self.run = Run.create_run(
            data_contract_id=spec.id,
            data_contract_version=spec.info.version if spec.info else None,
        )
        self._violation_frames: List[DataFrame] = []
        self._results_rows: List[dict] = []
        self._metrics: Dict[str, Optional[float]] = {}
        self._phase_timings: Dict[str, Dict[str, float]] = {}

    # -- public ------------------------------------------------------------

    def validate(self) -> ValidationResult:
        checks_by_model = create_checks(self.spec, self.config.server_format)
        # register temp views once so sql-quality checks can reference any model
        for name, df in self.tables.items():
            df.createOrReplaceTempView(name)

        items = list(checks_by_model.items())
        if self.config.parallel_jobs > 1 and len(items) > 1:
            # Models are independent — overlap their Spark jobs instead of
            # paying each model's wall sequentially (the small reference-table
            # model otherwise adds a serial tail after the big fact model).
            # Each model records into an isolated child (same runId), merged
            # back in model order so check ordering is identical to the
            # sequential path.
            import concurrent.futures as cf

            children = [self._child_recorder() for _ in items]
            workers = min(self.config.parallel_jobs, len(items))
            with cf.ThreadPoolExecutor(max_workers=workers) as ex:
                futures = [
                    ex.submit(child._run_model, name, checks, self.tables.get(name))
                    for child, (name, checks) in zip(children, items)
                ]
                for f in futures:
                    f.result()
            for child in children:
                self.run.checks.extend(child.run.checks)
                self.run.logs.extend(child.run.logs)
                self._violation_frames.extend(child._violation_frames)
                self._results_rows.extend(child._results_rows)
                self._metrics.update(child._metrics)
                self._phase_timings.update(child._phase_timings)
        else:
            for model_name, checks in items:
                self._run_model(model_name, checks, self.tables.get(model_name))

        self.run.finish()
        violations = None
        if self._violation_frames:
            violations = self._violation_frames[0]
            for vf in self._violation_frames[1:]:
                violations = violations.unionByName(vf)
        return ValidationResult(
            run=self.run,
            results=self._results_rows,
            violations=violations,
            metrics=self._metrics,
            phase_timings=self._phase_timings,
        )

    def _child_recorder(self) -> "Validator":
        """A clone sharing session/spec/tables/config but with isolated result
        collections and a same-runId Run — lets models record concurrently
        without interleaving check order."""
        child = object.__new__(Validator)
        child.spark = self.spark
        child.spec = self.spec
        child.tables = self.tables
        child.config = self.config
        child.run = self.run.model_copy(update={"checks": [], "logs": []})
        child._violation_frames = []
        child._results_rows = []
        child._metrics = {}
        child._phase_timings = {}
        return child

    # -- per-model orchestration --------------------------------------------

    def _run_model(self, model_name: str, checks: List[CompiledCheck], df: Optional[DataFrame]) -> None:
        if df is None:
            self._record_all(checks, ResultEnum.error, f"table {model_name} not provided")
            return

        # dataset filter (SodaCL table-filter analog): the contract's
        # model-level `filter:` and/or the CLI --where scope EVERY check of
        # this model; a Spark filter before anything else, so predicate
        # pushdown / partition pruning reach the source scan. row_count /
        # freshness / drift then describe the SLICE — which is the point.
        scopes = [s for s in (
            getattr(self.spec.models.get(model_name), "filter", None),
            self.config.model_where.get(model_name),
        ) if s]
        for s in scopes:
            df = df.filter(F.expr(s))
        if scopes:
            self.run.log_info(
                f"{model_name}: dataset filter(s) applied: "
                + " AND ".join(f"({s})" for s in scopes))

        if self.config.sample_fraction is not None:
            df = self._sample_frame(model_name, df)

        # checks on absent columns (or with an unanalyzable scope) can't
        # scan: they record an error right after the schema checks
        unrunnable = self._unrunnable(checks, df)
        jobs = plan_mod.plan(
            model_name, [c for c in checks if c.key not in unrunnable],
            self.config, df.schema, self.config.ref_stats)
        table = self._job_table(model_name, df)
        run = {job.id: self._timed(model_name, job.id, lambda j=job: table[j.kind](j))
               for job in jobs}
        for job in jobs:
            if job.kind == "schema":
                run[job.id]()
        for chk, why in unrunnable.values():
            self._record(chk, None, ResultEnum.error, why, None)

        # Compute phase: independent Spark jobs submitted CONCURRENTLY from
        # driver threads (the scheduler overlaps them across free task slots),
        # collapsing ~10 sequential small-job walls into a few waves — the
        # dominant fixed cost at high core counts. Only the shared scan
        # records during this phase; every other job returns its per-check
        # result dicts, recorded afterwards on the main thread in plan order,
        # so check ordering stays deterministic.
        phase = [job for job in jobs
                 if job.kind != "schema" and job.kind not in plan_mod.POST_PHASE_KINDS]
        import time as _time
        t_phase = _time.perf_counter()
        results = self._parallel([run[job.id] for job in phase])
        ph = self._phase_timings.setdefault(model_name, {})
        ph["compute_phase_wall"] = round(_time.perf_counter() - t_phase, 3)
        self.run.log_info(
            f"{model_name} phase walls (s, concurrent jobs overlap): "
            + ", ".join(f"{k}={v}" for k, v in
                        sorted(ph.items(), key=lambda kv: -kv[1])))
        for job, res in zip(phase, results):
            if res is not None:
                for chk in job.checks:
                    self._record_result(chk, res[chk.key])

        # History checks judge the CURRENT run's metrics against the trailing
        # window in the results table, so they run after every other check
        # of this model has recorded. Watched keys must be produced by this
        # model's own checks (cross-model watches would race the parallel
        # per-model recorders).
        for job in jobs:
            if job.kind in plan_mod.POST_PHASE_KINDS:
                run[job.id]()

    def _unrunnable(self, checks: List[CompiledCheck], df: DataFrame
                    ) -> Dict[str, Tuple[CompiledCheck, str]]:
        """check key -> (check, error reason) for column-bound checks whose
        column is absent (dotted paths resolve through nested structs) or
        whose ``filter:`` fails analysis — in the order they record."""
        out: Dict[str, Tuple[CompiledCheck, str]] = {}
        for chk in sorted((c for c in checks if c.kind in _GATE_ORDER),
                          key=lambda c: _GATE_ORDER[c.kind]):
            req = chk.params.get("require_cols") or (
                [chk.field] if chk.field else [])
            missing = [c for c in req if resolve_schema_field(df.schema, c) is None]
            if missing:
                out[chk.key] = (chk, f"column {missing[0]} missing")
                continue
            flt = chk.params.get("filter")
            if flt:
                # eager analysis of the scope expression: a typo'd filter
                # column would otherwise raise AnalysisException inside the
                # SHARED scan and abort the whole run
                try:
                    df.filter(F.expr(flt)).schema
                except Exception as e:  # noqa: BLE001 — analysis error class varies
                    out[chk.key] = (chk, f"invalid filter {flt!r}: "
                                         f"{str(e).splitlines()[0][:200]}")
        return out

    def _job_table(self, model_name: str, df: DataFrame) -> Dict[str, Any]:
        """PlannedJob.kind -> compute(job). A compute returns {check key:
        result dict} for _record_result, or None when the job records as it
        runs (schema, shared scan, history)."""
        def each(compute):
            return lambda job: {c.key: compute(c) for c in job.checks}

        return {
            "schema": lambda job: self._run_schema_checks(job.checks, df),
            "shared_scan": lambda job: self._run_shared_scan(model_name, df, job),
            "unique": each(lambda c: self._unique_compute(df, c)),
            "reference": each(lambda c: self._reference_compute(df, c)),
            "join_eq": each(lambda c: self._join_equality_compute(df, c)),
            "group": each(lambda c: self._group_compute(df, c)),
            "audio_fp": each(lambda c: self._audio_fp_compute(model_name, df, c)),
            "image_family": lambda job: self._image_family_compute(
                model_name, df, job.checks, job.checks[0].params["bytes_col"]),
            "video": each(lambda c: self._video_compute(model_name, df, c)),
            "sql": each(self._sql_compute),
            "history": lambda job: self._run_history_checks(model_name, job.checks),
            "skipped": lambda job: self._record_all(
                job.checks, ResultEnum.passed, job.reason),
        }

    def _record_all(self, checks: List[CompiledCheck], result: ResultEnum,
                    reason: str) -> None:
        for chk in checks:
            self._record(chk, None, result, reason, None)

    def _run_history_checks(
        self, model_name: str, checks: List[CompiledCheck]
    ) -> None:
        """Evaluate ``type: history`` checks: one distributed window-pruned
        read of the results table for ALL watched keys of this model, then a
        driver-side judgment per check on <= window floats. An absent history
        table (first-ever run) is an empty series, which the compiled
        evaluator reports as an insufficient-history pass, not an error."""
        from . import history as hist_mod

        path = self.config.history_path
        series: Dict[str, List[float]] = {}
        load_err: Optional[str] = None
        if path:
            keys = sorted({c.params["watch_key"] for c in checks})
            max_w = max(int(c.params["window"]) for c in checks)
            try:
                frame = hist_mod.load_history(
                    self.spark, path, self.config.history_format)
                series = hist_mod.collect_series(
                    frame, model_name, keys, max_w, exclude_run_id=self.run.runId)
            except Exception as exc:
                # A MISSING table is the expected first-ever-run bootstrap
                # (this run's results write creates it) -> empty series,
                # insufficient-history pass. Anything else (corrupt files,
                # wrong --history-format, permission) must surface as an
                # ERROR: degrading it to the same silent pass would disarm
                # every change/anomaly tripwire on a config typo.
                if _missing_table_error(path, exc):
                    load_err = None
                else:
                    load_err = f"{type(exc).__name__}: {exc}"
        for chk in checks:
            wkey = chk.params["watch_key"]
            if not path:
                self._record(
                    chk, None, ResultEnum.error,
                    f"{chk.name}: no history source (set ValidationConfig."
                    "history_path / --history-path to this engine's results table)",
                    None)
                continue
            if load_err:
                self._record(
                    chk, None, ResultEnum.error,
                    f"{chk.name}: history table at {path} failed to load "
                    f"({load_err})", None)
                continue
            current = self._metrics.get(wkey)
            if current is None:
                self._record(
                    chk, None, ResultEnum.error,
                    f"{chk.name}: watched metric {wkey} was not computed in "
                    "this run (check the watch key)", None)
                continue
            vals = series.get(wkey, [])[-int(chk.params["window"]):]
            stat, diag = hist_mod.point_stats(
                vals, current, agg=chk.params["agg"], method=chk.params["method"])
            result, reason = chk.eval_metric(stat, diag)
            self._record(chk, stat, result, reason, None, diagnostics=diag)

    def _timed(self, model: str, label: str, fn):
        """Wrap a planned job's thunk to record its own wall seconds under
        phase_timings[model][label] (threads overlap; dict writes are
        GIL-atomic and labels — PlannedJob ids — are unique per model)."""
        import time as _time

        def run():
            t0 = _time.perf_counter()
            try:
                return fn()
            finally:
                self._phase_timings.setdefault(model, {})[label] = round(
                    _time.perf_counter() - t0, 3)
        return run

    def _parallel(self, thunks: List[Any]) -> List[Any]:
        """Run thunks via a driver-side thread pool (Spark job submission is
        thread-safe); sequential when disabled or singleton."""
        if self.config.parallel_jobs <= 1 or len(thunks) <= 1:
            return [t() for t in thunks]
        import concurrent.futures as cf

        with cf.ThreadPoolExecutor(
            max_workers=min(self.config.parallel_jobs, len(thunks))
        ) as ex:
            futures = [ex.submit(t) for t in thunks]
            return [f.result() for f in futures]

    # -- schema checks (driver-side, no scan) --------------------------------

    def _run_schema_checks(self, checks: List[CompiledCheck], df: DataFrame) -> None:
        for chk in checks:
            resolved = resolve_schema_field(df.schema, chk.field)
            if chk.kind == "schema_present":
                ok = resolved is not None
                self._record(
                    chk, 0.0 if ok else 1.0,
                    ResultEnum.passed if ok else ResultEnum.failed,
                    None if ok else f"column {chk.field} missing in schema", None,
                )
            else:  # schema_type
                if resolved is None:
                    self._record(chk, None, ResultEnum.error, f"column {chk.field} missing", None)
                    continue
                actual = resolved.dataType
                expected = chk.params["expected_spark_type"]
                ok = actual == expected
                self._record(
                    chk, 0.0 if ok else 1.0,
                    ResultEnum.passed if ok else ResultEnum.failed,
                    None if ok else f"type is {actual.simpleString()}, expected {expected.simpleString()}",
                    None,
                )

    # -- shared multi-aggregate scan (+ audio; + checkpoint/resume) ----------

    def _shared_agg_specs(
        self, model_name: str, agg_checks: List[CompiledCheck],
        drift_checks: List[CompiledCheck], snapshots: Optional[Dict[str, dict]] = None,
    ) -> Tuple[Dict[str, Column], Dict[str, str], List[dict]]:
        """Shared-scan aggregate columns + merge ops + drift bucket-job specs
        for the drift checks whose snapshot the plan resolved (``snapshots``:
        check key -> snapshot, PlannedJob.snapshots).

        Drift grids are NOT inlined as per-grid-point aggregate columns: a
        199-point grid would push the aggregate past the whole-stage-codegen
        field limit and onto the erratic interpreted path. They run as one
        narrow bucket-groupBy job (drift_mod.drift_bucket_rows) whose output
        aliases are folded into the same per-partition metric rows.
        """
        exprs: Dict[str, Column] = {"__total_count": F.count(F.lit(1))}
        ops: Dict[str, str] = {"__total_count": "sum"}
        for chk in agg_checks:
            if chk.agg_alias and chk.agg_expr is not None and chk.agg_alias not in exprs:
                exprs[chk.agg_alias] = chk.agg_expr()
                ops[chk.agg_alias] = _merge_op(chk.agg_alias, chk.kind)
            for alias, expr_thunk in chk.extra_aggs.items():
                if alias not in exprs:
                    exprs[alias] = expr_thunk()
                    ops[alias] = _merge_op(alias, chk.kind)
        drift_jobs = [
            {"prefix": _drift_prefix(chk), "column": chk.params["column"],
             "stats": snapshots[chk.key], "method": chk.params["method"]}
            for chk in drift_checks if chk.key in (snapshots or {})
        ]
        for job in drift_jobs:
            for alias in drift_mod.drift_aliases(job["prefix"], job["stats"], job["method"]):
                ops[alias] = "sum"
        return exprs, ops, drift_jobs

    def _audio_compact(
        self, df: DataFrame, chk: Optional[CompiledCheck], partition_col: Optional[str],
        fp_fn=None, feat_bins=None, feat_limits=None, text_col=None,
    ) -> DataFrame:
        # the partition key is threaded through the Arrow batch as __part (no
        # re-join); chk=None (feature-histograms-only scan) skips the SNR
        # oracle — header conformance counts still accumulate but go unread
        return audio_mod.audio_decode_compact(
            df,
            snr_floor_db=chk.params.get("snr_db", 30.0) if chk is not None else 30.0,
            oracle=self.config.audio_oracle if chk is not None else None,
            snr_fn=self.config.audio_snr_fn if chk is not None else None,
            partition_col=partition_col,
            violation_cap=self.config.violation_cap if (chk is not None or feat_limits) else 0,
            fp_fn=fp_fn,
            feat_bins=feat_bins,
            feat_limits=feat_limits,
            text_col=text_col,
        )

    @staticmethod
    def _reroute_bytes_aliases(
        agg_checks: List[CompiledCheck],
        exprs: Dict[str, Column],
        ops: Dict[str, str],
    ) -> List[str]:
        """Move the payload column's missing-count out of the JVM metric agg.

        The audio decode pass streams the bytes through Arrow anyway and counts
        nulls there (``bytes_null``). Evaluating the required-check in the JVM
        aggregate instead would materialize the whole binary column on-heap a
        second time — at ~60 KB per cell the vectorized reader's columnar
        batches become humongous G1 allocations and the scan stops scaling past
        a few cores. Only called when an audio check is present on the model.
        """
        rerouted: List[str] = []
        for chk in agg_checks:
            if (
                chk.check_type == "field_required"
                and chk.field == audio_mod.BYTES_COL
                and chk.agg_alias in exprs
                and not chk.extra_aggs
                # a SCOPED required-check must keep its filtered aggregate:
                # the audio pass counts nulls over ALL rows, so substituting
                # it would silently discard the check's filter
                and not chk.params.get("filter")
            ):
                del exprs[chk.agg_alias]
                ops.pop(chk.agg_alias, None)
                rerouted.append(chk.agg_alias)
        return rerouted

    @staticmethod
    def _hll_aliases(chk: CompiledCheck) -> Tuple[str, str]:
        return f"{chk.field}__nonnull_count", f"{chk.field}__hll_sketch"

    def _run_shared_scan(self, model_name: str, df: DataFrame,
                         job: plan_mod.PlannedJob) -> None:
        """Run the planned shared scan (``job.passes``) as one loop over
        chunks (_scan_states), fold the per-partition states and record
        every check that rides it."""
        agg_checks = job.of(*plan_mod.AGG_KINDS)
        drift_checks = job.of("drift")
        audio_checks = job.of("audio")
        approx_unique = job.of("unique")
        audio_quality_checks = job.of("audio_quality")
        exprs, ops, drift_jobs = self._shared_agg_specs(
            model_name, agg_checks, drift_checks, job.snapshots)
        for chk in approx_unique:
            nn_alias, sk_alias = self._hll_aliases(chk)
            col = chk.field
            exprs[nn_alias] = F.coalesce(
                F.sum(F.when(F.col(col).isNotNull(), 1).otherwise(0)), F.lit(0))
            ops[nn_alias] = "sum"
            # per-partition sketches are unioned where they are read
            # (_record_approx_unique), never summed
            exprs[sk_alias] = F.hll_sketch_agg(F.col(col), F.lit(self.config.unique_hll_lgk))
            ops[sk_alias] = "union"
        partition_col = self._partition_col(df)

        audio_chk = audio_checks[0] if audio_checks else None
        rerouted_aliases: List[str] = []
        if audio_chk is not None:
            rerouted_aliases = self._reroute_bytes_aliases(agg_checks, exprs, ops)

        # loudness-drift: per-clip decoded-feature histograms ride the SAME
        # decode pass (row_type='fh' rows in the compact frame); a check the
        # plan found no snapshot for records its error and never costs a scan
        feat_bins: Dict[str, List[float]] = {}
        audio_drift_eval: List[Tuple[CompiledCheck, dict]] = []
        for chk in job.of("audio_drift"):
            if chk.key in job.errors:
                self._record(chk, None, ResultEnum.error, job.errors[chk.key], None)
                continue
            stats = job.snapshots[chk.key]
            feat_bins[chk.params["feature"]] = [float(x) for x in stats["bin_edges"]]
            audio_drift_eval.append((chk, stats))

        # speaking-rate rules carry the transcript column the decode scan
        # must add as a JVM length; one text column per model
        rate_cols = {c.params["text_column"]
                     for c in audio_quality_checks
                     if c.params.get("text_column")}
        if len(rate_cols) > 1:
            raise ValueError(
                f"speaking-rate rules on one model must share a text "
                f"column, got {sorted(rate_cols)}")

        # quantile-sketch aliases (merge op "global"): per-partition values are
        # exact per partition, but the global value cannot be merged on the
        # driver — recompute it in ONE dedicated pass pruned to just the
        # percentile columns (overlapped with the scan loop)
        pctl_aliases = [a for a, op in ops.items() if op == "global"]
        # sketch mode: swap the GK aggregates for mergeable t-digests — the
        # aliases leave the shared agg entirely and their values are injected
        # into the metric rows from driver-merged digests after the scan
        pctl_specs: Dict[str, Tuple[str, float]] = {}
        if "t-digest" in job.passes:
            for chk in agg_checks:
                if chk.agg_alias in pctl_aliases and chk.agg_alias not in pctl_specs:
                    # a row-scoped (filter:) percentile keeps the GK path:
                    # the t-digest pass reads the RAW column and would
                    # silently ignore the scope
                    if chk.params.get("filter"):
                        continue
                    pctl_specs[chk.agg_alias] = (
                        chk.params["column"],
                        float(chk.params["metric"][1:]) / 100.0)
            for alias in list(pctl_specs):
                exprs.pop(alias, None)
                ops.pop(alias, None)
            pctl_aliases = [a for a in pctl_aliases if a not in pctl_specs]

        spec = _ScanSpec(
            exprs=exprs, ops=ops, drift_jobs=drift_jobs,
            partition_col=partition_col,
            decode="fused decode" in job.passes, audio_chk=audio_chk,
            fp_checks=job.of("audio_fp"), feat_bins=feat_bins,
            # signal-quality: per-clip decoded-feature bounds, also evaluated
            # inside the one decode pass ('fq' count + capped 'fv' rows)
            feat_limits=[(c.params["feature"], c.params["minimum"], c.params["maximum"])
                         for c in audio_quality_checks],
            rate_text_col=next(iter(rate_cols), None),
            pctl_cols=sorted({c for c, _ in pctl_specs.values()}))
        fused_fp: List[Tuple[CompiledCheck, dict]] = []
        thunks: List[Any] = [lambda: self._scan_states(model_name, df, spec, fused_fp)]
        if "percentile global" in job.passes:
            thunks.append(lambda: df.agg(
                *[exprs[a].alias(a) for a in pctl_aliases]).first().asDict())
        states, *pctl_rows = self._parallel(thunks)

        # fold in partition-key order: deterministic, so a resumed run folds
        # exactly what a full run folds
        ordered = [(k, states[k]) for k in sorted(states)]
        parts = ordered if partition_col else []
        merged = functools.reduce(
            lambda a, b: a.merge(b, ops, self.config.violation_cap),
            (s for _, s in ordered), ScanState())
        global_row = merged.metrics
        for row in pctl_rows:
            global_row.update(row)
        for alias, (col, frac) in pctl_specs.items():
            digest = td_mod.TDigest.merge(
                merged.digests.get(col, []), self.config.pctl_tdigest_delta)
            global_row[alias] = digest.quantile(frac) if digest.total_weight else None
            for _, st in parts:
                d = st.digests.get(col, [None])[0]
                st.metrics[alias] = (
                    d.quantile(frac) if d is not None and d.total_weight else None)
        global_row["__total_count"] = global_row.get("__total_count") or 0
        # empty input (or an empty partition) -> zero counts, exactly as the
        # JVM aggregate's coalesce(sum(..), 0) would report
        audio_global = ({a: merged.audio.get(a) or 0 for a in _AUDIO_ALIASES}
                        if audio_chk is not None else {})

        # fold the audio pass's bytes-null count back into the metric rows so
        # the required-check evaluates exactly as if it had run JVM-side
        for alias in rerouted_aliases:
            global_row[alias] = audio_global["__audio__bytes_null"]
            for _, st in parts:
                st.metrics[alias] = st.audio.get("__audio__bytes_null") or 0

        # evaluate + record each agg check (global + per-partition rows)
        failed_agg: List[CompiledCheck] = []
        for chk in agg_checks:
            metric = self._agg_metric(chk, global_row)
            result, reason = chk.eval_metric(metric, global_row)
            self._record(chk, metric, result, reason, global_row.get("__total_count"))
            for pid, st in parts:
                pm = self._agg_metric(chk, st.metrics)
                pres, preason = chk.eval_metric(pm, st.metrics)
                self._record(chk, pm, pres, preason, st.metrics.get("__total_count"),
                             partition_id=pid)
            if result == ResultEnum.failed and chk.violation_predicate is not None:
                failed_agg.append(chk)

        for chk in approx_unique:
            self._record_approx_unique(chk, ordered, global_row, bool(partition_col))

        for chk in drift_checks:
            if chk.key in job.errors:
                self._record(chk, None, ResultEnum.error, job.errors[chk.key], None)
                continue
            stat = drift_mod.drift_statistic(
                global_row, job.snapshots[chk.key], chk.params["method"], _drift_prefix(chk)
            )
            result, reason = chk.eval_metric(stat, global_row)
            self._record(chk, stat, result, reason, global_row.get("__total_count"))

        if audio_chk is not None:
            metric = float(audio_global["__audio__violations"])
            diag = {k.replace("__audio__", ""): v for k, v in audio_global.items()}
            result = ResultEnum.passed if metric == 0 else ResultEnum.failed
            reason = None if metric == 0 else (
                f"{int(metric)} rows violate decode conformance "
                f"(decode_error={diag.get('decode_error')}, sr={diag.get('sr_bad')}, "
                f"dur={diag.get('dur_bad')}, codec={diag.get('codec_bad')}, snr={diag.get('snr_bad')})"
            )
            self._record(audio_chk, metric, result, reason,
                         audio_global["__audio__rows"], diagnostics=diag)
            for pid, st in parts:
                pm = float(st.audio.get("__audio__violations") or 0)
                self._record(
                    audio_chk, pm,
                    ResultEnum.passed if pm == 0 else ResultEnum.failed,
                    None if pm == 0 else f"{int(pm)} decode-conformance violations",
                    st.audio.get("__audio__rows"), partition_id=pid,
                )
            # capped violation rows came out of the SAME decode pass as the
            # metrics (compact frame) — never a second scan of the payload
            self._append_samples(audio_chk, merged.audio_vio)

        for chk, res in fused_fp:
            self._record_result(chk, res)

        for chk, stats in audio_drift_eval:
            got = merged.fh.get(chk.params["feature"], {})
            counts = [got.get(k, 0) for k in range(len(stats["bin_edges"]) + 1)]
            stat = drift_mod.drift_statistic_from_counts(
                counts, stats, chk.params["method"])
            result, reason = chk.eval_metric(stat, {})
            self._record(chk, stat, result, reason, sum(counts))

        # out-of-range clip counts from the same decode pass ('fq' rows), by
        # rule index; absent counts mean zero violations
        total = (audio_global["__audio__rows"]
                 if audio_chk is not None else global_row["__total_count"])
        for li, chk in enumerate(audio_quality_checks):
            metric = float(merged.fq.get(li, 0))
            result, reason = chk.eval_metric(metric, {})
            self._record(chk, metric, result, reason, total)
            for pid, st in parts:
                pm = float(st.fq.get(li, 0))
                pres, preason = chk.eval_metric(pm, {})
                self._record(chk, pm, pres, preason,
                             st.metrics.get("__total_count"), partition_id=pid)
            self._append_samples(chk, merged.fv.get(li, []))

        if failed_agg:
            self._collect_agg_violations(model_name, df, failed_agg, partition_col)

    def _append_samples(self, chk: CompiledCheck, samples: List[Sample]) -> None:
        """Violation rows for a capped (clip_id, observed, partition) sample."""
        if samples:
            self._violation_frames.append(self.spark.createDataFrame(
                [(self.run.runId, part, chk.key, clip_id, observed, chk.expected)
                 for clip_id, observed, part in samples],
                schema=VIOLATIONS_DDL))

    def _scan_states(self, model_name: str, df: DataFrame, spec: _ScanSpec,
                     fused_fp: List[Tuple[CompiledCheck, dict]],
                     ) -> Dict[Optional[str], ScanState]:
        """The scan loop: {partition key: ScanState} over every chunk (key
        None on an unpartitioned run).

        Without a checkpoint_dir the one chunk is the whole frame and the
        manifest stays in memory: no partition listing, filter, lineage probe
        or file write. With one (and a partition column), the chunks are the
        manifest's todo partition groups, and each chunk's states append to
        the JSONL manifest as the chunk completes; completed partitions come
        back from it on resume.
        """
        keyed = (df.withColumn(PART, drift_mod.partition_key(spec.partition_col))
                 if spec.partition_col else df)
        manifest = (self._manifest_path(model_name)
                    if spec.partition_col and self.config.checkpoint_dir else None)
        states: Dict[Optional[str], ScanState] = {}
        chunks = [keyed]
        if manifest:
            sig = self._state_sig(model_name, spec)
            states, groups = self._manifest_todo(keyed, manifest, sig)
            chunks = [keyed.filter(F.col(PART).isin(g)) for g in groups]
        for frame in chunks:
            got = self._scan_chunk(frame, spec, fused_fp, lineage=bool(manifest))
            if manifest:
                self._append_records(manifest, got, sig)
            states.update(got)
        return states

    def _scan_chunk(self, frame: DataFrame, spec: _ScanSpec,
                    fused_fp: List[Tuple[CompiledCheck, dict]],
                    lineage: bool = False) -> Dict[Optional[str], ScanState]:
        """Scan one chunk: the metric agg, drift buckets, fused decode and
        t-digest sub-passes (plus the lineage probe when a file manifest
        records the chunk) overlap on the cluster — decode dominates, the
        small aggs ride along on spare slots — and fold into one ScanState
        per partition key."""
        part = PART if spec.partition_col else None
        aggs = [v.alias(k) for k, v in spec.exprs.items()]
        passes: Dict[str, Any] = {"agg": lambda: (
            frame.groupBy(PART).agg(*aggs).collect() if part
            else [frame.agg(*aggs).first()])}
        if spec.drift_jobs:
            passes["drift"] = lambda: drift_mod.drift_bucket_rows(
                frame, spec.drift_jobs, part)
        if spec.decode:
            passes["decode"] = lambda: self._decode_states(frame, spec, fused_fp)
        if spec.pctl_cols:
            passes["digests"] = lambda: td_mod.collect_digests(
                frame, spec.pctl_cols, part, self.config.pctl_tdigest_delta)
        if lineage:
            passes["lineage"] = lambda: self._partition_lineage(frame, PART)
        with self._arrow_batch_conf():
            out = dict(zip(passes, self._parallel(list(passes.values()))))

        zero = {a: 0 for j in spec.drift_jobs
                for a in drift_mod.drift_aliases(j["prefix"], j["stats"], j["method"])}
        states: Dict[Optional[str], ScanState] = {}
        for r in out["agg"]:
            key = r[PART] if part else None
            metrics = {a: r[a] for a in spec.exprs}
            if spec.drift_jobs:
                metrics.update(out["drift"].get(key, zero))
            st = states[key] = replace(
                out.get("decode", {}).get(key) or ScanState(), metrics=metrics)
            for col in spec.pctl_cols:
                d = out["digests"].get((key if part else "", col))
                if d is not None:
                    st.digests[col] = [d]
            if lineage:
                st.lineage = out["lineage"].get(key)
        return states

    def _decode_states(self, frame: DataFrame, spec: _ScanSpec,
                       fused_fp: List[Tuple[CompiledCheck, dict]],
                       ) -> Dict[Optional[str], ScanState]:
        """The fused decode pass, per partition key: decode-conformance
        counts and capped samples, feature histograms, signal-quality counts
        and capped samples. ONE payload decode (_audio_compact); its compact
        frame (far smaller than the payload) is persisted once and read by
        every consumer, fused fingerprint checks included (their results
        append to ``fused_fp``)."""
        from pyspark import StorageLevel

        from . import audiofp as afp
        from .pipeline_ckpt import release_caches

        compact = self._audio_compact(
            frame, spec.audio_chk, PART if spec.partition_col else None,
            fp_fn=afp.fingerprint_hashes if spec.fp_checks else None,
            feat_bins=spec.feat_bins or None,
            feat_limits=spec.feat_limits or None,
            text_col=spec.rate_text_col,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        out: Dict[Optional[str], ScanState] = {}

        def counts(row_type: str, *keys: str) -> List[Any]:
            return (compact.filter(F.col("row_type") == row_type)
                    .groupBy("__part", *keys).agg(F.sum("hash").alias("c")).collect())

        def capped(row_type: str, *keys: str) -> List[Any]:
            # per-task caps can sum past violation_cap: re-cap per key,
            # deterministic by clip_id
            w = Window.partitionBy("__part", *keys).orderBy("clip_id")
            return (compact.filter(F.col("row_type") == row_type)
                    .withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") <= self.config.violation_cap).collect())

        def state(r: Any) -> ScanState:
            return out.setdefault(r["__part"], ScanState())

        try:
            if spec.audio_chk is not None:
                for r in (compact.filter(F.col("row_type") == "agg").groupBy("__part")
                          .agg(*[F.sum(c).alias(f"__audio__{c}")
                                 for c in audio_mod.COMPACT_COUNT_COLS]).collect()):
                    state(r).audio = {a: r[a] for a in _AUDIO_ALIASES}
                if any(s.audio["__audio__violations"] for s in out.values()):
                    for r in capped("vio"):
                        state(r).audio_vio.append((r["clip_id"], r["observed"], r["__part"]))
            if spec.feat_bins:
                # 'fh' rows: clip_id = feature name, t = bin index
                for r in counts("fh", "clip_id", "t"):
                    state(r).fh.setdefault(r["clip_id"], {})[int(r["t"])] = int(r["c"])
            if spec.feat_limits:
                # 'fq' / 'fv' rows: t = rule index into feat_limits
                for r in counts("fq", "t"):
                    state(r).fq[int(r["t"])] = int(r["c"])
                if any(s.fq for s in out.values()):
                    for r in capped("fv", "t"):
                        state(r).fv.setdefault(int(r["t"]), []).append(
                            (r["clip_id"], r["observed"], r["__part"]))
            fp = compact.filter(F.col("row_type") == "fp").select("clip_id", "hash")
            for chk in spec.fp_checks:
                nd = afp.audio_fingerprint_near_dup(
                    fp, threshold=float(chk.params["score_threshold"]))
                try:
                    fused_fp.append((chk, self._audio_fp_result(nd, chk)))
                finally:
                    # the operator persists its internal hash frame; release
                    # per check or repeated runs on one session leak blocks
                    release_caches(nd)
        finally:
            compact.unpersist()
        for s in out.values():
            s.audio_vio.sort()
            for samples in s.fv.values():
                samples.sort()
        return out

    def _partition_col(self, df: DataFrame, *exclude: str) -> Optional[str]:
        """The configured partition column, when ``df`` has it and it is
        none of ``exclude`` (a job's own key columns)."""
        col = self.config.partition_col
        return col if col and col in df.columns and col not in exclude else None

    def _arrow_batch_conf(self):
        return _ConfScope(
            self.spark,
            {"spark.sql.execution.arrow.maxRecordsPerBatch": str(self.config.arrow_batch_rows)},
        )

    def _agg_metric(self, chk: CompiledCheck, row: Dict[str, Any]) -> Optional[float]:
        finisher = chk.params.get("finisher")
        if finisher is not None:
            # metric checks: partials (sum/count/sumsq/min/max) were merged
            # losslessly across partitions; finish them into the final value
            return finisher(row)
        value = row.get(chk.agg_alias) if chk.agg_alias else None
        if chk.kind in ("freshness", "retention"):
            if value is None:
                return None
            now = self.config.now or dt.datetime.now(dt.timezone.utc)
            ts = value
            if isinstance(ts, dt.date) and not isinstance(ts, dt.datetime):
                ts = dt.datetime(ts.year, ts.month, ts.day)
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=dt.timezone.utc)
            return (now - ts).total_seconds()
        if value is None:
            return None
        return float(value)

    # -- violations (single scan over all failed predicates) -----------------

    def _pk_column(self, model_name: str, df: DataFrame) -> str:
        from .spec import model_pk

        return model_pk(self.spec, model_name, df)

    def _sample_frame(self, model_name: str, df: DataFrame) -> DataFrame:
        """Deterministic keyed-hash sample for pre-flight validation (see
        ValidationConfig.sample_fraction). xxhash64(pk, seed) is uniform over
        the signed 64-bit range, so `hash < frac * 2^64 - 2^63` keeps an
        unbiased ~frac of rows — pure JVM, pushdown-friendly, stable under
        repartition/retries, and the SAME rows every run at a given seed
        (a violation found once reproduces; change the seed to draw a
        different panel)."""
        frac = float(self.config.sample_fraction)
        if not (0.0 < frac < 1.0):
            raise ValueError("sample_fraction must be in (0, 1) — run without "
                             "it for the certifying full scan")
        pk = self._pk_column(model_name, df)
        thr = min(int(frac * 2.0 ** 64) - 2 ** 63, 2 ** 63 - 1)
        self.run.log_warn(
            f"{model_name}: SAMPLED validation at fraction {frac:g} "
            f"(seed {self.config.sample_seed}) — metrics are raw sample "
            "counts; a pass bounds, not certifies, the violation rate")
        return df.filter(
            F.xxhash64(F.col(pk).cast("string"),
                       F.lit(self.config.sample_seed)) < F.lit(thr)
        )

    def _collect_agg_violations(
        self,
        model_name: str,
        df: DataFrame,
        failed: List[CompiledCheck],
        partition_col: Optional[str],
    ) -> None:
        pk = self._pk_column(model_name, df)
        structs = [
            F.when(
                chk.violation_predicate(),
                F.struct(
                    F.lit(chk.key).alias("check_key"),
                    (chk.observed_expr() if chk.observed_expr is not None
                     else F.lit(None).cast("string")).alias("observed"),
                    F.lit(chk.expected).cast("string").alias("expected"),
                ),
            )
            for chk in failed
        ]
        arr = F.filter(F.array(*structs), lambda x: x.isNotNull())
        base = df.select(
            F.col(pk).cast("string").alias("clip_id"),
            (drift_mod.partition_key(partition_col) if partition_col
             else F.lit(None).cast("string")).alias("partition_id"),
            arr.alias("__v"),
        ).filter(F.size("__v") > 0)
        exploded = base.select(
            F.lit(self.run.runId).alias("run_id"),
            "partition_id",
            F.explode("__v").alias("v"),
            "clip_id",
        ).select(
            "run_id", "partition_id",
            F.col("v.check_key").alias("check_key"),
            "clip_id",
            F.col("v.observed").alias("observed"),
            F.col("v.expected").alias("expected"),
        )
        # Two-phase cap: a naive window over check_key alone would shuffle
        # EVERY violating row to one reducer per check (billions of rows on a
        # 10^12-row table with a hot failing rule). Phase 1 caps per
        # (check_key, input-partition) — keys are spread across reducers, and
        # the global top-cap by clip_id is a subset of the local top-caps, so
        # results are identical. Phase 2 ranks the <= cap * num_partitions
        # survivors per check, which is small by construction.
        cap = self.config.violation_cap
        w_local = Window.partitionBy("check_key", "__pid").orderBy("clip_id")
        local = (
            exploded.withColumn("__pid", F.spark_partition_id())
            .withColumn("__rn", F.row_number().over(w_local))
            .filter(F.col("__rn") <= cap)
            .drop("__rn", "__pid")
        )
        w = Window.partitionBy("check_key").orderBy("clip_id")
        capped = (
            local.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= cap)
            .drop("__rn")
        )
        self._violation_frames.append(
            self.spark.createDataFrame(capped.collect(), schema=VIOLATIONS_DDL)
        )

    # -- approx uniqueness (HLL sketch in the shared scan; zero extra shuffle) --

    def _record_approx_unique(
        self,
        chk: CompiledCheck,
        states: List[Tuple[Optional[str], ScanState]],
        global_row: Dict[str, Any],
        per_partition: bool,
    ) -> None:
        """Evaluate a unique check from the shared scan's HLL sketch.

        Estimated duplicate rows = nonnull_count - hll_estimate. HLL unions
        are lossless for equal lgConfigK, so the global estimate from unioned
        per-partition sketches is identical to a direct global sketch. The
        pass/fail bar is a 3-sigma noise floor (rsd = 1.04/sqrt(2^lgk)) —
        approx mode detects duplicate MASS above sketch noise; use
        unique_mode='exact' to certify zero duplicates.
        """
        nn_alias, sk_alias = self._hll_aliases(chk)
        rsd = 1.04 / math.sqrt(2 ** self.config.unique_hll_lgk)
        sketches = [(pid, st.metrics[sk_alias]) for pid, st in states
                    if st.metrics.get(sk_alias) is not None]
        if not sketches:
            nn = global_row.get(nn_alias) or 0
            self._record(chk, 0.0, ResultEnum.passed, None, None,
                         diagnostics={"approx": True, "nonnull": nn})
            return
        tiny = self.spark.createDataFrame(
            [(pid, bytearray(sk)) for pid, sk in sketches], "pid string, sk binary")
        per_part = {
            r["pid"]: float(r["est"])
            for r in tiny.select("pid", F.hll_sketch_estimate("sk").alias("est")).collect()
        }
        global_est = float(
            tiny.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")).first()["est"]
        )

        def judge(nonnull: float, est: float):
            dup_est = max(0.0, nonnull - est)
            floor = 3.0 * rsd * nonnull
            if dup_est <= floor:
                return dup_est, ResultEnum.passed, None
            return dup_est, ResultEnum.failed, (
                f"{chk.name}: ~{int(dup_est)} duplicate rows estimated "
                f"(nonnull={int(nonnull)}, approx_distinct={int(est)}, "
                f"noise_floor={floor:.1f})"
            )

        nn_global = float(global_row.get(nn_alias) or 0)
        metric, result, reason = judge(nn_global, global_est)
        self._record(chk, metric, result, reason, None, diagnostics={
            "approx": True, "approx_distinct": global_est,
            "nonnull": nn_global, "rsd": rsd,
        })
        if per_partition:
            for pid, st in states:
                est = per_part.get(pid)
                if est is None:
                    continue
                pm, pres, preason = judge(float(st.metrics.get(nn_alias) or 0), est)
                self._record(chk, pm, pres, preason, None, partition_id=pid)

    # -- uniqueness (dedicated shuffle; AQE-skew-safe) ------------------------

    def _unique_compute(self, df: DataFrame, chk: CompiledCheck) -> dict:
        """Exact duplicate count via two-phase salted aggregation.

        ``groupBy(col).count()`` compiles to partial-agg -> exchange -> final-agg:
        each map task pre-combines its rows per key, so a hot key (every row the
        same clip_id) reaches the reducer as at most ONE row per input partition
        — the map-side partial aggregation IS the explicit salt (salt = input
        partition id), with the salted partial counts summed in the final agg.
        Shuffle volume is bounded by distinct-keys-per-partition, never by row
        count, and AQE skew handling covers residual reducer imbalance when
        distinct keys themselves are many and hot. Never materializes full rows
        (no ``dropDuplicates``) — only (key, count) pairs with count > 1 survive
        the first pass.
        """
        key_cols = chk.params.get("key_cols") or [chk.field]
        flt = chk.params.get("filter")
        base = df.filter(F.expr(flt)) if flt else df
        # alias so dotted (nested-struct) paths keep a stable key column name;
        # composite keys group on every component and report the tuple as a
        # '|'-joined string. Rows with any NULL component are excluded (field
        # semantics: duplicate_count is over non-null values; composite PK
        # semantics: NULL components belong to composite_key_null).
        aliased = [F.col(c).alias(f"__k{i}") for i, c in enumerate(key_cols)]
        names = [f"__k{i}" for i in range(len(key_cols))]
        notnull = F.col(names[0]).isNotNull()
        for n_ in names[1:]:
            notnull = notnull & F.col(n_).isNotNull()
        dup = (
            base.select(*aliased).filter(notnull)
            .groupBy(*names).agg(F.count(F.lit(1)).alias("__cnt"))
            .filter(F.col("__cnt") > 1)
            .select(
                F.concat_ws("|", *[F.col(n_).cast("string") for n_ in names])
                .alias("__key"),
                "__cnt",
            )
        )
        from pyspark import StorageLevel

        # dup holds only keys with count > 1 — tiny relative to the input.
        # Persist it across the stats action and the violation sample so a
        # FAILING unique check does not re-run the key shuffle (the single
        # most expensive job at 10^12 rows) a second time just to collect
        # the capped examples.
        dup = dup.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            stats = dup.agg(
                F.count(F.lit(1)).alias("dup_values"),
                F.coalesce(F.sum(F.col("__cnt") - 1), F.lit(0)).alias("dup_rows"),
            ).first()
            metric = float(stats["dup_values"] or 0)
            vio_rows = None
            if metric > 0:
                vio = dup.orderBy(F.col("__cnt").desc(), F.col("__key")).limit(self.config.violation_cap).select(
                    F.lit(self.run.runId).alias("run_id"),
                    F.lit(None).cast("string").alias("partition_id"),
                    F.lit(chk.key).alias("check_key"),
                    F.col("__key").cast("string").alias("clip_id"),
                    F.concat(F.lit("count="), F.col("__cnt").cast("string")).alias("observed"),
                    F.lit("unique").alias("expected"),
                )
                vio_rows = vio.collect()
        finally:
            dup.unpersist()
        return {"metric": metric, "vio_rows": vio_rows, "diagnostics": {
            "dup_values": stats["dup_values"], "dup_rows": stats["dup_rows"]}}

    # -- per-group aggregate thresholds (group quality checks) ----------------

    def _group_compute(self, df: DataFrame, chk: CompiledCheck) -> dict:
        """groupBy(key) + decomposable aggregate + threshold filter.

        Same shuffle shape as `_unique_compute`: map-side partial aggregation
        bounds shuffle volume by distinct-keys-per-partition, AQE covers
        reducer skew. The threshold is a Spark predicate, so violating groups
        are counted distributed and only `violation_cap` examples reach the
        driver — a billion-group key column never materializes driver-side.
        """
        p = chk.params
        gcol, agg_thunk = p["group_col"], p["agg_expr"]
        if agg_thunk is None:
            return {"error": f"unsupported group metric {p['metric']!r} "
                             f"(over column required for sum/avg/min/max)"}
        if resolve_schema_field(df.schema, gcol) is None:
            return {"error": f"group column {gcol} missing"}
        if p["over"] and resolve_schema_field(df.schema, p["over"]) is None:
            return {"error": f"aggregated column {p['over']} missing"}
        if p.get("filter"):
            # scoped group thresholds: out-of-scope rows never reach the
            # groupBy (groups entirely out of scope simply don't exist)
            df = df.filter(F.expr(p["filter"]))
        from pyspark import StorageLevel

        grouped = df.groupBy(F.col(gcol).alias("__gkey")).agg(agg_thunk().alias("__gval"))
        pass_pred = p["pass_pred"](F.col("__gval"))
        # violating groups only (post-aggregate, bounded by group count, not
        # row count) — persist across the count and the capped example sample
        # so a failing group check pays the groupBy shuffle exactly once
        viol = grouped.filter(~F.coalesce(pass_pred, F.lit(False))).persist(
            StorageLevel.MEMORY_AND_DISK)
        try:
            metric = float(viol.count())
            vio_rows = None
            if metric > 0:
                vio_rows = viol.orderBy("__gkey").limit(self.config.violation_cap).select(
                    F.lit(self.run.runId).alias("run_id"),
                    F.lit(None).cast("string").alias("partition_id"),
                    F.lit(chk.key).alias("check_key"),
                    F.col("__gkey").cast("string").alias("clip_id"),
                    F.concat(F.lit(f"{p['metric']}="), F.col("__gval").cast("string")).alias("observed"),
                    F.lit(chk.expected).alias("expected"),
                ).collect()
        finally:
            viol.unpersist()
        return {"metric": metric, "vio_rows": vio_rows}

    # -- audio content uniqueness (fingerprint near-dup) ----------------------

    def _audio_fp_compute(self, model_name: str, df: DataFrame, chk: CompiledCheck) -> dict:
        """Acoustic near-dup pair count via dcspark/audiofp.py.

        One mapInPandas decode+FFT pass emits (clip_id, hash); candidates come
        from the bucketed hash equi-join (never all-pairs), the pair count is
        aggregated distributed, and only violation_cap example pairs reach the
        driver. Runs concurrently with the shared scan's decode pass in the
        thunk pool.
        """
        from . import audiofp as afp

        p = chk.params
        bytes_col = p["bytes_col"]
        if bytes_col not in df.columns:
            return {"error": f"bytes column {bytes_col} missing"}
        id_col = self._pk_column(model_name, df)
        with self._arrow_batch_conf():
            pairs = afp.audio_near_dup(
                df, id_col=id_col, bytes_col=bytes_col,
                threshold=float(p["score_threshold"]),
            )
            return self._audio_fp_result(pairs, chk)

    def _audio_fp_result(self, pairs: DataFrame, chk: CompiledCheck) -> dict:
        return self._pair_result(pairs, chk, F.concat(
            F.lit("matches="), F.col("matches").cast("string"),
            F.lit(" score="), F.col("score").cast("string")))

    def _pair_result(self, pairs: DataFrame, chk: CompiledCheck, observed_expr) -> dict:
        """Count + capped example pairs ("id_a|id_b") of a near-dup pair frame."""
        return self._count_and_sample(
            pairs, chk, id_expr=F.concat(F.col("id_a"), F.lit("|"), F.col("id_b")),
            observed_expr=observed_expr, order=("id_a", "id_b"))

    def _image_compact(self, df: DataFrame, id_col: str, bytes_col: str,
                       with_dhash: bool, features: tuple) -> DataFrame:
        """The single fused image decode pass (imagefp.image_compact), as a
        method so the fusion tests can count invocations."""
        from . import imagefp

        return imagefp.image_compact(
            df, id_col=id_col, bytes_col=bytes_col,
            with_dhash=with_dhash, features=features)

    def _image_family_compute(
        self, model_name: str, df: DataFrame,
        group: List[CompiledCheck], bytes_col: str,
    ) -> Dict[str, dict]:
        """All image contract rules on one payload column from ONE decode.

        A single mapInPandas pass (imagefp.image_compact) emits the compact
        per-image frame — dims + decode_error always, dHash when a
        content-uniqueness rule is present, decoded-raster features when
        signal-quality rules are present. The frame persists (scalar rows
        only — pixels never shuffle or spill) and every check in the group
        evaluates from it: at 100 TB the payload scan IS the job, so the
        family must never decode twice (mirrors the audio family's
        exactly-one-decode invariant). Runs concurrently in the thunk pool."""
        from pyspark import StorageLevel

        if bytes_col not in df.columns:
            return {c.key: {"error": f"bytes column {bytes_col} missing"}
                    for c in group}
        decode_checks = [c for c in group if c.kind == "image"]
        quality_checks = [c for c in group if c.kind == "image_quality"]
        fp_checks = [c for c in group if c.kind == "image_fp"]
        drift_checks = [c for c in group if c.kind == "image_drift"]
        out: Dict[str, dict] = {}
        # drift without a reference snapshot errors at zero cost — and its
        # feature must not join the decode pass it will never consume
        drift_eval: List[Tuple[CompiledCheck, dict]] = []
        for c in drift_checks:
            feat = c.params["feature"]
            stats = self.config.ref_stats.get(model_name, {}).get(f"image:{feat}")
            if not stats:
                out[c.key] = {"error": (
                    f"no reference snapshot for image feature {feat} "
                    "(build with the CLI snapshot command; stored under "
                    f"ref_stats key 'image:{feat}')")}
            else:
                drift_eval.append((c, stats))
        features = tuple(sorted(
            {c.params["feature"] for c in quality_checks}
            | {c.params["feature"] for c, _ in drift_eval}))
        id_col = self._pk_column(model_name, df)
        with self._arrow_batch_conf():
            compact = self._image_compact(
                df, id_col=id_col, bytes_col=bytes_col,
                with_dhash=bool(fp_checks), features=features)
        compact = compact.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            for c in decode_checks:
                out[c.key] = self._image_decode_eval(df, compact, c, id_col)
            for c in quality_checks:
                out[c.key] = self._image_quality_eval(compact, c)
            for c, stats in drift_eval:
                out[c.key] = self._image_drift_eval(compact, c, stats)
            for c in fp_checks:
                out[c.key] = self._image_fp_eval(compact, c)
            return out
        finally:
            compact.unpersist()

    def _image_decode_eval(self, df: DataFrame, compact: DataFrame,
                           chk: CompiledCheck, id_col: str) -> dict:
        """Decode conformance from the compact frame; with declared
        width/height columns the comparison joins back on the primary key
        (8-byte-ish rows only)."""
        p = chk.params
        for dim_col in (p["width_col"], p["height_col"]):
            if dim_col and dim_col not in df.columns:
                return {"error": f"declared dimension column {dim_col} missing"}
        meta = compact.withColumnRenamed("id", "__img_id")
        bad_cond = F.col("decode_error").isNotNull()
        observed = [F.coalesce(F.col("decode_error"), F.lit(""))]
        if p["width_col"] or p["height_col"]:
            # LEFT join (null-pk rows must stay visible) against DEDUPLICATED
            # declared dims (duplicate pks would fan out and overcount); the
            # comparisons are null-SAFE so a NULL declared dimension counts as
            # a violation (the row is unverifiable) instead of slipping
            # through '!=' three-valued logic
            declared = df.select(
                F.col(id_col).cast("string").alias("__img_id"),
                *( [F.col(p["width_col"]).alias("__decl_w")] if p["width_col"] else [] ),
                *( [F.col(p["height_col"]).alias("__decl_h")] if p["height_col"] else [] ),
            ).dropDuplicates(["__img_id"])
            meta = meta.join(declared, "__img_id", "left")
            if p["width_col"]:
                bad_cond = bad_cond | ~F.col("width").eqNullSafe(F.col("__decl_w"))
                observed.append(F.concat(
                    F.lit(" w="), F.coalesce(F.col("width").cast("string"), F.lit("?")),
                    F.lit("/"), F.coalesce(F.col("__decl_w").cast("string"), F.lit("?"))))
            if p["height_col"]:
                bad_cond = bad_cond | ~F.col("height").eqNullSafe(F.col("__decl_h"))
                observed.append(F.concat(
                    F.lit(" h="), F.coalesce(F.col("height").cast("string"), F.lit("?")),
                    F.lit("/"), F.coalesce(F.col("__decl_h").cast("string"), F.lit("?"))))
        bad = meta.filter(bad_cond).select(
            F.col("__img_id").alias("id_a"),
            F.concat_ws("", *observed).alias("__observed"))
        return self._count_and_sample(
            bad, chk, id_expr=F.coalesce(F.col("id_a"), F.lit("<null-id>")),
            observed_expr=F.col("__observed"))

    def _count_and_sample(self, frame: DataFrame, chk: CompiledCheck,
                          id_expr, observed_expr, order=("id_a",)) -> dict:
        """Count + capped violation sample (first rows by ``order``) over one
        persisted evaluation of a violating-row or near-dup pair frame."""
        from pyspark import StorageLevel

        frame = frame.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            metric = float(frame.count())
            vio_rows = None
            if metric > 0:
                vio_rows = frame.orderBy(*order).limit(
                    self.config.violation_cap
                ).select(
                    F.lit(self.run.runId).alias("run_id"),
                    F.lit(None).cast("string").alias("partition_id"),
                    F.lit(chk.key).alias("check_key"),
                    id_expr.alias("clip_id"),
                    observed_expr.alias("observed"),
                    F.lit(chk.expected).alias("expected"),
                ).collect()
            return {"metric": metric, "vio_rows": vio_rows}
        finally:
            frame.unpersist()

    def _image_quality_eval(self, compact: DataFrame,
                            chk: CompiledCheck) -> dict:
        """Signal-quality bounds from the compact frame's f_<feature> column.

        Decode failures belong to decode-conformance and are never
        double-counted here (their feature columns are NULL, and the
        explicit decode_error guard keeps the semantics visible)."""
        p = chk.params
        feat = F.col(f"f_{p['feature']}")
        cond = F.lit(False)
        if p["minimum"] is not None:
            cond = cond | (feat < F.lit(float(p["minimum"])))
        if p["maximum"] is not None:
            cond = cond | (feat > F.lit(float(p["maximum"])))
        bad = compact.filter(F.col("decode_error").isNull() & cond).select(
            F.col("id").alias("id_a"),
            F.concat(F.lit(p["feature"] + "="),
                     F.round(feat, 4).cast("string")).alias("__observed"))
        return self._count_and_sample(
            bad, chk, id_expr=F.coalesce(F.col("id_a"), F.lit("<null-id>")),
            observed_expr=F.col("__observed"))

    def _image_drift_eval(self, compact: DataFrame, chk: CompiledCheck,
                          stats: dict) -> dict:
        """Binned KS/PSI of the compact frame's f_<feature> column against
        the snapshot's bin grid — one groupBy over persisted scalars, no
        payload rescan. Decode failures are excluded (they belong to
        decode-conformance; a drift statistic over them is meaningless)."""
        from . import drift as drift_mod

        feat = f"f_{chk.params['feature']}"
        edges = [float(x) for x in stats["bin_edges"]]
        rows = (compact
                .filter(F.col("decode_error").isNull()
                        & F.col(feat).isNotNull())
                .groupBy(drift_mod.bucket_expr(feat, edges).alias("__b"))
                .count().collect())
        counts = [0] * (len(edges) + 1)
        for r in rows:
            counts[int(r["__b"])] += int(r["count"])
        stat = drift_mod.drift_statistic_from_counts(
            counts, stats, chk.params["method"])
        return {"metric": stat, "rows": sum(counts)}

    def _image_fp_eval(self, compact: DataFrame, chk: CompiledCheck) -> dict:
        """Content uniqueness: blocked Hamming pairs over the compact
        frame's dhash column (imagefp.near_dup_pairs_from_fp — only 8-byte
        hashes shuffle); metric = pair count, violations = capped pairs."""
        from . import imagefp
        from .pipeline_ckpt import release_caches

        p = chk.params
        pairs = imagefp.near_dup_pairs_from_fp(
            compact.select("id", "dhash"),
            max_hamming=p["max_hamming"], max_bucket=p["max_bucket"])
        try:
            return self._pair_result(pairs, chk, F.concat(
                F.lit("hamming="), F.col("hamming").cast("string")))
        finally:
            release_caches(pairs)

    def _video_compute(self, model_name: str, df: DataFrame,
                       chk: CompiledCheck) -> dict:
        """Video decode conformance: one mapInPandas decode pass
        (multimodal.video_metadata) emitting scalars; declared fps /
        frame-count / dims join back on the primary key with the same
        null-safe, left-join, dedup'd-declared-side semantics as the image
        rule (a NULL declared value is unverifiable -> violation; NULL-pk
        corrupt rows stay visible; duplicate pks never fan out)."""
        from . import multimodal

        p = chk.params
        bytes_col = p["bytes_col"]
        if bytes_col not in df.columns:
            return {"error": f"bytes column {bytes_col} missing"}
        decl = {k: v for k, v in p["decl_cols"].items() if v}
        for col in decl.values():
            if col not in df.columns:
                return {"error": f"declared column {col} missing"}
        id_col = self._pk_column(model_name, df)
        with self._arrow_batch_conf():
            meta = multimodal.video_metadata(
                df, id_col=id_col, bytes_col=bytes_col
            ).withColumnRenamed("id", "__vid_id")
        bad_cond = F.col("decode_error").isNotNull()
        observed = [F.coalesce(F.col("decode_error"), F.lit(""))]
        if decl:
            declared = df.select(
                F.col(id_col).cast("string").alias("__vid_id"),
                *[F.col(c).alias(f"__decl_{k}") for k, c in decl.items()],
            ).dropDuplicates(["__vid_id"])
            meta = meta.join(declared, "__vid_id", "left")
            decoded = {"fps": F.col("fps"), "frames": F.col("n_frames"),
                       "width": F.col("width"), "height": F.col("height")}
            for k in decl:
                dv, cv = decoded[k], F.col(f"__decl_{k}")
                if k == "fps":
                    # tolerance compare, but NULL on either side (corrupt
                    # payload / undeclared rate) must count as a violation,
                    # not slip through three-valued logic
                    ok = (dv.isNotNull() & cv.isNotNull()
                          & (F.abs(dv - cv) <= F.lit(p["fps_tolerance"])))
                    bad_cond = bad_cond | ~ok
                else:
                    bad_cond = bad_cond | ~dv.eqNullSafe(cv)
                observed.append(F.concat(
                    F.lit(f" {k}="),
                    F.coalesce(dv.cast("string"), F.lit("?")), F.lit("/"),
                    F.coalesce(cv.cast("string"), F.lit("?"))))
        bad = meta.filter(bad_cond).select(
            F.col("__vid_id").alias("id_a"),
            F.concat_ws("", *observed).alias("__observed"))
        return self._count_and_sample(
            bad, chk, id_expr=F.coalesce(F.col("id_a"), F.lit("<null-id>")),
            observed_expr=F.col("__observed"))

    # -- referential integrity (anti-join) ------------------------------------

    def _reference_compute(self, df: DataFrame, chk: CompiledCheck) -> dict:
        parent_name = chk.params["parent_model"]
        parent_field = chk.params["parent_field"]
        parent = self.tables.get(parent_name)
        if parent is None:
            return {"error": f"parent table {parent_name} not provided"}
        if parent_field not in parent.columns:
            return {"error": f"parent column {parent_field} missing in {parent_name}"}
        child_col = chk.field
        flt = chk.params.get("filter")
        if flt:
            # scoped referential integrity: only in-scope child rows must
            # resolve (filter applied before the anti-join, so pushdown
            # shrinks the probe side)
            df = df.filter(F.expr(flt))
        part_col = self._partition_col(df, child_col)
        if part_col:
            df, part_col = df.withColumn(PART, drift_mod.partition_key(part_col)), PART
        diagnostics = None
        orphans = None
        if self.config.reference_mode == "approx":
            built = self._reference_bloom_orphans(df, chk, parent,
                                                  parent_field, child_col,
                                                  part_col)
            if built is not None:
                orphans, diagnostics = built
            # else: bloom over budget — fall through to the exact anti-join
        if orphans is None:
            keys = parent.select(
                F.col(parent_field).alias("__parent_key")).distinct()
            if self.config.broadcast_references:
                keys = F.broadcast(keys)
            # alias so dotted (nested-struct) paths keep a stable key column
            # name; the partition column rides along for per-partition
            # orphan attribution
            sel = [F.col(child_col).alias("__child")]
            if part_col:
                sel.append(F.col(part_col))
            orphans = df.select(*sel).filter(
                F.col("__child").isNotNull()
            ).join(keys, on=F.col("__child") == F.col("__parent_key"),
                   how="left_anti")
        from pyspark import StorageLevel

        # Reduce to (orphan value[, partition], row count) before any action:
        # the grouped frame is bounded by DISTINCT orphan values (map-side
        # partial agg), so persisting it is cheap even when billions of rows
        # are orphaned — and the exact row-level metric, the per-partition
        # rollup, and the capped per-row example sample all derive from it
        # without re-running the anti-join (the full child-table shuffle) a
        # second time.
        gcols = ["__child"] + ([part_col] if part_col else [])
        grouped = orphans.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("__cnt")
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            metric = float(
                grouped.agg(F.coalesce(F.sum("__cnt"), F.lit(0)).alias("n")).first()["n"]
            )
            part_metrics = None
            if part_col:
                part_metrics = {
                    str(r[part_col]): float(r["n"])
                    for r in grouped.groupBy(part_col)
                    .agg(F.sum("__cnt").alias("n")).collect()
                }
            vio_rows = None
            if metric > 0:
                cap = self.config.violation_cap
                # per-row violation semantics preserved: a value orphaned k
                # times contributes min(k, cap) example rows, capped overall
                vio = grouped.select(
                    (F.col(part_col).cast("string") if part_col
                     else F.lit(None).cast("string")).alias("__part"),
                    F.explode(
                        F.array_repeat(
                            F.col("__child"),
                            F.least(F.col("__cnt"), F.lit(cap)).cast("int"),
                        )
                    ).alias("__child"),
                ).limit(cap).select(
                    F.lit(self.run.runId).alias("run_id"),
                    F.col("__part").alias("partition_id"),
                    F.lit(chk.key).alias("check_key"),
                    F.col("__child").cast("string").alias("clip_id"),
                    F.col("__child").cast("string").alias("observed"),
                    F.lit(chk.expected).alias("expected"),
                )
                vio_rows = vio.collect()
        finally:
            grouped.unpersist()
            # approx path: the bitset broadcast is only needed while the
            # probe can still (re-)run — after grouped is unpersisted nothing
            # derives from it, and Spark never GCs broadcasts on long-lived
            # sessions (a bench loop would accumulate one per check run)
            bc = getattr(orphans, "_dcspark_broadcast", None)
            if bc is not None:
                try:
                    bc.destroy()
                except Exception:  # noqa: BLE001 — cleanup must never mask results
                    pass
        out = {"metric": metric, "vio_rows": vio_rows,
               "part_metrics": part_metrics}
        if diagnostics:
            out["diagnostics"] = diagnostics
        return out

    def _reference_bloom_orphans(self, df: DataFrame, chk: CompiledCheck,
                                 parent: DataFrame, parent_field: str,
                                 child_col: str,
                                 part_col: Optional[str] = None):
        """Approx referential path (``reference_mode="approx"``): parent keys
        fold into ONE Bloom bitset; child rows whose key is provably absent
        are the orphans — the membership probe is MAP-ONLY, so the
        10^12-row child table never shuffles (vs the exact path's anti-join,
        whose sort-merge fallback shuffles every child row when the parent
        outgrows broadcast).

        Semantics are one-sided and disclosed: a Bloom filter has no false
        negatives, so every reported orphan is REAL (a failing check is
        proof); a passing check may miss each true orphan with probability
        ~fpp (~0.8% at the 10 bits/key sizing). Use the exact mode for
        certification; approx for the routine at-scale sweep — the same
        exact/approx contract as unique_mode.

        Returns (orphans_frame, diagnostics) or None when the bitset would
        exceed ``reference_bloom_max_bytes`` (the broadcast budget — same
        guard pattern as decontam's broadcast_max_grams), in which case the
        caller falls back to the exact anti-join.
        """
        from . import bloomfilter as bf

        m, k, n_b, bits = bf.build_column_bloom(
            parent, parent_field,
            max_bytes=self.config.reference_bloom_max_bytes)
        if bits is None:
            self.run.log_info(
                f"{chk.key}: approx reference mode fell back to the exact "
                f"anti-join — parent bloom would need {m // 8} bytes for "
                f"~{n_b} keys (budget {self.config.reference_bloom_max_bytes})")
            return None
        fpp = bf.bloom_fpp(m, k, n_b)
        self.run.log_info(
            f"{chk.key}: approx reference mode — {m // 8}-byte parent bloom "
            f"over ~{n_b} keys, child probe map-only; reported orphans are "
            f"exact, missed-orphan probability ~{fpp:.2%} per row")
        # F.hash/xxhash64 are type-dependent: the child key MUST hash as the
        # parent key's exact type, or a benign int32-vs-int64 FK pairing
        # (parquet writers disagree on key widths all the time) would report
        # EVERY child row as an orphan — the false-positive outcome the
        # mode's one-sided contract promises cannot happen. try_cast, not
        # cast: under ANSI (the Spark 4 default) an unparseable key would
        # abort the whole run with CAST_INVALID_INPUT; a non-null key whose
        # cast is null provably matches no parent key, so it flows through
        # the probe as a definite orphan (ADVICE r04) — still one child
        # scan, zero shuffle.
        parent_type = parent.schema[parent_field].dataType
        sel = [F.col(child_col).try_cast(parent_type).alias("__cast"),
               F.col(child_col).alias("__orig")]
        if part_col:
            sel.append(F.col(part_col))
        src = df.select(*sel).filter(F.col("__orig").isNotNull())
        probe = bf.non_members(
            src, "__cast", m, k, bits,
            keep_cols=["__orig"] + ([part_col] if part_col else []),
            null_is_orphan=True)
        # report the ORIGINAL value for uncastable keys (the cast is null);
        # string-typed __child is fine downstream (groupBy + cast-to-string)
        orphans = probe.select(
            F.coalesce(F.col("__child").cast("string"),
                       F.col("__orig").cast("string")).alias("__child"),
            *([F.col(part_col)] if part_col else []))
        orphans._dcspark_broadcast = probe._dcspark_broadcast
        diagnostics = {"approx": True, "bloom_bytes": m // 8,
                       "bloom_fpp": fpp, "parent_keys_est": n_b}
        return orphans, diagnostics

    # -- transcript equality vs oracle reference (join check) ------------------

    def _join_equality_compute(self, df: DataFrame, chk: CompiledCheck) -> dict:
        p = chk.params
        ref = self.tables.get(p["ref_model"])
        if ref is None:
            return {"error": f"reference table {p['ref_model']} not provided"}
        key, child_col, ref_col = p["key"], p["child_col"], p["ref_col"]
        if key not in df.columns or child_col not in df.columns or key not in ref.columns or ref_col not in ref.columns:
            return {"error": "join/compare column missing"}
        part_col = self._partition_col(df, key, child_col)
        if part_col:
            df, part_col = df.withColumn(PART, drift_mod.partition_key(part_col)), PART
        # inner equi-join on the key (rows absent from the reference are the
        # referential check's concern, not equality's); null-safe inequality;
        # the partition column rides along for per-partition attribution
        child_sel = [F.col(key).alias("__k"), F.col(child_col).alias("__child")]
        if part_col:
            child_sel.append(F.col(part_col))
        joined = df.select(*child_sel).join(
            ref.select(F.col(key).alias("__k"), F.col(ref_col).alias("__ref")),
            on="__k", how="inner",
        )
        from pyspark import StorageLevel

        # mismatching rows only — persist across the count and the capped
        # sample so a FAILING equality check doesn't re-run the key join of
        # two corpus-sized tables (the same single-scan-on-fail guarantee as
        # unique/group/reference; gated in tests/test_single_scan_on_fail.py)
        mismatch = joined.filter(
            ~F.col("__child").eqNullSafe(F.col("__ref"))
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            metric = float(mismatch.count())
            part_metrics = None
            if part_col:
                part_metrics = {
                    str(r[part_col]): float(r["n"])
                    for r in mismatch.groupBy(part_col)
                    .agg(F.count(F.lit(1)).alias("n")).collect()
                }
            vio_rows = None
            if metric > 0:
                vio = mismatch.limit(self.config.violation_cap).select(
                    F.lit(self.run.runId).alias("run_id"),
                    (F.col(part_col).cast("string") if part_col
                     else F.lit(None).cast("string")).alias("partition_id"),
                    F.lit(chk.key).alias("check_key"),
                    F.col("__k").cast("string").alias("clip_id"),
                    F.col("__child").cast("string").alias("observed"),
                    F.concat(F.lit("ref: "), F.col("__ref").cast("string")).alias("expected"),
                )
                vio_rows = vio.collect()
        finally:
            mismatch.unpersist()
        return {"metric": metric, "vio_rows": vio_rows,
                "part_metrics": part_metrics}

    # -- SQL quality ----------------------------------------------------------

    def _sql_compute(self, chk: CompiledCheck) -> dict:
        query = chk.params.get("query")
        if not query:
            return {"error": "no query"}
        try:
            row = self.spark.sql(query).first()
            metric = None if row is None else float(row[0])
        except Exception as e:  # surfaced as error check, not crash (soda parity)
            return {"error": f"query failed: {e}"}
        return {"metric": metric}

    # -- checkpoint / resume ---------------------------------------------------

    def _manifest_path(self, model_name: str) -> str:
        key = f"{self.spec.id or 'contract'}__{model_name}"
        return os.path.join(self.config.checkpoint_dir, f"manifest__{key}.jsonl")

    def _partition_lineage(
        self, df: DataFrame, partition_col: str,
        parts: Optional[List[str]] = None,
    ) -> Dict[str, Dict[str, Any]]:
        """{partition key: {"files": n, "sig": md5-of-sorted-file-list}} via a
        column-pruned scan of (partition key, input_file_name()) distinct
        pairs — per-partition provenance for the checkpoint manifest (north
        rule: "per-partition lineage + metrics"). In-memory frames (no
        files) yield a single empty name, which is stable across runs."""
        import hashlib

        key = drift_mod.partition_key(partition_col)
        sub = df if parts is None else df.filter(key.isin(list(parts)))
        rows = (
            sub.select(key.alias("p"), F.input_file_name().alias("f"))
            .distinct().collect()
        )
        by_part: Dict[str, List[str]] = {}
        for r in rows:
            by_part.setdefault(r["p"], []).append(r["f"])
        return {
            p: {
                "files": len([f for f in fs if f]),
                "sig": hashlib.md5("\n".join(sorted(fs)).encode()).hexdigest(),
            }
            for p, fs in by_part.items()
        }

    def _state_sig(self, model_name: str, spec: _ScanSpec) -> str:
        """Signature of the check configuration whose per-partition state a
        manifest record holds. A record written under a DIFFERENT
        configuration (metric set, audio rules, percentile mode/columns,
        drift features) cannot be merged — its missing sidecar state would
        silently read as zero — so resume rescans such partitions."""
        import hashlib

        return hashlib.md5(json.dumps({
            # ops covers every merged alias INCLUDING the drift bucket
            # aliases (which join ops but not exprs); the drift/feat entries
            # additionally hash the snapshot CONTENT — a rebuilt snapshot
            # with the same grid size but shifted edges (or reordered
            # categories) must also invalidate, not merge misaligned bins
            "aliases": sorted(spec.ops),
            # the alias alone can't see a SEMANTIC change that keeps the name
            # — e.g. a per-check `filter:` added to a field constraint, or an
            # edited bound — so the expression trees themselves join the
            # signature (their reprs are deterministic unresolved-plan text)
            "exprs": sorted((k, str(v)) for k, v in spec.exprs.items()),
            "audio": spec.audio_chk.key if spec.audio_chk is not None else None,
            "feat_bins": spec.feat_bins,
            "feat_limits": spec.feat_limits,
            # a changed transcript column changes every rate metric; the
            # manifest's per-partition counts cannot be merged across it
            "rate_text_col": spec.rate_text_col,
            "pctl_cols": spec.pctl_cols,
            # sketch configs: manifest HLL sketches of a different lgConfigK
            # would make hll_union_agg throw on resume, and t-digests of a
            # different delta would merge at the wrong compression — both are
            # state-compatibility parameters, so a change invalidates and
            # rescans instead of failing the merged run
            "hll_lgk": self.config.unique_hll_lgk,
            "tdigest_delta": self.config.pctl_tdigest_delta,
            # sampled partitions can never merge with full ones (or with a
            # different fraction/seed's panel); same for a changed dataset
            # filter — a different slice is a different table
            "sample": [self.config.sample_fraction, self.config.sample_seed],
            "dataset_filter": [
                getattr(self.spec.models.get(model_name), "filter", None),
                self.config.model_where.get(model_name),
            ],
            "drift": [
                {"p": j["prefix"], "m": j["method"],
                 "s": {k: j["stats"].get(k) for k in
                       ("bin_edges", "quantiles", "categories", "bin_probs")}}
                for j in spec.drift_jobs
            ],
        }, sort_keys=True, default=str).encode()).hexdigest()

    def _manifest_todo(
        self, keyed: DataFrame, manifest: str, state_sig: str,
    ) -> Tuple[Dict[Optional[str], ScanState], List[List[str]]]:
        """(completed partitions' states, partition-key groups still to scan)
        for a checkpointed scan of ``keyed`` (a frame carrying the PART key).

        Fresh runs scan every partition in ``checkpoint_chunks`` groups. On
        resume the latest record of each partition is reused unless it was
        written under another check configuration (``state_sig``) or its
        partition's input files changed since: the lineage (file count + md5
        of the sorted file list) is re-probed, reading only the partition
        column, so a checkpoint never serves metrics for data that moved
        underneath it."""
        os.makedirs(self.config.checkpoint_dir, exist_ok=True)
        done: Dict[str, dict] = {}
        if self.config.resume and os.path.exists(manifest):
            with open(manifest, "r", encoding="utf-8") as f:
                for line in f:
                    rec = json.loads(line)
                    if rec.get("status") == "done":
                        done[str(rec["partition_id"])] = rec
            stale = sorted(
                p for p, rec in done.items()
                if rec.get("state_sig") != state_sig)
            if stale:
                self.run.log_warn(
                    f"checkpoint: {len(stale)} completed partition(s) were "
                    "recorded under a different check configuration — "
                    f"rescanning {stale[:5]}{'...' if len(stale) > 5 else ''}")
                for p in stale:
                    del done[p]
        parts = sorted(r[0] for r in keyed.select(PART).distinct().collect())
        if done:
            current = self._partition_lineage(keyed, PART, sorted(done))
            for pid in sorted(done):
                rec_lin = done[pid].get("lineage")
                if rec_lin is not None and rec_lin != current.get(pid):
                    self.run.log_warn(
                        f"checkpoint: partition {pid} input files changed since "
                        f"manifest (was {rec_lin}, now {current.get(pid)}) — rescanning")
                    del done[pid]
        todo = [p for p in parts if p not in done]
        size = max(1, math.ceil(len(todo) / max(1, self.config.checkpoint_chunks)))
        groups = [todo[i:i + size] for i in range(0, len(todo), size)]
        self.run.log_info(
            f"checkpoint: {len(done)}/{len(parts)} partitions already complete; "
            f"{len(todo)} to scan in {len(groups)} chunk(s)"
        )
        return {p: ScanState.from_record(rec) for p, rec in done.items()}, groups

    def _append_records(self, manifest: str,
                        states: Dict[Optional[str], ScanState],
                        state_sig: str) -> None:
        """Append one completed chunk's partitions to the JSONL manifest."""
        with open(manifest, "a", encoding="utf-8") as f:
            for pid in sorted(states):
                f.write(json.dumps({
                    "run_id": self.run.runId,
                    "partition_id": pid,
                    "status": "done",
                    **states[pid].to_record(),
                    "state_sig": state_sig,
                    "ts": dt.datetime.now(dt.timezone.utc).isoformat(),
                }) + "\n")

    # -- result recording -------------------------------------------------------

    def _record_result(self, chk: CompiledCheck, res: dict) -> None:
        """Record one check from its job's result dict: ``error``, or
        ``metric`` plus optional ``rows`` (row count), ``diagnostics``,
        ``part_metrics`` (partitions WITH violations get their own row — the
        "which ingest partition went bad" answer; clean partitions are
        covered by the global row) and capped ``vio_rows``."""
        if "error" in res:
            self._record(chk, None, ResultEnum.error, res["error"], None)
            return
        failure = _COUNT_FAILURE.get(chk.kind)
        evaluator = chk.params.get("evaluator") if failure else chk.eval_metric

        def judge(metric):
            if evaluator is not None:
                return evaluator(metric, {})
            if metric == 0:
                return ResultEnum.passed, None
            return ResultEnum.failed, (
                f"{chk.name}: {int(metric)} " + failure.format(**chk.params))

        metric = res["metric"]
        result, reason = judge(metric)
        self._record(chk, metric, result, reason, res.get("rows"),
                     diagnostics=res.get("diagnostics"))
        for pid, pm in sorted((res.get("part_metrics") or {}).items()):
            if pm > 0:
                self._record(chk, pm, *judge(pm), None, partition_id=pid)
        if res.get("vio_rows"):
            self._violation_frames.append(
                self.spark.createDataFrame(res["vio_rows"], schema=VIOLATIONS_DDL))

    def _record(
        self,
        chk: CompiledCheck,
        metric: Optional[float],
        result: ResultEnum,
        reason: Optional[str],
        row_count: Optional[int],
        partition_id: Optional[str] = None,
        diagnostics: Optional[Dict[str, Any]] = None,
    ) -> None:
        if partition_id is None:
            # global rollup -> a Check on the Run (parity with reference fold)
            self.run.checks.append(Check(
                id=chk.key,
                key=chk.key,
                category=chk.category,
                type=chk.check_type,
                name=chk.name,
                model=chk.model,
                field=chk.field,
                engine="dcspark",
                language="spark",
                implementation=chk.implementation,
                result=result,
                reason=(reason if reason is not None
                        else (f"evaluated on a {self.config.sample_fraction:g} "
                              "deterministic sample (bounds, not certifies)"
                              if self.config.sample_fraction is not None
                              and result == ResultEnum.passed else None)),
                diagnostics=(diagnostics or {})
                | ({"metric": metric} if metric is not None else {})
                | ({"sample_fraction": self.config.sample_fraction}
                   if self.config.sample_fraction is not None else {}),
            ))
            self._metrics[chk.key] = metric
        now = dt.datetime.now(dt.timezone.utc)
        self._results_rows.append({
            "run_id": self.run.runId,
            "partition_id": partition_id,
            "model": chk.model,
            "field": chk.field,
            "check_key": chk.key,
            "check_type": chk.check_type,
            "category": chk.category,
            "engine": "dcspark",
            "result": result.value,
            "metric_value": float(metric) if metric is not None else None,
            "threshold": chk.expected,
            "reason": reason,
            "row_count": int(row_count) if row_count is not None else None,
            "ts_start": self.run.timestampStart,
            "ts_end": now,
        })


class _ConfScope:
    """Temporarily set Spark SQL confs (restored on exit)."""

    def __init__(self, spark: SparkSession, confs: Dict[str, str]):
        self.spark = spark
        self.confs = confs
        self.saved: Dict[str, Optional[str]] = {}

    def __enter__(self):
        for k, v in self.confs.items():
            try:
                self.saved[k] = self.spark.conf.get(k)
            except Exception:
                self.saved[k] = None
            self.spark.conf.set(k, v)
        return self

    def __exit__(self, *exc):
        for k, old in self.saved.items():
            if old is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, old)
        return False


def _drift_prefix(chk: CompiledCheck) -> str:
    """Alias prefix of a drift check's bucket counts in the metric rows."""
    return f"__drift__{chk.key}"


def _metrics_to_json(row: Dict[str, Any]) -> str:
    import base64

    out = {}
    for k, v in row.items():
        if isinstance(v, dt.datetime):
            out[k] = {"__ts__": v.isoformat()}
        elif isinstance(v, dt.date):
            # a date must come back a date: min/max against a fresh
            # partition's date would raise on a datetime
            out[k] = {"__date__": v.isoformat()}
        elif isinstance(v, (bytes, bytearray)):
            # e.g. the approx-unique HLL sketch: mergeable binary state
            out[k] = {"__b64__": base64.b64encode(bytes(v)).decode("ascii")}
        else:
            out[k] = v
    return json.dumps(out)


def _json_to_metrics(blob: str) -> Dict[str, Any]:
    import base64

    raw = json.loads(blob)
    out: Dict[str, Any] = {}
    for k, v in raw.items():
        if isinstance(v, dict) and "__ts__" in v:
            try:
                out[k] = dt.datetime.fromisoformat(v["__ts__"])
            except ValueError:
                out[k] = None
        elif isinstance(v, dict) and "__date__" in v:
            out[k] = dt.date.fromisoformat(v["__date__"])
        elif isinstance(v, dict) and "__b64__" in v:
            out[k] = base64.b64decode(v["__b64__"])
        else:
            out[k] = v
    return out


def validate(
    spark: SparkSession,
    spec: DataContractSpecification,
    tables: Dict[str, DataFrame],
    config: Optional[ValidationConfig] = None,
) -> ValidationResult:
    return Validator(spark, spec, tables, config).validate()
