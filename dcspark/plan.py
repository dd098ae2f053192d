"""Execution plan: which Spark job each compiled check rides.

``plan()`` is the one place the engine's job-shape decisions live. The engine
executes its ``PlannedJob`` list, ``test --dry-run`` prints the same list, and
each job's ``id`` is its ``ValidationResult.phase_timings`` label. Like LMFAO's
batch-of-aggregates planning, every check that can share a pass with others is
folded into ONE shared multi-aggregate scan (plus, when payload rules exist,
one fused audio decode pass); only checks that genuinely need their own
shuffle or payload decode get a dedicated job.

Pure: no Spark session, no data access. ``schema`` (a StructType) is only
consulted for the partition column; ``None`` assumes it is present.
``ref_stats`` (model -> column/feature -> snapshot) of ``None`` means a
snapshot exists but its contents are unknown, so every drift check is assumed
to find its snapshot.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional

from .audio import BYTES_COL
from .compile import CompiledCheck

AGG_KINDS = ("agg", "freshness", "retention")
_IMAGE_KINDS = ("image", "image_quality", "image_fp", "image_drift")
_SCHEMA_KINDS = ("schema_present", "schema_type")
#: jobs that run after every other job of the model has recorded
POST_PHASE_KINDS = ("history", "skipped")
_SCAN_KINDS = AGG_KINDS + ("drift", "audio", "audio_drift", "audio_quality")

#: check kind -> (job kind, reason) for checks that each get their own job
_DEDICATED = {
    "unique": ("unique", "dedicated exact-uniqueness job (two-phase salted groupBy)"),
    "reference": ("reference", "anti-join vs the parent table (broadcast when it fits)"),
    "join_equality": ("join_eq", "key-join equality vs the reference table"),
    "group": ("group", "dedicated groupBy job"),
    "audio_fp": ("audio_fp", "dedicated fingerprint decode job"),
    "video": ("video", "fused video decode pass (one mapInArrow payload scan)"),
    "sql": ("sql", "user SQL job"),
}
_BLOOM_REASON = ("parent Bloom bitset + MAP-ONLY child membership probe "
                 "(reference_mode approx; falls back to the exact anti-join "
                 "over the bitset budget)")


@dataclass
class PlannedJob:
    """One planned unit of execution and the checks it records.

    ``passes`` (shared scan only) lists the sub-passes the scan launches.
    ``snapshots`` maps a drift / audio-drift check key to its resolved
    reference snapshot (``None`` when the snapshot is unknown). ``errors``
    maps a check key to the error it records without running any job."""

    id: str
    kind: str
    checks: List[CompiledCheck]
    reason: str
    passes: List[str] = field(default_factory=list)
    snapshots: Dict[str, Optional[dict]] = field(default_factory=dict)
    errors: Dict[str, str] = field(default_factory=dict)

    def of(self, *kinds: str) -> List[CompiledCheck]:
        """This job's checks of the given kinds, in compile order."""
        return [c for c in self.checks if c.kind in kinds]


def _shared_scan(checks: List[CompiledCheck], config: Any, snaps: Optional[dict],
                 part_col: bool, resume_active: bool) -> PlannedJob:
    """The shared multi-aggregate scan and every check that rides it."""
    scan = PlannedJob("shared_scan", "shared_scan", [], "shared multi-aggregate scan",
                      passes=["agg"])
    for c in checks:
        if c.kind == "drift":
            stats = None if snaps is None else snaps.get(c.params["column"])
            if snaps is not None and stats is None:
                scan.errors[c.key] = f"no reference snapshot for column {c.params['column']}"
            elif stats is not None and "categories" in stats and c.params["method"] != "psi":
                # KS needs an ordered domain; categorical snapshots are
                # frequency-only — a config error, not a meaningless statistic
                scan.errors[c.key] = f"{c.name}: categorical snapshot supports method psi only"
            else:
                scan.snapshots[c.key] = stats
        elif c.kind == "audio_drift":
            feature = c.params["feature"]
            stats = None if snaps is None else snaps.get(f"audio:{feature}")
            if snaps is not None and not stats:
                scan.errors[c.key] = (
                    f"no reference snapshot for audio feature {feature} "
                    "(build with audio.audio_feature_frame + drift.build_ref_stats, "
                    "stored under ref_stats key 'audio:" + feature + "')")
            else:
                scan.snapshots[c.key] = stats

    # Another audio scan runs anyway when decode-conformance, signal-quality
    # or a loudness-drift check with a snapshot is present. Content-uniqueness
    # then shares that ONE decode pass: a second full decode of the payload
    # corpus is the dominant avoidable cost at scale. Only fp checks on the
    # default payload column can, and never under the checkpoint-manifest
    # path (near-dup pairs are global across partitions).
    audio_scan = any(c.kind in ("audio", "audio_quality")
                     or (c.kind == "audio_drift" and c.key in scan.snapshots)
                     for c in checks)
    fuse_fp = audio_scan and not resume_active
    for c in checks:
        if c.kind in _SCAN_KINDS:
            scan.checks.append(c)
        elif c.kind == "unique":
            # uniqueness rides as an HLL sketch in approx mode; a composite
            # PK is a certification and a scoped check can't ride the
            # unscoped scan's sketch, so both keep the exact dedicated job
            if (config.unique_mode == "approx"
                    and not c.params.get("key_cols") and not c.params.get("filter")):
                scan.checks.append(c)
        elif c.kind == "audio_fp":
            if fuse_fp and c.params.get("bytes_col", BYTES_COL) == BYTES_COL:
                scan.checks.append(c)

    if any(c.kind == "drift" and c.key in scan.snapshots for c in checks):
        scan.passes.append("drift buckets")
    if audio_scan:
        scan.id = "shared_scan+fused_decode"
        scan.passes.append("fused decode")
        scan.reason += (" + fused audio decode pass (ONE mapInArrow payload "
                        "scan shared by every audio rule)")
    if scan.of("unique"):
        scan.reason += " + HLL approx-distinct sketch for uniqueness (unique_mode approx)"
    if scan.of("audio_fp"):
        scan.reason += " + audio fingerprints ride the fused decode pass"
    # pNN metrics: their GK sketches don't merge across partitions (a global
    # pass when partitioned) unless sketch mode swaps in mergeable t-digests;
    # a row-scoped percentile keeps GK (the t-digest pass reads the raw column)
    pctl = [c for c in scan.checks
            if c.kind == "agg" and (c.agg_alias or "").endswith("__pctl")]
    sketched = [c for c in pctl
                if config.pctl_mode == "sketch" and not c.params.get("filter")]
    if part_col and len(sketched) < len(pctl):
        scan.passes.append("percentile global")
    if sketched:
        scan.passes.append("t-digest")
    return scan


def plan(
    model_name: str,
    checks: List[CompiledCheck],
    config: Any,
    schema: Any = None,
    ref_stats: Optional[Dict[str, Dict[str, dict]]] = None,
) -> List[PlannedJob]:
    """The ordered job list for one model's ``checks`` under ``config`` (a
    ValidationConfig): schema checks first, then the concurrent compute phase
    (shared scan, dedicated jobs, image decode passes), history last."""
    snaps = None if ref_stats is None else ref_stats.get(model_name, {})
    part_col = bool(config.partition_col) and (
        schema is None or config.partition_col in schema.fieldNames())
    resume_active = part_col and bool(config.checkpoint_dir)

    jobs: List[PlannedJob] = []
    schema_checks = [c for c in checks if c.kind in _SCHEMA_KINDS]
    if schema_checks:
        jobs.append(PlannedJob("schema", "schema", schema_checks,
                               "driver-only schema check (no scan)"))
    scan = _shared_scan(checks, config, snaps, part_col, resume_active)
    if config.checkpoint_dir and not part_col:
        # the manifest keys its records by partition: without a partition
        # column the run is one in-memory chunk and nothing is resumable
        scan.reason += (" (checkpoint_dir ignored: "
                        + (f"partition column {config.partition_col} not in the table"
                           if config.partition_col else "no partition_col") + ")")
    jobs.append(scan)

    in_scan = {id(c) for c in scan.checks}
    image_groups: Dict[str, List[CompiledCheck]] = {}
    for c in checks:
        if c.kind in _IMAGE_KINDS:
            image_groups.setdefault(c.params["bytes_col"], []).append(c)
    for kind, (job_kind, reason) in _DEDICATED.items():
        if kind == "video":
            # the whole image family (decode-conformance, signal-quality,
            # content-uniqueness, luminance-drift) shares ONE fused decode
            # pass per payload column; job order is record order, and these
            # record between the fingerprint and video jobs
            jobs += [PlannedJob(f"image_decode:{bc}", "image_family", grp,
                                "fused image decode pass (one mapInArrow payload "
                                "scan; every image rule on the column rides it)")
                     for bc, grp in sorted(image_groups.items())]
        if kind == "reference" and config.reference_mode == "approx":
            reason = _BLOOM_REASON
        for c in checks:
            if c.kind != kind or id(c) in in_scan:
                continue
            why = reason
            if kind == "audio_fp":
                why += (" (checkpoint-resume active)" if resume_active
                        else " (custom bytes_col)"
                        if c.params.get("bytes_col", BYTES_COL) != BYTES_COL
                        else " (no co-running audio scan)")
            jobs.append(PlannedJob(f"{job_kind}:{c.key}", job_kind, [c], why))

    # history checks judge this run's metrics, so they record last
    history = [c for c in checks if c.kind == "history"]
    if history and config.sample_fraction is not None:
        # a sampled run's metrics are raw sample counts — judging them
        # against a full-run series would make every rule fire on sampling
        jobs.append(PlannedJob("history", "skipped", history,
                               "skipped: sampled run (history judges and "
                               "feeds full-run metrics only)"))
    elif history:
        jobs.append(PlannedJob("history", "history", history,
                               "metric-history window read (results table)"))

    placed = {id(c) for job in jobs for c in job.checks}
    unplanned = [c.key for c in checks if id(c) not in placed]
    if unplanned:
        raise ValueError(f"no job runs checks {unplanned}")
    return jobs
