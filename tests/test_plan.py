"""plan(): the one decision of which job each check rides (pure: no Spark)."""

import pyspark.sql.types as T

from dcspark.compile import create_checks
from dcspark.engine import ValidationConfig, Validator
from dcspark.plan import plan
from dcspark.spec import DataContractSpecification

CONTRACT = """
dataContractSpecification: 1.1.0
id: p
info: {title: t, version: "1"}
models:
  clips:
    fields:
      clip_id: {type: string, unique: true}
      bytes: {type: bytes}
      dur_ms: {type: int}
      tag: {type: string}
    quality:
      - {type: metric, metric: p50, column: dur_ms, mustBeGreaterThan: 0}
      - {type: drift, method: ks, column: dur_ms, threshold: 0.05}
      - {type: drift, method: ks, column: tag, threshold: 0.05}
      - {type: audio, invariant: content-uniqueness}
"""


def _checks():
    spec = DataContractSpecification.from_string(CONTRACT)
    return create_checks(spec)["clips"]


def _jobs(ref_stats=None, **cfg):
    return {j.id: j for j in plan("clips", _checks(), ValidationConfig(**cfg),
                                  None, ref_stats)}


def test_every_check_rides_exactly_one_job():
    checks = _checks()
    jobs = plan("clips", checks, ValidationConfig(), None, {})
    placed = [c.key for j in jobs for c in j.checks]
    assert sorted(placed) == sorted(c.key for c in checks)


def test_drift_snapshot_resolution_lives_on_the_job():
    """A resolved snapshot rides the shared scan as a drift bucket pass; a
    missing or categorical-with-KS snapshot is an error with no job. The
    checks' own params are never touched."""
    snaps = {"clips": {"dur_ms": {"quantiles": [1.0, 2.0]},
                       "tag": {"categories": ["a"], "bin_probs": [1.0]}}}
    scan = _jobs(snaps)["shared_scan"]
    dur, tag = [c for c in scan.checks if c.kind == "drift"]
    assert scan.snapshots == {dur.key: snaps["clips"]["dur_ms"]}
    assert "categorical snapshot supports method psi only" in scan.errors[tag.key]
    assert "drift buckets" in scan.passes
    assert not any(k.startswith("_") for c in scan.checks for k in c.params)

    scan = _jobs({})["shared_scan"]
    assert "drift buckets" not in scan.passes
    assert set(scan.errors) == {dur.key, tag.key}
    # unknown snapshot contents (dry-run with --ref-stats): assumed present
    scan = _jobs(None)["shared_scan"]
    assert "drift buckets" in scan.passes and not scan.errors


def test_shared_agg_specs_leave_check_params_alone(spark):
    checks = _checks()
    drift = [c for c in checks if c.kind == "drift"]
    before = [dict(c.params) for c in drift]
    v = object.__new__(Validator)
    v.config = ValidationConfig()
    _, ops, drift_jobs = Validator._shared_agg_specs(
        v, "clips", [], drift, {drift[0].key: {"quantiles": [1.0, 2.0]}})
    assert [j["column"] for j in drift_jobs] == ["dur_ms"]
    assert any(a.startswith(f"__drift__{drift[0].key}") for a in ops)
    assert [c.params for c in drift] == before


def test_percentile_sub_passes_are_planned():
    """The shared scan names the percentile passes it launches: a global GK
    pass when partitioned, a t-digest pass in sketch mode."""
    assert "percentile global" not in _jobs({})["shared_scan"].passes
    assert "percentile global" in _jobs({}, partition_col="p")["shared_scan"].passes
    sketch = _jobs({}, partition_col="p", pctl_mode="sketch")["shared_scan"]
    assert "t-digest" in sketch.passes and "percentile global" not in sketch.passes


def test_ignored_checkpoint_dir_is_stated():
    """A checkpoint_dir with no partition column keys nothing: the run is
    one in-memory chunk, and the shared scan's reason says so."""
    assert "ignored" not in _jobs({}, partition_col="p",
                                  checkpoint_dir="ck")["shared_scan"].reason
    reason = _jobs({}, checkpoint_dir="ck")["shared_scan"].reason
    assert "checkpoint_dir ignored: no partition_col" in reason
    schema = T.StructType([T.StructField("dur_ms", T.IntegerType())])
    scan = [j for j in plan("clips", _checks(), ValidationConfig(
        partition_col="p", checkpoint_dir="ck"), schema, {}) if j.kind == "shared_scan"]
    assert "checkpoint_dir ignored: partition column p not in the table" in scan[0].reason


def test_fingerprint_fusion_follows_the_audio_scan():
    """With no other audio scan the fingerprint check gets its own decode
    job, and says why; approx uniqueness moves the unique check into the
    shared scan."""
    jobs = _jobs({})
    fp = [k for k in jobs if k.startswith("audio_fp:")]
    assert len(fp) == 1 and "no co-running audio scan" in jobs[fp[0]].reason
    assert any(k.startswith("unique:") for k in jobs)
    approx = _jobs({}, unique_mode="approx")
    assert not any(k.startswith("unique:") for k in approx)
    assert "HLL approx-distinct" in approx["shared_scan"].reason


def test_sampled_run_skips_history():
    spec = DataContractSpecification.from_string(CONTRACT.replace(
        "      - {type: audio, invariant: content-uniqueness}",
        "      - {type: history, watch: row_count, method: change, threshold: 20}"))
    checks = create_checks(spec)["clips"]
    full = plan("clips", checks, ValidationConfig(), None, {})[-1]
    sampled = plan("clips", checks, ValidationConfig(sample_fraction=0.1), None, {})[-1]
    assert (full.id, full.kind) == ("history", "history")
    assert (sampled.id, sampled.kind) == ("history", "skipped")
    assert sampled.reason.startswith("skipped: sampled run")
