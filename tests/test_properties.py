"""Property-based tests (hypothesis) for the engine's pure-Python kernels.

The reference has no property testing (SURVEY.md §5); these harden the
surfaces with the most edge-case exposure: the RIFF/WAV parser (including the
zero-copy view path over sliced buffers), SNR semantics, the decomposable
metric merge, the 8-way threshold evaluator, and period parsing.
"""

import datetime as dt
import functools
import json

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from dcspark import audio, synth
from dcspark.compile import period_to_seconds, to_threshold_evaluator
from dcspark.engine import ScanState, _merge_rows
from dcspark.run_model import ResultEnum
from dcspark.spec import Quality

SMALL = settings(max_examples=30, deadline=None)


# ---------------------------------------------------------------------------
# WAV round-trip
# ---------------------------------------------------------------------------

pcm_arrays = st.integers(1, 4000).flatmap(
    lambda n: st.integers(0, 2**32 - 1).map(
        lambda seed: np.random.default_rng(seed).integers(
            -32768, 32768, size=n, dtype=np.int16)
    )
)


@SMALL
@given(pcm=pcm_arrays, sr=st.sampled_from(synth.SR_ENUM + [12345, 1]))
def test_wav_roundtrip(pcm, sr):
    b = synth.wav_bytes(pcm, sr)
    got_sr, codec, got = audio.parse_wav(b)
    assert got_sr == sr and codec == "pcm_s16le"
    assert np.array_equal(np.asarray(got), pcm)


@SMALL
@given(pcm=pcm_arrays, sr=st.sampled_from(synth.SR_ENUM),
       prefix=st.integers(0, 97), suffix=st.integers(0, 13))
def test_wav_roundtrip_from_sliced_view(pcm, sr, prefix, suffix):
    """The zero-copy path: parse a numpy-slice view at an arbitrary offset of
    a larger heap (exactly what the Arrow value-heap slicing produces)."""
    b = synth.wav_bytes(pcm, sr)
    heap = np.frombuffer(b"x" * prefix + b + b"y" * suffix, dtype=np.uint8)
    view = heap[prefix:prefix + len(b)]
    got_sr, codec, got = audio.parse_wav_view(view)
    assert got_sr == sr and codec == "pcm_s16le"
    assert np.array_equal(np.asarray(got), pcm)


@SMALL
@given(pcm=pcm_arrays, sr=st.sampled_from(synth.SR_ENUM),
       junk_len=st.integers(1, 9))
def test_wav_parser_skips_unknown_odd_chunks(pcm, sr, junk_len):
    """Unknown chunks (odd sizes included — RIFF pads to even) are skipped."""
    import struct

    b = synth.wav_bytes(pcm, sr)
    junk = b"LIST" + struct.pack("<I", junk_len) + b"z" * (junk_len + (junk_len & 1))
    patched = b[:12] + junk + b[12:]
    got_sr, _, got = audio.parse_wav(patched)
    assert got_sr == sr
    assert np.array_equal(np.asarray(got), pcm)


@SMALL
@given(data=st.binary(min_size=0, max_size=100))
def test_wav_parser_never_crashes_on_garbage(data):
    with pytest.raises(ValueError):
        audio.parse_wav(data)


# ---------------------------------------------------------------------------
# SNR semantics
# ---------------------------------------------------------------------------

@SMALL
@given(pcm=pcm_arrays)
def test_snr_identity_is_infinite(pcm):
    assert audio.snr_db(pcm, pcm) == float("inf")


@SMALL
@given(pcm=pcm_arrays.filter(lambda a: len(a) >= 200 and np.abs(a).max() > 100))
def test_snr_known_noise_level(pcm):
    """Adding noise at exactly -N dB relative power yields ~N dB SNR."""
    rng = np.random.default_rng(7)
    noise = rng.normal(0, 1, len(pcm))
    p_sig = float(np.dot(pcm.astype(np.float64), pcm.astype(np.float64)))
    p_noise = float(np.dot(noise, noise))
    target_db = 20.0
    scale = np.sqrt(p_sig / (p_noise * 10 ** (target_db / 10)))
    noisy = np.clip(pcm + noise * scale, -32768, 32767).astype(np.int16)
    s = audio.snr_db(pcm, noisy)
    assert 15.0 <= s <= 26.0  # int16 quantization adds ~±1 LSB on top


@SMALL
@given(i=st.integers(0, 10_000))
def test_blocked_oracle_matches_generated_pcm(i):
    """The blocked-SNR oracle certifies clean generated clips far above the
    30 dB invariant floor (float64 generation vs float32 blocked oracle)."""
    sr, dur, freqs, amps, _ = synth.synth_params(42, i, 200, 2000)
    decoded = synth.synth_pcm(sr, dur, freqs, amps)
    s = synth.oracle_snr(42, i, decoded, 200, 2000)
    assert s >= 40.0


@SMALL
@given(i=st.integers(0, 10_000))
def test_blocked_oracle_rejects_wrong_length(i):
    sr, dur, freqs, amps, _ = synth.synth_params(42, i, 200, 2000)
    decoded = synth.synth_pcm(sr, dur, freqs, amps)
    truncated = decoded[: max(1, int(len(decoded) * 0.9))]
    assert synth.oracle_snr(42, i, truncated, 200, 2000) == float("-inf")


# ---------------------------------------------------------------------------
# Decomposable metric merge (partition rows -> global row)
# ---------------------------------------------------------------------------

@SMALL
@given(
    values=st.lists(st.integers(0, 10**6), min_size=1, max_size=40),
    split=st.integers(1, 7),
    op=st.sampled_from(["sum", "min", "max"]),
)
def test_merge_rows_decomposes(values, split, op):
    """Folding per-partition rows must equal computing over all rows at once —
    the invariant that makes checkpoint/resume exact."""
    chunks = [values[i::split] for i in range(split) if values[i::split]]
    agg = {"sum": sum, "min": min, "max": max}[op]
    rows = [{"m": agg(c)} for c in chunks]
    merged = _merge_rows(rows, {"m": op})
    assert merged["m"] == agg(values)


@SMALL
@given(values=st.lists(st.one_of(st.none(), st.integers(0, 100)), min_size=1, max_size=20))
def test_merge_rows_ignores_nulls(values):
    rows = [{"m": v} for v in values]
    merged = _merge_rows(rows, {"m": "sum"})
    present = [v for v in values if v is not None]
    assert merged["m"] == (sum(present) if present else None)


STATE_OPS = {"n": "sum", "lo": "min", "hi": "max", "day": "max", "sk": "union"}
STATE_CAP = 3
_samples = st.lists(st.tuples(st.text(alphabet="abcde", min_size=1, max_size=3),
                              st.sampled_from(["x", "y"])), max_size=5)
_stamps = st.datetimes(dt.datetime(2000, 1, 1), dt.datetime(2030, 1, 1))


@st.composite
def _partition_states(draw):
    """(partition key, ScanState) pairs shaped like one chunk's scan output:
    capped samples sorted by clip_id, one HLL sketch per partition."""
    out = []
    for i in range(draw(st.integers(1, 6))):
        pid = f"p{i}"

        def capped(samples):
            return sorted({(c, o, pid) for c, o in samples})[:STATE_CAP]

        out.append((pid, ScanState(
            metrics={"n": draw(st.one_of(st.none(), st.integers(0, 10**6))),
                     "lo": draw(_stamps), "hi": draw(_stamps),
                     "day": draw(_stamps).date(), "sk": draw(st.binary(min_size=1, max_size=8))},
            audio={"__audio__rows": draw(st.integers(0, 50)),
                   "__audio__violations": draw(st.integers(0, 50))},
            audio_vio=capped(draw(_samples)),
            fh={"rms_dbfs": draw(st.dictionaries(st.integers(0, 4), st.integers(1, 9)))},
            fq=draw(st.dictionaries(st.integers(0, 2), st.integers(1, 9))),
            fv={li: capped(draw(_samples)) for li in range(draw(st.integers(0, 2)))},
        )))
    return out


@SMALL
@given(states=_partition_states(), data=st.data())
def test_scan_state_merge_is_chunking_free(states, data):
    """Folding partition states chunk by chunk, each partition round-tripped
    through its manifest record JSON, equals the one-chunk fold: the
    invariant that makes a plain run, a checkpointed run and a resumed run
    report the same thing."""
    def fold(parts):
        return functools.reduce(
            lambda a, b: a.merge(b, STATE_OPS, STATE_CAP), parts, ScanState())

    def roundtrip(pid, state):
        rec = json.loads(json.dumps({"partition_id": pid, **state.to_record()}))
        return ScanState.from_record(rec)

    chunk_of = data.draw(st.lists(st.integers(0, 3), min_size=len(states),
                                  max_size=len(states)))
    one = fold([s for _, s in states])
    chunked = fold([
        fold([roundtrip(pid, s) for (pid, s), c in zip(states, chunk_of) if c == k])
        for k in range(4)])
    assert chunked == one

    metrics = [s.metrics for _, s in states]
    present = [m["n"] for m in metrics if m["n"] is not None]
    assert one.metrics["n"] == (sum(present) if present else None)
    assert one.metrics["lo"] == min(m["lo"] for m in metrics)
    assert one.metrics["day"] == max(m["day"] for m in metrics)
    sketches = sorted(m["sk"] for m in metrics)
    assert one.metrics["sk"] == (sketches if len(sketches) > 1 else sketches[0])
    assert one.audio_vio == sorted(v for _, s in states for v in s.audio_vio)[:STATE_CAP]
    assert one.fq == {li: sum(s.fq.get(li, 0) for _, s in states)
                      for li in {li for _, s in states for li in s.fq}}


# ---------------------------------------------------------------------------
# Threshold evaluator (8 mustBe* forms; parity: data_contract_checks.py:517-544)
# ---------------------------------------------------------------------------

FORMS = [
    ("mustBe", lambda m, v: m == v),
    ("mustNotBe", lambda m, v: m != v),
    ("mustBeGreaterThan", lambda m, v: m > v),
    ("mustBeGreaterThanOrEqualTo", lambda m, v: m >= v),
    ("mustBeLessThan", lambda m, v: m < v),
    ("mustBeLessThanOrEqualTo", lambda m, v: m <= v),
]


@SMALL
@given(
    form=st.sampled_from(FORMS),
    v=st.integers(-100, 100),
    metric=st.integers(-100, 100),
)
def test_threshold_scalar_forms(form, v, metric):
    name, predicate = form
    q = Quality(type="sql", query="SELECT 1", **{name: v})
    ev, _desc = to_threshold_evaluator(q, "q")
    result, _ = ev(float(metric), {})
    expected = ResultEnum.passed if predicate(metric, v) else ResultEnum.failed
    assert result == expected


@SMALL
@given(
    lo=st.integers(-50, 50), width=st.integers(0, 60), metric=st.integers(-100, 150),
    between=st.booleans(),
)
def test_threshold_between_forms(lo, width, metric, between):
    hi = lo + width
    key = "mustBeBetween" if between else "mustNotBeBetween"
    q = Quality(type="sql", query="SELECT 1", **{key: [lo, hi]})
    ev, _ = to_threshold_evaluator(q, "q")
    result, _ = ev(float(metric), {})
    inside = lo <= metric <= hi
    expected = ResultEnum.passed if (inside == between) else ResultEnum.failed
    assert result == expected


def test_threshold_none_metric_errors():
    q = Quality(type="sql", query="SELECT 1", mustBe=1)
    ev, _ = to_threshold_evaluator(q, "q")
    assert ev(None, {})[0] == ResultEnum.error


# ---------------------------------------------------------------------------
# period parsing (parity: data_contract_checks.py:674-712)
# ---------------------------------------------------------------------------

@SMALL
@given(n=st.integers(1, 10_000))
def test_period_simple_units(n):
    assert period_to_seconds(f"{n}d") == n * 86400
    assert period_to_seconds(f"{n}h") == n * 3600
    assert period_to_seconds(f"{n}m") == n * 60


def test_period_iso8601_equivalences():
    assert period_to_seconds("P1D") == period_to_seconds("24h")
    assert period_to_seconds("PT24H") == period_to_seconds("1d")
    assert period_to_seconds("P1DT12H") == 36 * 3600


def test_ivf_learned_centroids_improve_recall(spark):
    """k-means||-trained IVF centroids recover at least as many true top-k
    neighbors as the deterministic random quantizer at equal nprobe (the
    production-path claim in simsearch.ivf_train_centroids)."""
    from dcspark import simsearch

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    probes = list(range(10))

    truth = {
        (r["qid"], r["vec_id"])
        for r in simsearch.cosine_topk(emb, probes, k=5).collect()
    }

    def recall(centroids):
        got = {
            (r["qid"], r["vec_id"])
            for r in simsearch.ivf_topk(
                emb, probes, dim=dim, k=5, n_cells=8, nprobe=2,
                centroids=centroids).collect()
        }
        return len(got & truth) / len(truth)

    learned = simsearch.ivf_train_centroids(emb, n_cells=8, seed=42)
    assert len(learned) == 8 and len(learned[0]) == dim
    r_learned = recall(learned)
    r_random = recall(None)
    assert r_learned >= r_random
    # the synthetic embeddings are nearly unclustered, so nprobe/n_cells = 1/4
    # of the corpus bounds expected recall; require comfortably above chance
    assert r_learned >= 0.3
