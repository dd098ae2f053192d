"""Workload definitions: seeded inputs, contracts, engine config and oracle.

Each workload's inputs are generated from ``--seed`` and cached as parquet
under ``.bench_data/inputs``; the engine only ever receives the loaded
tables. Expectations come from DuckDB over the same parquet files, never from
the engine's compiler.
"""

from __future__ import annotations

import copy
import glob
import os
import shutil
from dataclasses import dataclass, field
from typing import Any, Dict, List, Optional, Tuple

import yaml

from harness import ROOT, WORK, require_free_disk

INPUTS = os.path.join(WORK, "inputs")
#: generated inputs kept across runs; older seeds are evicted beyond this
CACHE_BYTES = 4 << 30
DUR_LO, DUR_HI = 200, 2000
COMPACT_SR = (8000,)


@dataclass(frozen=True)
class Workload:
    name: str
    contract: str                 # path relative to the repo root
    fact: str                     # the checked fact model
    parent: str                   # the model its references point at
    rows: int                     # default fact-table size
    checks: int                   # compiled check count, counted by hand
    bytes_per_row: int            # generous on-disk estimate for the disk check
    payload: bool                 # has a `bytes` column the audio layers decode
    # rules the oracle cannot count but whose failure the inputs plant
    planted_failures: Tuple[str, ...] = ()
    corrupt: Dict[str, float] = field(default_factory=dict)
    orphan_frac: float = 0.0
    compact: bool = False
    partition_col: Optional[str] = None


WORKLOADS: Dict[str, Workload] = {w.name: w for w in (
    Workload("audio_pass", "contracts/audio_clips.yaml", "audio_clips",
             "transcripts_ref", rows=6000, checks=42, bytes_per_row=70_000,
             payload=True),
    Workload("audio_skew_fail", "contracts/audio_clips_compact.yaml",
             "audio_clips", "transcripts_ref", rows=6000, checks=42,
             bytes_per_row=12_000, payload=True, compact=True,
             planted_failures=("audio_clips__audio_decode_conformance",),
             corrupt={"dup_clip_id": 0.10, "wrong_transcript": 0.01,
                      "garbled_pcm": 0.005},
             orphan_frac=0.01),
    Workload("tabular_ckpt", "perfbench/contracts/orders_ckpt.yaml", "orders",
             "customers", rows=50_000, checks=34, bytes_per_row=64,
             payload=False, partition_col="region"),
)}


# -- inputs -------------------------------------------------------------------

def input_dir(wl: Workload, seed: int, rows: int) -> str:
    return os.path.join(INPUTS, f"{wl.name}_s{seed}_n{rows}_v1")


def cached(wl: Workload, seed: int, rows: int) -> bool:
    return os.path.exists(os.path.join(input_dir(wl, seed, rows), "_DONE"))


def generate(wl: Workload, seed: int, rows: int, procs: int) -> None:
    """Write the workload's tables; ``_DONE`` marks a complete cache entry."""
    out = input_dir(wl, seed, rows)
    shutil.rmtree(out, ignore_errors=True)
    need = int(wl.bytes_per_row * rows * 1.5)
    _evict(CACHE_BYTES - need)
    require_free_disk(need + (512 << 20))
    os.makedirs(out)
    if wl.payload:
        _generate_audio(wl, seed, rows, out, procs)
    else:
        _generate_orders(wl, seed, rows, out)
    open(os.path.join(out, "_DONE"), "w").close()


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


def _evict(budget: int) -> None:
    """Delete the oldest cached inputs until the rest fit in ``budget``."""
    if not os.path.isdir(INPUTS):
        return
    entries = sorted((os.path.getmtime(p), p) for p in
                     (os.path.join(INPUTS, n) for n in os.listdir(INPUTS)))
    sizes = {p: _du(p) for _, p in entries}
    total = sum(sizes.values())
    for _, path in entries:
        if total <= budget:
            break
        shutil.rmtree(path, ignore_errors=True)
        total -= sizes[path]


class _RangeCapture:
    """Stands in for ``spark.range(...).mapInPandas(fn, schema)`` so the
    ``dcspark.synth`` generators hand back their per-batch row function,
    which then runs in plain worker processes: rows are byte-identical to
    the Spark path without paying a JVM start per seed."""

    def range(self, *_args, **_kw):
        return self

    def mapInPandas(self, fn, schema):
        return fn


def _audio_kw(wl: Workload) -> Dict[str, Any]:
    return {"sr_enum": COMPACT_SR, "force_codec": "pcm_u8"} if wl.compact else {}


def _write_pandas(pdf, ddl_types: Dict[str, Any], path: str, **kw) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(list(ddl_types.items()))
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                   path, **kw)


def _audio_chunk(job: Tuple[str, int, int, int, str]) -> None:
    """Generate clips [lo, hi) of one workload into one parquet file."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from dcspark import synth

    name, seed, lo, hi, path = job
    wl = WORKLOADS[name]
    gen = synth.generate_audio_table(
        _RangeCapture(), hi, seed=seed, corrupt=wl.corrupt, dur_lo=DUR_LO,
        dur_hi=DUR_HI, **_audio_kw(wl))
    pdf = next(gen(iter([pd.DataFrame({"id": np.arange(lo, hi)})])))
    _write_pandas(pdf, {"clip_id": pa.string(), "bytes": pa.binary(),
                        "sr_hz": pa.int32(), "dur_ms": pa.int32(),
                        "codec": pa.string(), "transcript": pa.string()},
                  path, compression="none")


def _generate_audio(wl: Workload, seed: int, rows: int, out: str,
                    procs: int) -> None:
    import concurrent.futures as cf
    import multiprocessing as mp

    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from dcspark import synth

    files = 8
    os.makedirs(os.path.join(out, wl.fact))
    bounds = np.linspace(0, rows, files + 1).astype(int)
    jobs = [(wl.name, seed, int(lo), int(hi),
             os.path.join(out, wl.fact, f"part-{k:05d}.parquet"))
            for k, (lo, hi) in enumerate(zip(bounds, bounds[1:])) if hi > lo]
    with cf.ProcessPoolExecutor(max_workers=procs,
                                mp_context=mp.get_context("spawn")) as ex:
        list(ex.map(_audio_chunk, jobs))
    gen = synth.generate_transcripts_ref(_RangeCapture(), rows, seed=seed,
                                         orphan_frac=wl.orphan_frac)
    pdf = next(gen(iter([pd.DataFrame({"id": np.arange(rows)})])))
    os.makedirs(os.path.join(out, wl.parent))
    _write_pandas(pdf, {"clip_id": pa.string(), "text": pa.string()},
                  os.path.join(out, wl.parent, "part-00000.parquet"))


ORDER_STATUS = ["PLACED", "SHIPPED", "DELIVERED", "CANCELLED"]
REGIONS = ["r0", "r1", "r2", "r3", "r4", "r5", "r6", "r7"]
TIERS = ["gold", "silver", "bronze"]


def _generate_orders(wl: Workload, seed: int, rows: int, out: str) -> None:
    """Narrow orders + customers tables with a few planted violations."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 7])
    n_cust = max(10, rows // 10)
    order_id = np.arange(rows, dtype=np.int64)
    customer_id = rng.integers(0, n_cust, rows, dtype=np.int64)
    status = np.array(ORDER_STATUS, dtype=object)[rng.integers(0, 3, rows)]
    amount = np.round(rng.lognormal(4.0, 1.0, rows).clip(0, 9000), 2)
    sku = np.array([f"SKU-{v:06d}" for v in rng.integers(0, 10**6, rows)],
                   dtype=object)
    region = np.array(REGIONS, dtype=object)[rng.integers(0, len(REGIONS), rows)]

    k = max(1, rows // 20_000)  # planted rows per rule
    picks = rng.choice(np.arange(1, rows), size=7 * k, replace=False).reshape(7, k)
    status[picks[0]] = None                       # required
    status[picks[1]] = "LOST"                     # enum
    amount[picks[2]] = -1.0                       # minimum
    sku[picks[3]] = "sku-bad"                     # pattern
    order_id[picks[4]] = picks[4] - 1             # unique: k duplicated keys
    customer_id[picks[5]] = n_cust + picks[5]     # reference: k orphans
    status[picks[6]], amount[picks[6]] = "CANCELLED", 9500.0  # sql rule

    orders = pa.table({
        "order_id": order_id, "customer_id": customer_id,
        "status": pa.array(status, pa.string()), "amount": amount,
        "sku": pa.array(sku, pa.string()), "region": pa.array(region, pa.string()),
    })
    ds.write_dataset(orders, os.path.join(out, wl.fact), format="parquet",
                     partitioning=ds.partitioning(
                         pa.schema([("region", pa.string())]), flavor="hive"))
    os.makedirs(os.path.join(out, wl.parent))
    pq.write_table(pa.table({
        "customer_id": np.arange(n_cust, dtype=np.int64),
        "tier": pa.array(np.array(TIERS, dtype=object)[
            rng.integers(0, len(TIERS), n_cust)], pa.string()),
    }), os.path.join(out, wl.parent, "part-0.parquet"))


def load_tables(spark, wl: Workload, seed: int, rows: int):
    base = input_dir(wl, seed, rows)
    return {m: spark.read.parquet(os.path.join(base, m))
            for m in (wl.fact, wl.parent)}


# -- contracts ------------------------------------------------------------------

def contract_text(wl: Workload) -> str:
    with open(os.path.join(ROOT, wl.contract), encoding="utf-8") as f:
        return f.read()


#: rules that run as their own Spark jobs beside the shared scan
DEDICATED_FIELD_KEYS = ("unique", "references")
DEDICATED_QUALITY = ("sql",)
DEDICATED_INVARIANTS = ("transcript-equality",)


def _dedicated_rule(q: dict) -> bool:
    return (q.get("type") in DEDICATED_QUALITY
            or q.get("invariant") in DEDICATED_INVARIANTS)


def split_contract(text: str) -> Tuple[str, str]:
    """(shared-scan-only, dedicated-only) sub-contracts of one contract.

    Schema presence/type checks are driver-side and stay in both."""
    doc = yaml.safe_load(text)
    fused, dedicated = copy.deepcopy(doc), copy.deepcopy(doc)
    for model in fused["models"].values():
        for f in model.get("fields", {}).values():
            for k in DEDICATED_FIELD_KEYS + ("primaryKey",):
                f.pop(k, None)
        model["quality"] = [q for q in model.get("quality", [])
                            if not _dedicated_rule(q)]
    for model in dedicated["models"].values():
        for name, f in model.get("fields", {}).items():
            model["fields"][name] = {k: v for k, v in f.items()
                                     if k == "type" or k in DEDICATED_FIELD_KEYS}
        model["quality"] = [q for q in model.get("quality", [])
                            if _dedicated_rule(q)]
    return yaml.safe_dump(fused), yaml.safe_dump(dedicated)


# -- engine config ----------------------------------------------------------------

def snr_fn(wl: Workload, seed: int):
    """The SNR oracle, built from the same seed and rate enum as the data."""
    from dcspark import audio as audio_mod

    return audio_mod.synth_snr_oracle(
        seed, DUR_LO, DUR_HI, sr_enum=COMPACT_SR if wl.compact else None)


def drift_columns(wl: Workload) -> List[str]:
    return ["dur_ms", "sr_hz"] if wl.payload else ["amount"]


# -- independent oracle ---------------------------------------------------------------

def _glob(base: str, model: str) -> str:
    return os.path.join(base, model, "**", "*.parquet")


def oracle(wl: Workload, seed: int, rows: int) -> Dict[str, float]:
    """check key -> expected metric, computed by DuckDB over the parquet."""
    import duckdb

    base = input_dir(wl, seed, rows)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        fact = f"read_parquet('{_glob(base, wl.fact)}', hive_partitioning=true)"
        parent = f"read_parquet('{_glob(base, wl.parent)}')"
        con.execute(f"CREATE VIEW f AS SELECT * FROM {fact}")
        con.execute(f"CREATE VIEW p AS SELECT * FROM {parent}")
        q = _AUDIO_SQL if wl.payload else _ORDERS_SQL
        if wl.payload:
            codec = "pcm_u8" if wl.compact else "pcm_s16le"
            q = {k: v.replace("{codec}", codec) for k, v in q.items()}
        return {k: float(con.execute(sql).fetchone()[0]) for k, sql in q.items()}
    finally:
        con.close()


def _nulls(model: str, table: str, cols) -> Dict[str, str]:
    return {f"{model}__{c}__field_required":
            f"SELECT count(*) FROM {table} WHERE {c} IS NULL" for c in cols}


def _dups(key: str, table: str, col: str) -> Dict[str, str]:
    return {key: f"SELECT count(*) FROM (SELECT {col} FROM {table} WHERE {col} "
                 f"IS NOT NULL GROUP BY {col} HAVING count(*) > 1)"}


_AUDIO_SQL: Dict[str, str] = {
    **_nulls("audio_clips", "f",
             ["clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript"]),
    **_dups("audio_clips__clip_id__field_unique", "f", "clip_id"),
    "audio_clips__clip_id__field_regex":
        "SELECT count(*) FROM f WHERE NOT regexp_matches(clip_id, '^clip-[0-9]{12}$')",
    "audio_clips__clip_id__field_reference":
        "SELECT count(*) FROM f WHERE clip_id IS NOT NULL AND clip_id NOT IN "
        "(SELECT clip_id FROM p WHERE clip_id IS NOT NULL)",
    "audio_clips__sr_hz__field_enum":
        "SELECT count(*) FROM f WHERE sr_hz NOT IN (8000, 16000, 22050, 44100, 48000)",
    "audio_clips__dur_ms__field_minimum": "SELECT count(*) FROM f WHERE dur_ms < 200",
    "audio_clips__dur_ms__field_maximum": "SELECT count(*) FROM f WHERE dur_ms > 30000",
    "audio_clips__codec__field_enum":
        "SELECT count(*) FROM f WHERE codec NOT IN ('{codec}')",
    "audio_clips__transcript__field_min_length":
        "SELECT count(*) FROM f WHERE length(transcript) < 1",
    "audio_clips__transcript__field_max_length":
        "SELECT count(*) FROM f WHERE length(transcript) > 4096",
    "audio_clips__transcript__transcript_equality":
        "SELECT count(*) FROM f JOIN p USING (clip_id) "
        "WHERE f.transcript IS DISTINCT FROM p.text",
    "audio_clips__quality_sql_7": "SELECT count(*) FROM f",
    **_nulls("transcripts_ref", "p", ["clip_id", "text"]),
    **_dups("transcripts_ref__clip_id__field_unique", "p", "clip_id"),
}

_ORDERS_SQL: Dict[str, str] = {
    **_nulls("orders", "f",
             ["order_id", "customer_id", "status", "amount", "sku", "region"]),
    **_dups("orders__order_id__field_unique", "f", "order_id"),
    "orders__customer_id__field_reference":
        "SELECT count(*) FROM f WHERE customer_id IS NOT NULL AND customer_id "
        "NOT IN (SELECT customer_id FROM p WHERE customer_id IS NOT NULL)",
    "orders__status__field_enum":
        "SELECT count(*) FROM f WHERE status NOT IN "
        "('PLACED', 'SHIPPED', 'DELIVERED', 'CANCELLED')",
    "orders__amount__field_minimum": "SELECT count(*) FROM f WHERE amount < 0",
    "orders__amount__field_maximum": "SELECT count(*) FROM f WHERE amount > 10000",
    "orders__sku__field_regex":
        "SELECT count(*) FROM f WHERE NOT regexp_matches(sku, '^SKU-[0-9]{6}$')",
    "orders__quality_sql_1":
        "SELECT count(*) FROM f WHERE status = 'CANCELLED' AND amount > 9000",
    **_nulls("customers", "p", ["customer_id", "tier"]),
    **_dups("customers__customer_id__field_unique", "p", "customer_id"),
    "customers__tier__field_enum":
        "SELECT count(*) FROM p WHERE tier NOT IN ('gold', 'silver', 'bronze')",
}

#: checks whose metric is a row count the contract wants > 0, not a violation
_POSITIVE_METRICS = {"audio_clips__quality_sql_7"}


def expected_failures(wl: Workload, expect: Dict[str, float]) -> set:
    bad = {k for k, v in expect.items() if v > 0 and k not in _POSITIVE_METRICS}
    return bad | set(wl.planted_failures)


def violation_rows_expected(expect: Dict[str, float], cap: int) -> Dict[str, int]:
    """Written violation rows per check key the oracle can count (scalar SQL
    checks write none)."""
    return {k: int(min(v, cap)) for k, v in expect.items()
            if v > 0 and k not in _POSITIVE_METRICS and "__quality_sql_" not in k}


def parquet_bytes(wl: Workload, seed: int, rows: int) -> int:
    base = os.path.join(input_dir(wl, seed, rows), wl.fact)
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(base, "**", "*.parquet"), recursive=True))
