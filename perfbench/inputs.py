"""Seeded benchmark inputs and the outputs they must produce.

Every input is a pure function of (workload, seed, size). Tables are
written as part_id-partitioned parquet with pyarrow, outside Spark, so
input generation warms neither the JVM nor the Python workers and stays
out of every timed region. A generated directory is cached under the
checkout's ``.perfbench/inputs`` and reused for the same key.

The expected outputs are derived here from the fault plan and the
planted copies alone, never from a run of the engine:

* ``expected_violations`` -- the multiset of (rule_id, clip_id,
  column_name, part_id) a correct validation of the table emits;
* ``expected_drift`` -- the drift rule ids of the current table against
  the baseline snapshot;
* ``planted_*`` -- the copy pairs each curator must report at score 1.
"""

from __future__ import annotations

import math
import os
import shutil
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mds_provider_spark import schema as S
from mds_provider_spark.functions import audio
from mds_provider_spark.operators.stats import DEFAULT_PROBS
from mds_provider_spark.sources import fixtures as FX

SR_CHOICES = [8000, 16000]
DUR_CHOICES = [80, 120, 160, 200]
N_PARTS = 32

CLIPS_ARROW = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
    ("part_id", pa.int32()),
])
TRANSCRIPTS_ARROW = pa.schema([
    ("clip_id", pa.string()), ("transcript_ref", pa.string()), ("part_id", pa.int32()),
])


@dataclass(frozen=True)
class ValidateSpec:
    """Shape of a validation table: ``fault_share`` of the rows carry one
    fault each, spread evenly over ``kinds``."""

    n_rows: int
    fault_share: float
    kinds: tuple[str, ...]
    n_missing: int
    n_orphans: int


@dataclass(frozen=True)
class CurateSpec:
    n_clips: int
    n_docs: int
    n_vecs: int
    n_planted: int
    dim: int = 64


# ------------------------------------------------------------ fault plan


def fault_plan(spec: ValidateSpec, seed: int) -> tuple[dict[int, str], set[int]]:
    """(row -> fault kind, rows whose transcript is missing).

    Faults and missing transcripts sit on odd rows only, so the row before
    each of them is clean: a ``dup_clip_id`` row copies a clean id, and no
    two faults touch the same or neighbouring rows."""
    rng = np.random.default_rng([seed, 1])
    odd = np.arange(1, spec.n_rows, 2)
    n_faults = max(len(spec.kinds), int(round(spec.fault_share * spec.n_rows)))
    if n_faults + spec.n_missing > odd.size:
        raise ValueError("fault plan does not fit the table")
    rows = rng.choice(odd, size=n_faults + spec.n_missing, replace=False)
    faults = {int(r): spec.kinds[k % len(spec.kinds)]
              for k, r in enumerate(rows[:n_faults])}
    return faults, {int(r) for r in rows[n_faults:]}


def _orphan_id(seed: int, n_rows: int, k: int) -> str:
    """Same id scheme as ``fixtures.generate_transcripts`` orphans."""
    return FX.clip_id_at(seed, n_rows + k + 10_000_000)


def _clip_row(seed: int, i: int, fault: str | None) -> tuple:
    """One clip row; the fault mutations follow ``sources/fixtures.py``."""
    cid: str | None = FX.clip_id_at(seed, i)
    sr = FX.sr_hz_at(seed, i, SR_CHOICES)
    dur = FX.dur_ms_at(seed, i, DUR_CHOICES)
    codec = FX.codec_at(seed, i)
    txt: str | None = FX.transcript_at(seed, i)
    if fault == "null_clip_id":
        cid = None
    elif fault == "bad_uuid":
        cid = f"not-a-uuid-{i}"
    elif fault == "dup_clip_id":
        cid = FX.clip_id_at(seed, i - 1)
    elif fault == "bad_sr":
        sr = 11025
    elif fault == "zero_dur":
        dur = 0
    elif fault == "neg_dur":
        dur = -5
    elif fault == "bad_codec":
        codec = "xyz"
    elif fault == "null_transcript":
        txt = None
    elif fault == "empty_transcript":
        txt = "   "
    elif fault == "wrong_transcript":
        txt = txt + " corrupted"
    wave = FX.ref_waveform(cid or f"row-{i}", max(sr, 1), max(dur, 1))
    if fault == "bad_pcm":
        rng = np.random.default_rng([seed, i, 2])
        wave = (wave + 0.5 * rng.standard_normal(wave.size)).astype(np.float32)
    buf = None if fault == "null_bytes" else audio.ENCODERS.get(
        codec, audio.encode_pcm_s16le)(wave)
    return cid, buf, sr, dur, codec, txt, FX.part_id_of(cid, N_PARTS)


def _write_partitioned(rows: list[tuple], schema: pa.Schema, path: str) -> None:
    cols = list(zip(*rows)) if rows else [[] for _ in schema]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema)
    pq.write_to_dataset(table, path, partition_cols=["part_id"])


# ---------------------------------------------------- validate: outputs


def expected_violations(spec: ValidateSpec, seed: int, pcm: bool) -> Counter:
    """Violation multiset of a correct ValidationRun over the table.

    Keys are (rule_id, clip_id, column_name, part_id). ``pcm`` says
    whether the PCM/SNR stage ran; it alone reports ``bad_pcm`` and a
    NULL ``bytes`` column."""
    faults, missing = fault_plan(spec, seed)
    out: Counter = Counter()

    def add(kind, col, cid, part):
        out[(S.rule_id(kind, col), cid, col, part)] += 1

    def part(cid):
        return FX.part_id_of(cid, N_PARTS)

    orphan = S.rule_id(S.REFERENTIAL_ORPHAN, "clip_id")
    for i, kind in faults.items():
        cid = FX.clip_id_at(seed, i)
        if kind == "null_clip_id":
            add(S.MISSING_FIELD, "clip_id", None, 0)
            out[(orphan, None, "clips", 0)] += 1
        elif kind == "bad_uuid":
            bad = f"not-a-uuid-{i}"
            add(S.BAD_FORMAT, "clip_id", bad, part(bad))
            out[(orphan, bad, "clips", part(bad))] += 1
        elif kind == "dup_clip_id":
            prev = FX.clip_id_at(seed, i - 1)
            add(S.DUPLICATE_ID, "clip_id", prev, part(prev))
            add(S.DUPLICATE_ID, "clip_id", prev, part(prev))
            # the copy joins the previous row's reference transcript
            if FX.transcript_at(seed, i) != FX.transcript_at(seed, i - 1):
                add(S.TRANSCRIPT_MISMATCH, "transcript", prev, part(prev))
        elif kind == "bad_sr":
            add(S.BAD_ENUM, "sr_hz", cid, part(cid))
        elif kind in ("zero_dur", "neg_dur"):
            add(S.OUT_OF_RANGE, "dur_ms", cid, part(cid))
        elif kind == "bad_codec":
            add(S.BAD_ENUM, "codec", cid, part(cid))
        elif kind == "null_transcript":
            add(S.MISSING_FIELD, "transcript", cid, part(cid))
        elif kind == "empty_transcript":
            add(S.EMPTY_TEXT, "transcript", cid, part(cid))
            add(S.TRANSCRIPT_MISMATCH, "transcript", cid, part(cid))
        elif kind == "wrong_transcript":
            add(S.TRANSCRIPT_MISMATCH, "transcript", cid, part(cid))
        elif kind == "bad_pcm" and pcm:
            add(S.BAD_PCM, "bytes", cid, part(cid))
        elif kind == "null_bytes" and pcm:
            add(S.MISSING_FIELD, "bytes", cid, part(cid))
        if kind in ("null_clip_id", "bad_uuid", "dup_clip_id"):
            # the row's own id left the clips table; its transcript remains
            out[(orphan, cid, "transcripts", part(cid))] += 1
    for i in missing:
        cid = FX.clip_id_at(seed, i)
        out[(orphan, cid, "clips", part(cid))] += 1
    for k in range(spec.n_orphans):
        cid = _orphan_id(seed, spec.n_rows, k)
        out[(orphan, cid, "transcripts", part(cid))] += 1
    return out


def expected_clean_rows(spec: ValidateSpec, seed: int, pcm: bool) -> int:
    """Rows of the clean copy: a non-NULL id that no violation names."""
    faults, _ = fault_plan(spec, seed)
    named = {cid for (_, cid, _, _) in expected_violations(spec, seed, pcm)}
    n = 0
    for i in range(spec.n_rows):
        cid = _clip_row_id(seed, i, faults.get(i))
        n += cid is not None and cid not in named
    return n


def _clip_row_id(seed: int, i: int, fault: str | None) -> str | None:
    if fault == "null_clip_id":
        return None
    if fault == "bad_uuid":
        return f"not-a-uuid-{i}"
    if fault == "dup_clip_id":
        return FX.clip_id_at(seed, i - 1)
    return FX.clip_id_at(seed, i)


# ------------------------------------------------------ validate: drift

DRIFT_COLS = ("sr_hz", "dur_ms")
# operators.drift.drift_violations defaults
_Q_REL, _NULL_ABS, _DISTINCT_REL = 0.25, 0.05, 0.5


def column_profile(values: list[int]) -> dict:
    """Exact form of ``stats.profile`` for a NULL-free integer column:
    below the sketch's 10000-sample accuracy ``percentile_approx`` returns
    the ``ceil(p*n)``-th smallest value, and HLL counts a handful of
    distinct values exactly."""
    v = np.sort(np.asarray(values, dtype=np.float64))
    n = v.size
    return {
        "quantiles": [float(v[max(math.ceil(p * n), 1) - 1]) for p in DEFAULT_PROBS],
        "null_rate": 0.0,
        "approx_distinct": int(np.unique(v).size),
        "min_val": float(v[0]),
        "max_val": float(v[-1]),
    }


def table_profile(spec: ValidateSpec, seed: int, faulty: bool) -> dict[str, dict]:
    faults = fault_plan(spec, seed)[0] if faulty else {}
    sr, dur = [], []
    for i in range(spec.n_rows):
        f = faults.get(i)
        sr.append(11025 if f == "bad_sr" else FX.sr_hz_at(seed, i, SR_CHOICES))
        dur.append({"zero_dur": 0, "neg_dur": -5}.get(
            f, FX.dur_ms_at(seed, i, DUR_CHOICES)))
    return {"sr_hz": column_profile(sr), "dur_ms": column_profile(dur)}


def baseline_rows(spec: ValidateSpec, seed: int) -> list[tuple]:
    """SNAPSHOT_SCHEMA rows of a clean table generated from another seed."""
    prof = table_profile(spec, seed + 1_000_003, faulty=False)
    return [("baseline", c, p["quantiles"], p["null_rate"], p["approx_distinct"],
             p["min_val"], p["max_val"]) for c, p in prof.items()]


def expected_drift(spec: ValidateSpec, seed: int) -> set[str]:
    """Drift rule ids, by the thresholds of ``drift_violations``."""
    base = {r[1]: r for r in baseline_rows(spec, seed)}
    cur = table_profile(spec, seed, faulty=True)
    out = set()
    for col, p in cur.items():
        _, _, q_base, nr_base, d_base, lo, hi = base[col]
        span = max(hi - lo, 1e-12)
        q_shift = max(abs(c - b) / span for c, b in zip(p["quantiles"], q_base))
        d_shift = abs(p["approx_distinct"] - d_base) / max(d_base, 1)
        if (q_shift > _Q_REL or abs(p["null_rate"] - nr_base) > _NULL_ABS
                or d_shift > _DISTINCT_REL):
            out.add(f"{S.DRIFT}:{col}")
    return out


# ------------------------------------------------------------- writers


def _cached(root: str, key: str, build) -> str:
    """``root/key`` built once by ``build(tmp_dir)``; a rename publishes it."""
    final = os.path.join(root, key)
    if os.path.isfile(os.path.join(final, "_DONE")):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(final, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write("ok\n")
    os.replace(tmp, final)
    return final


def validate_inputs(cache_root: str, name: str, spec: ValidateSpec, seed: int) -> str:
    """Directory holding ``clips/`` and ``transcripts/`` for the seed."""
    def build(d: str) -> None:
        faults, missing = fault_plan(spec, seed)
        clips = [_clip_row(seed, i, faults.get(i)) for i in range(spec.n_rows)]
        _write_partitioned(clips, CLIPS_ARROW, os.path.join(d, "clips"))
        trans = []
        for i in range(spec.n_rows):
            if i not in missing:
                cid = FX.clip_id_at(seed, i)
                trans.append((cid, FX.transcript_at(seed, i), FX.part_id_of(cid, N_PARTS)))
        for k in range(spec.n_orphans):
            cid = _orphan_id(seed, spec.n_rows, k)
            trans.append((cid, FX.transcript_at(seed, spec.n_rows + k),
                          FX.part_id_of(cid, N_PARTS)))
        _write_partitioned(trans, TRANSCRIPTS_ARROW, os.path.join(d, "transcripts"))

    return _cached(cache_root, f"{name}-s{seed}-n{spec.n_rows}", build)


# --------------------------------------------------------------- curate

_VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "index shard join page cache plan node task stage frame clip audio text"
).split()


def planted(n: int, n_planted: int, seed: int, salt: int) -> list[tuple[int, int]]:
    """(source row, copy row) pairs: distinct seed-chosen sources, copies
    appended after the ``n`` original rows."""
    rng = np.random.default_rng([seed, salt])
    src = rng.choice(n, size=n_planted, replace=False)
    return [(int(s), n + k) for k, s in enumerate(src)]


def curate_inputs(cache_root: str, spec: CurateSpec, seed: int) -> str:
    """``clips/`` (part_id-partitioned), ``docs.parquet`` and
    ``vecs.parquet``; each ends with its planted exact copies."""
    def build(d: str) -> None:
        clips = [_clip_row(seed, i, None) for i in range(spec.n_clips)]
        for s, c in planted(spec.n_clips, spec.n_planted, seed, 10):
            cid = FX.clip_id_at(seed, c)
            clips.append((cid,) + clips[s][1:6] + (FX.part_id_of(cid, N_PARTS),))
        _write_partitioned(clips, CLIPS_ARROW, os.path.join(d, "clips"))

        rng = np.random.default_rng([seed, 11])
        texts = [" ".join(rng.choice(_VOCAB, size=int(rng.integers(12, 60))))
                 for _ in range(spec.n_docs)]
        texts += [texts[s] for s, _ in planted(spec.n_docs, spec.n_planted, seed, 12)]
        pq.write_table(pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()),
                                 "text": pa.array(texts, pa.string())}),
                       os.path.join(d, "docs.parquet"))

        rng = np.random.default_rng([seed, 13])
        m = rng.standard_normal((spec.n_vecs, spec.dim)).astype(np.float32)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        src = [s for s, _ in planted(spec.n_vecs, spec.n_planted, seed, 14)]
        m = np.concatenate([m, m[src]])
        pq.write_table(pa.table({
            "vec_id": pa.array(range(len(m)), pa.int64()),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
        }), os.path.join(d, "vecs.parquet"))

    key = (f"curate-s{seed}-c{spec.n_clips}-d{spec.n_docs}-v{spec.n_vecs}"
           f"-p{spec.n_planted}")
    return _cached(cache_root, key, build)


def planted_clip_pairs(spec: CurateSpec, seed: int) -> set[tuple[str, str]]:
    out = set()
    for s, c in planted(spec.n_clips, spec.n_planted, seed, 10):
        a, b = FX.clip_id_at(seed, s), FX.clip_id_at(seed, c)
        out.add((min(a, b), max(a, b)))
    return out


def planted_doc_pairs(spec: CurateSpec, seed: int) -> set[tuple[int, int]]:
    return set(planted(spec.n_docs, spec.n_planted, seed, 12))


def planted_vec_pairs(spec: CurateSpec, seed: int) -> set[tuple[int, int]]:
    return set(planted(spec.n_vecs, spec.n_planted, seed, 14))
