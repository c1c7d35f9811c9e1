"""The benchmark's workloads: seeded inputs, one pass, and its output check.

A pass goes through the program's public entry points only:

* ``validate`` -- ``ValidationRun.run`` over a telephony clip table and
  its transcripts: PCM/SNR check over files, a dense fault plan, the
  clean copy on, one commit group of all 32 part_ids. In a traced run,
  one more ``run()`` over the committed directory, with a baseline
  snapshot, is the no-op resume: the commit-log scan plus the drift pass.
* ``curate`` -- the three banded-LSH near-duplicate curators
  (``audio.fingerprint_clips`` + ``audio.fingerprint_near_dup``,
  ``dedup.minhash_lsh_dedup``, ``similarity.embedding_near_duplicates``)
  over seeded corpora with planted exact copies, run at once from three
  threads (one after another in a traced run).
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.dataset as ds

from mds_provider_spark import schema as S
from mds_provider_spark.functions import audio
from mds_provider_spark.operators import dedup, similarity
from mds_provider_spark.plans.checkpoint import CommitLog
from mds_provider_spark.plans.runner import ValidationRun
from mds_provider_spark.sources import fixtures as FX

from perfbench import inputs as I
from perfbench.proc import tree_cpu_s


@dataclass
class PassResult:
    wall_s: float
    rows: int
    ok: bool
    error: str = ""
    tag: str = ""
    t_start: float = 0.0  # epoch seconds bounding the timed region
    t_end: float = 0.0
    cpu_s: float = 0.0  # CPU seconds of the process tree in the timed region
    group_s: list[float] = field(default_factory=list)
    noop_s: float | None = None


class Workload:
    """A workload at its measured size (``SPEC``)."""

    name: str
    SPEC: object
    # The traced run's warm-up input. The first pass in a fresh JVM pays
    # class loading, code generation, JIT and Python worker start, which
    # depend on the query shapes and hardly on the input size, so a small
    # input warms up almost as much as the full one, for less time.
    WARM_SPEC: object

    def __init__(self, cache: str, seed: int, spec=None):
        self.cache = cache
        self.seed = seed
        self.spec = spec or self.SPEC
        # The traced run sets this: a pass then makes one call at a time, so
        # that each Spark execution falls inside the span of one call.
        self.sequential = False

    def warm_up(self, spark) -> None:
        warm = type(self)(self.cache, self.seed, self.WARM_SPEC)
        warm.sequential = self.sequential
        warm.run_pass(spark, "warm", check=False, noop=True)


class Validate(Workload):
    name = "validate"
    SPEC = I.ValidateSpec(n_rows=2000, fault_share=0.05, kinds=tuple(FX.FAULT_KINDS),
                          n_missing=4, n_orphans=8)
    WARM_SPEC = I.ValidateSpec(n_rows=256, fault_share=0.05, kinds=tuple(FX.FAULT_KINDS),
                               n_missing=1, n_orphans=2)
    group_size = 32  # part_ids per commit group: one group per run

    def __init__(self, cache: str, seed: int, spec=None):
        super().__init__(cache, seed, spec)
        self.dir = I.validate_inputs(os.path.join(cache, "inputs"), self.name,
                                     self.spec, seed)
        self.clips_dir = os.path.join(self.dir, "clips")
        self.expected = I.expected_violations(self.spec, seed, pcm=True)
        self.expected_clean = I.expected_clean_rows(self.spec, seed, pcm=True)
        self.expected_drift = I.expected_drift(self.spec, seed)
        self.n_groups = I.N_PARTS // self.group_size

    def _frames(self, spark):
        clips = spark.read.schema(S.CLIPS_SCHEMA).parquet(self.clips_dir)
        trans = spark.read.schema(S.TRANSCRIPTS_SCHEMA).parquet(
            os.path.join(self.dir, "transcripts"))
        return clips, trans

    def _runner(self, spark, out: str, base=None) -> ValidationRun:
        return ValidationRun(
            spark, out, n_parts=I.N_PARTS, group_size=self.group_size,
            ref_wave_fn=FX.ref_waveform, ref_wave_batch_fn=FX.ref_waveform_batch,
            pcm_strategy="files", clips_path=self.clips_dir,
            emit_clean=True, baseline_snapshot=base)

    def _out(self, tag: str) -> str:
        out = os.path.join(self.cache, "runs", f"{self.name}-{tag}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def run_pass(self, spark, tag: str, check: bool = True,
                 noop: bool = False) -> PassResult:
        """One ``run()`` over a fresh directory; with ``noop``, one more
        over the committed directory with the baseline snapshot, which
        adds the drift pass (not in the pass's wall time)."""
        out = self._out(tag)
        c0, e0, t0 = tree_cpu_s(), time.time(), time.perf_counter()
        clips, trans = self._frames(spark)
        summaries = [self._runner(spark, out).run(clips, trans)]
        wall, e1, cpu = time.perf_counter() - t0, time.time(), tree_cpu_s() - c0
        res = PassResult(wall, summaries[0]["rows"], True, tag=tag, t_start=e0, t_end=e1,
                         cpu_s=cpu, group_s=group_times(out, e0))
        if noop:
            t1 = time.perf_counter()
            base = spark.createDataFrame(I.baseline_rows(self.spec, self.seed),
                                         S.SNAPSHOT_SCHEMA)
            summaries.append(self._runner(spark, out, base).run(clips, trans))
            res.noop_s = time.perf_counter() - t1
        try:
            if check:
                self.check(out, summaries)
        except AssertionError as exc:
            res.ok, res.error = False, str(exc)
        shutil.rmtree(out, ignore_errors=True)
        return res

    def check(self, out: str, summaries: list[dict]) -> None:
        """Compare the committed output with the fault plan's. Reads the
        parquet files directly, so the check adds no Spark job."""
        log = CommitLog(out)
        got = Counter((r["rule_id"], r["clip_id"], r["column_name"], r["part_id"])
                      for r in _rows(log.path("violations")))
        check_violations(got, self.expected)
        per_part = Counter()
        for (_, _, _, p), k in self.expected.items():
            per_part[p] += k
        verdicts = _rows(log.path("verdicts"))
        _require(sum(v["n_rows"] for v in verdicts) == self.spec.n_rows,
                 "verdict rows do not add up to the table")
        for v in verdicts:
            bad = per_part[v["part_id"]]
            _require(v["n_violations"] == bad and v["status"] == ("fail" if bad else "pass"),
                     f"verdict of part {v['part_id']} is wrong")
        clean = len(_rows(log.path("clean"), ["clip_id"]))
        _require(clean == self.expected_clean,
                 f"clean copy has {clean} rows, expected {self.expected_clean}")
        if len(summaries) > 1:
            drift = {r["rule_id"] for r in _rows(log.path("drift"), ["rule_id"])}
            _require(drift == self.expected_drift, f"drift findings {sorted(drift)}")
        runs = [(s["groups_run"], s["groups_skipped"]) for s in summaries]
        _require(runs == [(self.n_groups, 0), (0, self.n_groups)][:len(runs)],
                 f"group counts per run {runs}")
        _require(sorted(log.committed_groups()) == list(range(self.n_groups)),
                 "not every group committed")


def _rows(path: str, columns: list[str] | None = None) -> list[dict]:
    """Rows of a parquet directory Spark wrote, part_id dirs included."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns).to_pylist()


def check_violations(got: Counter, expected: Counter) -> None:
    missing, extra = expected - got, got - expected
    _require(not missing and not extra,
             f"violations differ: missing {sorted(missing.items(), key=str)[:5]} "
             f"extra {sorted(extra.items(), key=str)[:5]}")


def group_times(out: str, start: float) -> list[float]:
    """Seconds from a group's start to its commit marker, for a directory
    one run committed: a group starts where the previous one committed,
    the first at the run's start (epoch seconds)."""
    stamps = sorted(m["committed_unix"] for m in CommitLog(out).committed_groups().values())
    return [t - prev for prev, t in zip([start] + stamps, stamps)]


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise AssertionError(msg)


class Curate(Workload):
    name = "curate"
    SPEC = I.CurateSpec(n_clips=600, n_docs=1200, n_vecs=600, n_planted=16)
    WARM_SPEC = I.CurateSpec(n_clips=200, n_docs=400, n_vecs=200, n_planted=4)
    # thresholds the curators are called with (their defaults)
    max_ber_bp, jaccard, cosine = 3500, 0.8, 0.95

    def __init__(self, cache: str, seed: int, spec=None):
        super().__init__(cache, seed, spec)
        self.dir = I.curate_inputs(os.path.join(cache, "inputs"), self.spec, seed)
        self.rows = (self.spec.n_clips + self.spec.n_docs + self.spec.n_vecs
                     + 3 * self.spec.n_planted)
        self.want_clips = I.planted_clip_pairs(self.spec, seed)
        self.want_docs = I.planted_doc_pairs(self.spec, seed)
        self.want_vecs = I.planted_vec_pairs(self.spec, seed)

    def _frames(self, spark):
        return (spark.read.schema(S.CLIPS_SCHEMA).parquet(os.path.join(self.dir, "clips")),
                spark.read.parquet(os.path.join(self.dir, "docs.parquet")),
                spark.read.parquet(os.path.join(self.dir, "vecs.parquet")))

    def _curate(self, spark):
        """The three curators' results. They are independent jobs, and one
        of them alone keeps about one core busy, so they run at once, each
        from its own thread, unless the pass is sequential."""
        clips, docs, vecs = self._frames(spark)
        calls = (
            lambda: audio.fingerprint_near_dup(audio.fingerprint_clips(clips)).collect(),
            lambda: dedup.minhash_lsh_dedup(docs, "doc_id", "text").collect(),
            lambda: similarity.embedding_near_duplicates(vecs, dim=self.spec.dim).collect(),
        )
        if self.sequential:
            return [call() for call in calls]
        with ThreadPoolExecutor(len(calls)) as pool:
            return [f.result() for f in [pool.submit(call) for call in calls]]

    def run_pass(self, spark, tag: str, check: bool = True,
                 noop: bool = False) -> PassResult:
        c0, e0, t0 = tree_cpu_s(), time.time(), time.perf_counter()
        fp, dd, sim = self._curate(spark)
        wall, e1, cpu = time.perf_counter() - t0, time.time(), tree_cpu_s() - c0
        # the curators persist intermediate frames and leave them cached
        spark.catalog.clearCache()
        res = PassResult(wall, self.rows, True, tag=tag, t_start=e0, t_end=e1, cpu_s=cpu)
        try:
            if check:
                self.check(fp, dd, sim)
        except AssertionError as exc:
            res.ok, res.error = False, str(exc)
        return res

    def check(self, fp, dd, sim) -> None:
        for r in fp:
            _require(r.id_a < r.id_b and
                     r.bits_differ * 10000 <= self.max_ber_bp * r.bits_compared,
                     f"fingerprint pair above the bit-error bound: {r}")
        exact = {(r.id_a, r.id_b) for r in fp if r.bits_differ == 0}
        _require(self.want_clips <= exact, "planted clip copies not found")
        _require(all(r.id_a < r.id_b and r.jaccard >= self.jaccard for r in dd),
                 "document pair below the Jaccard threshold")
        _require(self.want_docs <= {(r.id_a, r.id_b) for r in dd if r.jaccard == 1.0},
                 "planted document copies not found")
        _require(all(r.id_a < r.id_b and r.cosine_sim >= self.cosine for r in sim),
                 "vector pair below the cosine threshold")
        _require(self.want_vecs <= {(r.id_a, r.id_b) for r in sim if r.cosine_sim == 1.0},
                 "planted vector copies not found")


WORKLOADS = {w.name: w for w in (Validate, Curate)}
