"""Orchestration: the full validation run, checkpointed and skew-aware.

The 100 TB layout this encodes (and why resume is SOUND per group):
both clips and transcripts are partitioned by ``part_id =
hash(clip_id) % P`` (Iceberg ``bucket(P, clip_id)`` in production;
computed by the fixture generator here). Consequences:

  * duplicate clip_ids ALWAYS share a part_id            -> uniqueness is
    group-local
  * a clip and its transcript row ALWAYS share a part_id -> referential +
    transcript-equality joins are group-local
  * therefore validating part-groups independently and committing each
    group atomically loses nothing — a resumed run skips committed groups
    and every cross-row check still sees all the rows it needs.
    (A declared unique key that ``part_id`` does not derive from is
    checked within each group only.)

What a group validates is ``api.assemble_violations`` over the group's
rows, the same call ``Validator.validate`` makes; the runner only picks
how PCM crosses into Python (``pcm_strategy``).

Per group the input filter is a partition-pruned scan (``part_id IN
(...)`` prunes files/Iceberg manifests), the row-rule pass is one codegen
projection, PCM runs in Arrow batches, and the two joins are co-partition
joins within the group. Hot-codec skew never enters a shuffle key here
(codec is only aggregated in stats, where partial agg + AQE handle it).
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from mds_provider_spark import schema as S
from mds_provider_spark.api import assemble_violations
from mds_provider_spark.functions import audio
from mds_provider_spark.plans.checkpoint import CommitLog
from mds_provider_spark.rules import RuleSet, mds_clip_rules


@dataclass
class ValidationRun:
    spark: SparkSession
    out_dir: str
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    ruleset: RuleSet = field(default_factory=mds_clip_rules)
    ref_wave_fn: audio.RefWaveFn | None = None
    # optional vectorized reference generator (audio.RefWaveBatchFn):
    # short-clip groups get one matrix synthesis + one vectorized SNR
    # (~2.5x below ~256 samples; longer rows stay on the scalar path,
    # which already saturates numpy). Same violations either way.
    ref_wave_batch_fn: "audio.RefWaveBatchFn | None" = None
    min_snr_db: float = 30.0
    n_parts: int = 16
    group_size: int = 4  # part_ids per commit group
    # "rows": generic mapInPandas over the DataFrame (works on any input).
    # "files": Petastorm-style — workers read column-pruned parquet slices
    # directly (requires clips_path, a part_id-partitioned parquet dir);
    # avoids shipping audio bytes over the JVM->Python pipe.
    pcm_strategy: str = "rows"
    clips_path: str | None = None
    # drift detection: a baseline snapshot DataFrame (SNAPSHOT_SCHEMA /
    # operators.drift.snapshot output). When set, run() computes the
    # current snapshot over the listed columns after the per-group loop
    # and writes drift findings to <out>/drift (one tiny broadcast join).
    baseline_snapshot: "DataFrame | None" = None
    drift_cols: tuple[str, ...] = ("sr_hz", "dur_ms")
    # quarantine gate: when True, every group also writes the rows that
    # NO violation touched (row rules, duplicates, referential, PCM) to
    # <out>/clean, inside the same atomic group commit — the validated
    # copy downstream pipelines consume. Identity is required: rows with
    # a NULL clip_id are never clean (they cannot be matched against the
    # cross-row violation set, and any sane ruleset flags them anyway).
    emit_clean: bool = False
    # schema contract: when set (StructType or a DataFrame to copy the
    # schema from), run() raises BEFORE any scan if the input's schema
    # drifted (column added/removed/retyped) — milliseconds instead of a
    # million spurious row violations (operators/diff.schema_drift).
    expected_schema: object | None = None

    def _read(self, path: str, schema) -> DataFrame:
        """Read-back with an EXPLICIT schema: a group with zero violations
        writes an empty parquet dir (no footers), and schema inference
        would fail — with the declared schema an empty dir is just an
        empty DataFrame."""
        return self.spark.read.schema(schema).parquet(path)

    def groups(self) -> list[tuple[int, list[int]]]:
        parts = list(range(self.n_parts))
        return [
            (g, parts[i : i + self.group_size])
            for g, i in enumerate(range(0, len(parts), self.group_size))
        ]

    def _pcm_violations(self, clips: DataFrame, parts: list[int]) -> DataFrame | None:
        """The runner's one validation choice: how PCM crosses into
        Python (``pcm_strategy``). Everything else is assemble_violations."""
        if self.ref_wave_fn is None:
            return None
        rs = self.ruleset
        if self.pcm_strategy == "files":
            if not self.clips_path:
                raise ValueError("pcm_strategy='files' requires clips_path")
            return audio.pcm_violations_over_files(
                self.spark, self.clips_path, self.ref_wave_fn,
                self.min_snr_db, parts=parts,
                ref_wave_batch_fn=self.ref_wave_batch_fn,
                key_col=rs.key_col, part_col=rs.part_col,
            )
        return audio.pcm_violations(
            clips, self.ref_wave_fn, self.min_snr_db,
            key_col=rs.key_col, part_col=rs.part_col,
            ref_wave_batch_fn=self.ref_wave_batch_fn,
        )

    def run(
        self,
        clips: DataFrame,
        transcripts: DataFrame | None = None,
        stop_after_groups: int | None = None,
    ) -> dict:
        """Validate group by group; each group commits atomically.

        ``stop_after_groups`` simulates a kill for the resume test.
        Returns a summary dict (groups run/skipped, rows, violations).
        """
        if self.expected_schema is not None:
            from mds_provider_spark.operators.diff import enforce_schema

            enforce_schema(clips, self.expected_schema)
        log = CommitLog(self.out_dir)
        done_parts = log.committed_parts()
        summary = {"run_id": self.run_id, "groups_run": 0, "groups_skipped": 0,
                   "rows": 0, "violations": 0}
        ran = 0
        for gid, parts in self.groups():
            if set(parts) <= done_parts:
                summary["groups_skipped"] += 1
                continue
            if stop_after_groups is not None and ran >= stop_after_groups:
                break
            t0 = time.monotonic()
            in_group = F.col(self.ruleset.part_col).isin(parts)
            sub = clips.where(in_group)
            sub_t = transcripts.where(in_group) if transcripts is not None else None
            viol = assemble_violations(
                self.ruleset, sub, sub_t, self._pcm_violations(sub, parts)
            )
            # clear the group's partitions first: a crashed attempt may
            # have left rows in a part whose retry writes nothing, and
            # dynamic overwrite would keep them (checkpoint.clear_parts).
            # Zombie-runner guard: re-read the commit log IMMEDIATELY
            # before the destructive clear — a racing runner may have
            # committed this group since done_parts was snapshotted at
            # run() start; clearing a committed group and crashing before
            # the rewrite would leave a valid marker pointing at deleted
            # data (silently skipped on every later resume).
            if set(parts) <= log.committed_parts():
                summary["groups_skipped"] += 1
                continue
            log.clear_parts("violations", parts)
            log.clear_parts("verdicts", parts)
            # one write job for violations (dynamic overwrite = idempotent)
            (viol.repartition("part_id")
                 .write.mode("overwrite").partitionBy("part_id")
                 .parquet(log.path("violations")))
            # verdicts from the materialized violations — no rule re-eval,
            # n_rows via a count-only scan (metadata when bucketed).
            written = self._read(log.path("violations"), S.VIOLATIONS_SCHEMA).where(
                F.col("part_id").isin(parts)
            )
            verd = self.ruleset.verdicts_from_violations(sub, written)
            (verd.repartition("part_id")
                 .write.mode("overwrite").partitionBy("part_id")
                 .parquet(log.path("verdicts")))
            if self.emit_clean:
                # clean = group input minus every clip_id mentioned in the
                # group's MATERIALIZED violations (rule + cross-row alike
                # — `written` is the committed union, so the gate can't
                # drift from what was reported). The violation key set is
                # group-small; AQE broadcasts it when it fits. Inside the
                # commit window: a crash before the marker re-clears and
                # rewrites on resume, same as violations/verdicts.
                log.clear_parts("clean", parts)
                key = self.ruleset.key_col
                bad_keys = (
                    written.select(F.col("clip_id").alias(key))
                    .where(F.col(key).isNotNull()).distinct()
                )
                clean = (
                    sub.where(F.col(key).isNotNull())
                    .join(bad_keys, key, "left_anti")
                )
                (clean.repartition("part_id")
                      .write.mode("overwrite").partitionBy("part_id")
                      .parquet(log.path("clean")))
            stats = {
                r["part_id"]: (r["n_rows"], r["n_violations"])
                for r in self._read(log.path("verdicts"), S.VERDICTS_SCHEMA)
                .where(F.col("part_id").isin(parts))
                .collect()
            }
            elapsed = max(time.monotonic() - t0, 1e-9)
            g_rows = sum(n for n, _ in stats.values())
            g_viol = sum(v for _, v in stats.values())
            rate = g_rows / elapsed
            metrics = self.spark.createDataFrame(
                [
                    (self.run_id, int(p), int(gid), float(rate), int(stats.get(p, (0, 0))[0]))
                    for p in parts
                ],
                S.METRICS_SCHEMA,
            ).withColumn("group_id", F.lit(int(gid)))
            (metrics.coalesce(1)
                    .write.mode("overwrite").partitionBy("group_id")
                    .parquet(log.path("metrics")))
            log.commit_group(gid, parts, self.run_id, batch=gid,
                             extra={"rows": g_rows, "violations": g_viol,
                                    "clips_per_sec": rate})
            ran += 1
            summary["groups_run"] += 1
            summary["rows"] += g_rows
            summary["violations"] += g_viol

        if self.baseline_snapshot is not None:
            # drift pass: one single-pass profile over the table + a
            # broadcast join of two one-row-per-column snapshots; written
            # once per run (not per group — sketches need the full table).
            # Runs even on a pure no-op resume: the caller asked for
            # drift-vs-baseline and the findings are not part of any
            # committed group, so skipping would silently return nothing.
            from mds_provider_spark.operators import drift as DR

            cur = DR.snapshot(clips, list(self.drift_cols), self.run_id)
            findings = DR.drift_violations(cur, self.baseline_snapshot).cache()
            summary["drift_findings"] = findings.count()
            findings.write.mode("overwrite").parquet(log.path("drift"))
            cur.write.mode("overwrite").parquet(log.path("snapshot"))
            findings.unpersist()
        return summary

    # ------------------------------------------------------- read-backs

    def violations(self) -> DataFrame:
        return self._read(CommitLog(self.out_dir).path("violations"), S.VIOLATIONS_SCHEMA)

    def verdicts(self) -> DataFrame:
        return self._read(CommitLog(self.out_dir).path("verdicts"), S.VERDICTS_SCHEMA)

    def metrics(self) -> DataFrame:
        return self._read(CommitLog(self.out_dir).path("metrics"), S.METRICS_SCHEMA)

    def clean(self, schema=None) -> DataFrame:
        """The validated copy (requires ``emit_clean=True`` runs). Pass
        the input schema to make an all-rows-quarantined group (empty
        parquet dir, no footers) readable."""
        p = CommitLog(self.out_dir).path("clean")
        if schema is not None:
            return self._read(p, schema)
        return self.spark.read.parquet(p)
