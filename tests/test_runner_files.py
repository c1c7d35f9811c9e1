"""File-sliced PCM strategy in the runner must be output-identical to the
row-based strategy (same checkpointed run, same violations), and both to
the Validator facade over the same input."""

from mds_provider_spark.api import Validator
from mds_provider_spark.plans.runner import ValidationRun
from mds_provider_spark.sources import fixtures as FX

N = 800
PARTS = 8


def test_files_strategy_matches_rows(spark, tmp_path):
    faults = FX.default_fault_plan(N)
    clips = FX.generate_clips(spark, N, n_parts=PARTS, seed=42, faults=faults)
    ts = FX.generate_transcripts(spark, N, n_parts=PARTS, seed=42)
    clips_path = str(tmp_path / "clips")
    clips.repartition("part_id").write.mode("overwrite").partitionBy("part_id").parquet(clips_path)
    stored = spark.read.parquet(clips_path)

    rows_run = ValidationRun(
        spark, str(tmp_path / "rows"), ref_wave_fn=FX.ref_waveform,
        n_parts=PARTS, group_size=4, pcm_strategy="rows",
    )
    rows_run.run(stored, ts)

    files_run = ValidationRun(
        spark, str(tmp_path / "files"), ref_wave_fn=FX.ref_waveform,
        n_parts=PARTS, group_size=4, pcm_strategy="files", clips_path=clips_path,
    )
    files_run.run(stored, ts)

    facade = Validator.clips(ref_wave_fn=FX.ref_waveform).validate(stored, ts)

    key = lambda t: tuple("" if x is None else str(x) for x in t)
    a = sorted(map(tuple, rows_run.violations().collect()), key=key)
    b = sorted(map(tuple, files_run.violations().collect()), key=key)
    c = sorted(map(tuple, facade.violations.collect()), key=key)
    assert a == b == c and len(a) > 0

    cols = ["part_id", "status", "n_rows", "n_violations"]
    va = sorted(map(tuple, rows_run.verdicts().select(cols).collect()))
    vb = sorted(map(tuple, files_run.verdicts().select(cols).collect()))
    vc = sorted(map(tuple, facade.verdicts.select(cols).collect()))
    assert va == vb == vc
