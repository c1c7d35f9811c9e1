"""Tests of the benchmark's own machinery: expected outputs, output
checks, the SQL-metric reader, the span arithmetic and the memory
reading.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import os
from collections import Counter

import pytest

from perfbench import inputs as I
from perfbench import layers, proc, workloads
from perfbench.sqlmetrics import SqlMetrics, parse_value
from perfbench.tracing import Span, Tracer, covered, self_times

TINY = I.ValidateSpec(n_rows=120, fault_share=0.1, kinds=tuple(I.FX.FAULT_KINDS),
                      n_missing=2, n_orphans=3)


def test_expected_violations_match_validator(spark, tmp_path):
    from mds_provider_spark import schema as S
    from mds_provider_spark.api import Validator

    d = I.validate_inputs(str(tmp_path), "tiny", TINY, seed=7)
    clips = spark.read.schema(S.CLIPS_SCHEMA).parquet(os.path.join(d, "clips"))
    trans = spark.read.schema(S.TRANSCRIPTS_SCHEMA).parquet(os.path.join(d, "transcripts"))
    got = Validator.clips(ref_wave_fn=I.FX.ref_waveform).validate(clips, trans)
    rows = got.violations.select("rule_id", "clip_id", "column_name", "part_id").collect()
    expected = I.expected_violations(TINY, 7, pcm=True)
    assert Counter(tuple(r) for r in rows) == expected
    # every fault kind shows up in the plan and in the expected output
    assert set(I.fault_plan(TINY, 7)[0].values()) == set(I.FX.FAULT_KINDS)
    assert {k[0].split(":")[0] for k in expected} >= {
        "missing_field", "bad_format", "duplicate_id", "bad_enum", "out_of_range",
        "empty_transcript", "transcript_mismatch", "bad_pcm", "referential_orphan"}


def test_tampered_violations_fail_the_check():
    expected = I.expected_violations(TINY, 7, pcm=True)
    workloads.check_violations(Counter(expected), expected)
    dropped = Counter(expected)
    dropped[next(iter(expected))] -= 1
    with pytest.raises(AssertionError, match="missing"):
        workloads.check_violations(+dropped, expected)
    extra = Counter(expected)
    extra[("bad_pcm:bytes", "not-a-clip", "bytes", 0)] += 1
    with pytest.raises(AssertionError, match="extra"):
        workloads.check_violations(extra, expected)


def test_curate_check_needs_every_planted_copy(tmp_path):
    from types import SimpleNamespace as Row

    w = workloads.Curate(str(tmp_path), 3, I.CurateSpec(40, 40, 40, 2))
    fp = [Row(id_a=a, id_b=b, bits_differ=0, bits_compared=64) for a, b in w.want_clips]
    dd = [Row(id_a=a, id_b=b, jaccard=1.0) for a, b in w.want_docs]
    sim = [Row(id_a=a, id_b=b, cosine_sim=1.0) for a, b in w.want_vecs]
    w.check(fp, dd, sim)
    with pytest.raises(AssertionError, match="planted document"):
        w.check(fp, dd[1:], sim)
    with pytest.raises(AssertionError, match="below the cosine"):
        w.check(fp, dd, sim + [Row(id_a=0, id_b=1, cosine_sim=0.5)])
    with pytest.raises(AssertionError, match="bit-error"):
        w.check(fp + [Row(id_a="a", id_b="b", bits_differ=40, bits_compared=64)], dd, sim)


def test_sql_metrics_read_python_boundary_and_shuffle(spark):
    from pyspark.sql import functions as F

    def double(batches):
        for pdf in batches:
            yield pdf.assign(y=pdf.id * 2)

    sm = SqlMetrics(spark)
    first = sm.last_id()
    (spark.range(5000, numPartitions=2).mapInPandas(double, "id long, y long")
     .groupBy((F.col("y") % 7).alias("k")).count().collect())
    [e] = sm.executions(first)
    [py] = [n for n in e.nodes.values() if n.name == "MapInPandas"]
    assert py.metrics["time to run Python workers"] > 0
    assert py.metrics["data sent to Python workers"] > 0
    exchanges = [n for n in e.nodes.values() if n.name == "Exchange"]
    assert e.total("shuffle bytes written", exchanges) > 0
    assert e.job_ids and sm.tasks(e.job_ids) >= 2


@pytest.mark.parametrize("text, value", [
    ("1.5 MiB", 1.5 * 2 ** 20),
    ("984 ms", 0.984),
    ("20,000", 20000.0),
    ("total (min, med, max (stageId: taskId))\n10.0 s (1.0 s, 2.0 s, 3.0 s (stage 1.0: task 3))",
     10.0),
    ("1.4 m", 84.0),
    ("(0, 1, 2 (stage 1.0: task 3))", None),
])
def test_parse_value(text, value):
    assert parse_value(text) == pytest.approx(value) if value else parse_value(text) is None


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, end, parent, "p0")


def test_self_time_of_nested_spans():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 4.0, 0), _span(2, 2.0, 3.0, 1),
             _span(3, 6.0, 9.0, 0), _span(4, 8.5, 9.5, 3)]
    st = self_times(spans)
    assert st == pytest.approx({0: 4.0, 1: 2.0, 2: 1.0, 3: 2.5, 4: 1.0})
    # a child running past its parent only counts inside the parent
    assert st[3] == pytest.approx(3.0 - 0.5)
    assert covered([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)


def test_tracer_nests_spans_and_restores():
    ticks = iter(range(100))

    class Box:
        def outer(self):
            return self.inner() + 1

        def inner(self):
            return 1

    t = Tracer(clock=lambda: float(next(ticks)))
    orig = Box.__dict__["outer"]
    t.wrap(Box, "outer", "outer", on_result=lambda s, out: s.attrs.update(out=out))
    t.wrap(Box, "inner", "inner")
    assert Box().outer() == 2
    outer, inner = t.spans
    assert inner.parent == outer.sid and outer.parent is None
    assert outer.attrs["out"] == 2 and outer.start < inner.start < inner.end < outer.end
    t.restore()
    assert Box.__dict__["outer"] is orig
    Box().outer()
    assert len(t.spans) == 2


def test_tail_percentile():
    assert layers.tail([]) == (0.0, 0, 0)
    assert layers.tail([3.0, 1.0, 2.0]) == (1.0, 0, 3)
    value, pct, n = layers.tail([float(i) for i in range(1, 41)])
    assert (pct, n) == (75, 40) and value == 30.0  # ten samples lie above


def test_tree_cpu_counts_reaped_children():
    import subprocess
    import sys

    from perfbench.proc import tree_cpu_s, tree_pids

    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"],
                   check=True)
    # the child has exited; its CPU time shows in this process's cstime/cutime
    assert tree_cpu_s() - before > 0.05
    assert os.getpid() in tree_pids()


def test_tree_memory_counts_pages_a_forked_child_shares_once():
    buf = b"\x01" * (300 << 20)  # 300 MB, resident
    before = proc.tree_pss_mb()
    r, w = os.pipe()
    pid = os.fork()
    if pid == 0:  # holds the parent's pages until it exits
        os.read(r, 1)
        os._exit(0)
    try:
        during = proc.tree_pss_mb()
    finally:
        os.write(w, b"x")
        os.waitpid(pid, 0)
    assert len(buf) and abs(during - before) < 100
