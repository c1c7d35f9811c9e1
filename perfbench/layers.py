"""The traced run: spans around the program's layers, Spark's SQL metrics
inside them, and the per-layer metrics built from both.

Spans come from wrappers installed from outside the program (see
``install``): ``ValidationRun.run``, the ``CommitLog`` methods the runner
calls, the curators' public entry points, and the pyspark actions
``DataFrameWriter.parquet``, ``DataFrame.collect`` and ``DataFrame.count``.
Every SQL execution is attributed to the innermost span that was open
when it ran. A counter goes to a layer only where the plan makes the
owner plain (a node type and shape only that layer's operator produces);
everything else stays at span level, under ``spark.<span>.*``.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import sys
import time

from perfbench.sqlmetrics import Execution, Node, SqlMetrics
from perfbench.tracing import Span, Tracer, innermost, self_times

# Curator entry points -> the layer their returned frame belongs to.
CURATORS = {
    ("functions.audio", "fingerprint_clips"): "functions.audio",
    ("functions.audio", "fingerprint_near_dup"): "functions.audio",
    ("operators.dedup", "minhash_lsh_dedup"): "operators.dedup",
    ("operators.similarity", "embedding_near_duplicates"): "operators.similarity",
}
_TAG = "_perfbench_layer"

RUNNER_WRITES = ("violations", "verdicts", "clean", "metrics")
SPARK_METRICS = {
    "scan_bytes": ("size of files read", ("Scan parquet",)),
    "scan_s": ("scan time", ("Scan parquet",)),
    "shuffle_write_bytes": ("shuffle bytes written", ("Exchange",)),
    "shuffle_write_s": ("shuffle write time", ("Exchange",)),
    "spill_bytes": ("spill size", None),
}
SPAN_GROUPS = ("runner.violations_job", "runner.verdicts_job", "runner.clean_job",
               "runner.metrics_write", "runner.readback", "drift",
               "audio.fingerprint", "dedup", "similarity")

_UNIQ_AGG = re.compile(r"keys=\[clip_id#\d+\], functions=\[(partial_)?count\(1\)\]")
_PAIR_DISTINCT = re.compile(r"keys=\[id_a#\d+L?, id_b#\d+L?\], functions=\[\]")


def _dataframe_class():
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pyspark before 4.0
        from pyspark.sql import DataFrame
    return DataFrame


def install(tracer: Tracer) -> None:
    """Wrap the program's layer boundaries and the pyspark actions."""
    import importlib

    from pyspark.sql import DataFrameWriter

    from mds_provider_spark.plans.checkpoint import CommitLog
    from mds_provider_spark.plans.runner import ValidationRun

    df_cls = _dataframe_class()

    def keep(key):
        return lambda span, out: span.attrs.update({key: out})

    tracer.wrap(ValidationRun, "run", "plans.runner.run", on_result=keep("summary"))
    for m in ("clear_parts", "committed_parts", "commit_group"):
        tracer.wrap(CommitLog, m, f"plans.checkpoint.{m}")

    def tag(layer):
        def on_result(span, out):
            setattr(out, _TAG, layer)
        return on_result

    for (mod, fn), layer in CURATORS.items():
        module = importlib.import_module(f"mds_provider_spark.{mod}")
        tracer.wrap(module, fn, f"{mod}.{fn}", attrs=lambda *a, _l=layer, **k: {"layer": _l},
                    on_result=tag(layer))

    def rows(span, out):
        span.attrs["rows"] = len(out) if isinstance(out, list) else int(out)

    def frame_layer(self, *args, **kwargs):
        layer = getattr(self, _TAG, None)
        return {"layer": layer} if layer else {}

    for kind in ("collect", "count"):
        tracer.wrap(df_cls, kind, f"spark.{kind}", attrs=frame_layer, on_result=rows)
    tracer.wrap(DataFrameWriter, "parquet", "spark.write",
                attrs=lambda self, path, *a, **k: {
                    "path": os.path.basename(os.path.normpath(path))})


# ------------------------------------------------------------ attribution


class Trace:
    """Spans of the traced passes joined with the executions inside them."""

    def __init__(self, spans: list[Span], execs: list[Execution], sm: SqlMetrics):
        self.spans = spans
        self.sm = sm
        self.by_sid = {s.sid: s for s in spans}
        self.execs: dict[int, list[Execution]] = {}
        for e in execs:
            s = innermost(spans, (e.start + e.end) / 2)
            if s is not None:
                self.execs.setdefault(s.sid, []).append(e)

    def parent_name(self, s: Span) -> str | None:
        return self.by_sid[s.parent].name if s.parent is not None else None

    def in_runner(self, s: Span) -> bool:
        return self.parent_name(s) == "plans.runner.run"

    def writes(self, path: str) -> list[Span]:
        return [s for s in self.spans if s.name == "spark.write"
                and s.attrs.get("path") == path and self.in_runner(s)]

    def layer(self, layer: str) -> list[Span]:
        return [s for s in self.spans if s.attrs.get("layer") == layer]

    def group(self, name: str) -> list[Span]:
        if name.startswith("runner.") and name.endswith("_job"):
            return self.writes(name[len("runner."):-len("_job")])
        if name == "runner.metrics_write":
            return self.writes("metrics")
        if name == "runner.readback":
            return [s for s in self.spans if s.name == "spark.collect" and self.in_runner(s)]
        if name == "drift":
            return ([s for s in self.spans if s.name == "spark.count" and self.in_runner(s)]
                    + self.writes("drift") + self.writes("snapshot"))
        return self.layer({"audio.fingerprint": "functions.audio",
                           "dedup": "operators.dedup",
                           "similarity": "operators.similarity"}[name])

    def executions(self, spans: list[Span]) -> list[Execution]:
        return [e for s in spans for e in self.execs.get(s.sid, [])]


def _dur(spans: list[Span]) -> float:
    return sum(s.dur for s in spans)


def _sum(execs: list[Execution], metric: str, pick) -> float:
    return sum(e.total(metric, [n for n in e.nodes.values() if pick(n)]) for e in execs)


def _named(*names):
    return lambda n: n.name.strip() in names


def _is_join(n: Node) -> bool:
    return n.name.endswith("Join")


def _rule_explode(n: Node) -> bool:
    """The explode of the rule projection's hit array."""
    return n.name == "Generate" and "explode(_hits" in n.desc


def _uniq_agg(n: Node) -> bool:
    """uniqueness.duplicate_keys: count(1) grouped by clip_id."""
    return n.name == "HashAggregate" and bool(_UNIQ_AGG.search(n.desc))


def _ref_join(n: Node) -> bool:
    """referential: the full-outer orphan join and the inner transcript
    join (the violations job has no other full-outer or inner join)."""
    return _is_join(n) and (", FullOuter" in n.desc or ", Inner" in n.desc)


def _pair_distinct(n: Node) -> bool:
    """The distinct over (id_a, id_b) candidate pairs of an LSH core."""
    return n.name == "HashAggregate" and bool(_PAIR_DISTINCT.search(n.desc))


def _bucket_join(n: Node) -> bool:
    """The SRP-LSH self-join on (table, bucket)."""
    return _is_join(n) and "[table#" in n.desc and "bucket#" in n.desc


def _codegen(n: Node) -> bool:
    return n.name.startswith("WholeStageCodegen")


def exchanges_below(e: Execution, start: Node) -> list[Node]:
    """Exchange nodes that feed ``start``, without passing another one."""
    out, todo, seen = [], [start.nid], set()
    while todo:
        for p in e.producers(todo.pop()):
            if p.nid in seen:
                continue
            seen.add(p.nid)
            if p.name == "Exchange":
                out.append(p)
            else:
                todo.append(p.nid)
    return out


def _pick_nodes(execs: list[Execution], pick) -> list[tuple[Execution, list[Node]]]:
    return [(e, [n for n in e.nodes.values() if pick(n)]) for e in execs]


def _shuffle_into(execs: list[Execution], pick) -> float:
    total = 0.0
    for e, nodes in _pick_nodes(execs, pick):
        exch = {x.nid: x for n in nodes for x in exchanges_below(e, n)}
        total += e.total("shuffle bytes written", exch.values())
    return total


def _min_rows(execs: list[Execution], pick) -> float:
    """Output rows of the final aggregate among ``pick``: the partial
    aggregates of the same distinct never emit fewer."""
    rows = [n.metrics["number of output rows"] for _, nodes in _pick_nodes(execs, pick)
            for n in nodes if "number of output rows" in n.metrics]
    return min(rows, default=0.0)


def _rows(spans: list[Span]) -> int:
    return sum(s.attrs.get("rows", 0) for s in spans if s.name == "spark.collect")


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def outside_groups(t: Trace) -> float:
    """Run time outside the commit groups: before the first group (the
    commit-log scan) and after the last commit (the drift pass)."""
    total = 0.0
    for run in (s for s in t.spans if s.name == "plans.runner.run"):
        kids = sorted((s for s in t.spans if s.parent == run.sid), key=lambda s: s.start)
        commits = [s for s in kids if s.name == "plans.checkpoint.commit_group"]
        if not commits:
            total += run.dur
        else:
            total += (kids[0].end - run.start) + (run.end - commits[-1].end)
    return total


def tail(samples: list[float]) -> tuple[float, int, int]:
    """(value, percentile, sample count) for the highest whole percentile
    with at least ten samples beyond it; the minimum below 11 samples."""
    n = len(samples)
    if n == 0:
        return 0.0, 0, 0
    pct = max(0, math.floor(100 * (n - 10) / n)) if n > 10 else 0
    xs = sorted(samples)
    return xs[max(math.ceil(pct / 100 * n), 1) - 1], pct, n


def per_layer(t: Trace, n_passes: int, untraced: list, all_passes: list) -> dict:
    """Per-layer metrics, per traced pass (sums divided by ``n_passes``)."""
    sm = t.sm
    viol = t.executions(t.writes("violations"))
    pcm = _named("MapInPandas")
    fp_spans, dd_spans, sim_spans = (t.layer("functions.audio"), t.layer("operators.dedup"),
                                     t.layer("operators.similarity"))
    fp, dd, sim = t.executions(fp_spans), t.executions(dd_spans), t.executions(sim_spans)
    runner_writes = t.executions([s for p in RUNNER_WRITES for s in t.writes(p)])
    insert = _named("Execute InsertIntoHadoopFsRelationCommand")
    rule_clusters = {n.cluster for e in viol for n in e.nodes.values() if _rule_explode(n)}
    summaries = [s.attrs["summary"] for s in t.spans
                 if s.name == "plans.runner.run" and "summary" in s.attrs]

    def ckpt(method: str) -> float:
        return _dur([s for s in t.spans if s.name == f"plans.checkpoint.{method}"])

    out = {
        "plans.runner.violations_job_s": _dur(t.writes("violations")),
        "plans.runner.verdicts_job_s": _dur(t.writes("verdicts")),
        "plans.runner.clean_job_s": _dur(t.writes("clean")),
        "plans.runner.readback_s": _dur(t.group("runner.readback")),
        "plans.runner.metrics_write_s": _dur(t.writes("metrics")),
        "plans.runner.outside_groups_s": outside_groups(t),
        "plans.runner.bytes_written": _sum(runner_writes, "written output", insert),
        "plans.runner.files_written": _sum(runner_writes, "number of written files", insert),
        "plans.checkpoint.clear_parts_s": ckpt("clear_parts"),
        "plans.checkpoint.commit_s": ckpt("commit_group"),
        "plans.checkpoint.committed_parts_s": ckpt("committed_parts"),
        "plans.checkpoint.groups_skipped": sum(s["groups_skipped"] for s in summaries),
        "functions.audio.pcm_python_s": _sum(viol, "time to run Python workers", pcm),
        "functions.audio.pcm_bytes_to_python": _sum(viol, "data sent to Python workers", pcm),
        "functions.audio.pcm_rows": _sum(viol, "number of output rows", pcm),
        "functions.audio.python_boot_s": _sum(viol + fp, "time to start Python workers", pcm),
        "functions.audio.python_init_s": _sum(viol + fp, "time to initialize Python workers",
                                              pcm),
        "functions.audio.fp_extract_s": _sum(fp, "time to run Python workers", pcm),
        "functions.audio.fp_python_s": (
            _sum(fp, "time to start Python workers", pcm)
            + _sum(fp, "time to initialize Python workers", pcm)),
        "functions.audio.fp_bytes_to_python": _sum(fp, "data sent to Python workers", pcm),
        "functions.audio.fp_pairing_s": _sum(fp, "duration", _codegen),
        "functions.audio.fp_candidates": _min_rows(fp, _pair_distinct),
        "functions.audio.fp_pairs": _rows(fp_spans),
        "rules.codegen_s": sum(e.total("duration", [e.nodes[c] for c in rule_clusters
                                                    if c in e.nodes]) for e in viol),
        "rules.violation_rows": _sum(viol, "number of output rows", _rule_explode),
        "operators.uniqueness.shuffle_bytes": _shuffle_into(viol, _uniq_agg),
        "operators.uniqueness.agg_s": _sum(viol, "time in aggregation build", _uniq_agg),
        "operators.uniqueness.spill_bytes": _sum(viol, "spill size", _uniq_agg),
        "operators.referential.shuffle_bytes": _shuffle_into(viol, _ref_join),
        "operators.referential.join_rows": _sum(viol, "number of output rows", _ref_join),
        "operators.drift.snapshot_s": _dur(t.group("drift")),
        "operators.dedup.s": _dur(dd_spans),
        "operators.dedup.candidates": _min_rows(dd, _pair_distinct),
        "operators.dedup.pairs": _rows(dd_spans),
        "operators.dedup.shuffle_bytes": _sum(dd, "shuffle bytes written", _named("Exchange")),
        "operators.similarity.s": _dur(sim_spans),
        "operators.similarity.candidates": _sum(sim, "number of output rows", _bucket_join),
        "operators.similarity.pairs": _rows(sim_spans),
        "operators.similarity.sign_python_s": _sum(sim, "time to run Python workers",
                                                   _named("ArrowEvalPython")),
    }
    out = {k: v / n_passes for k, v in out.items()}
    for prefix in ("functions.audio.fp_", "operators.dedup.", "operators.similarity."):
        out[prefix + "verify_ratio"] = _ratio(out[prefix + "pairs"], out[prefix + "candidates"])
    for g in SPAN_GROUPS:
        ex = t.executions(t.group(g))
        for name, (metric, nodes) in SPARK_METRICS.items():
            pick = _named(*nodes) if nodes else (lambda n: True)
            out[f"spark.{g}.{name}"] = _sum(ex, metric, pick) / n_passes
        out[f"spark.{g}.jobs"] = sum(len(e.job_ids) for e in ex) / n_passes
        out[f"spark.{g}.tasks"] = sum(sm.tasks(e.job_ids) for e in ex) / n_passes
    good = [r for r in untraced if r.ok]
    out["plans.runner.group_commit_s_p50"] = statistics.median(
        [g for r in good for g in r.group_s] or [0.0])
    (out["plans.runner.group_s_tail"], out["plans.runner.group_s_tail_pct"],
     out["plans.runner.group_s_tail_n"]) = tail([g for r in all_passes for g in r.group_s])
    out["plans.checkpoint.noop_resume_s"] = statistics.median(
        [r.noop_s for r in good if r.noop_s is not None] or [0.0])
    return out


def coverage(spans: list[Span], r) -> float:
    """Share of a pass's timed wall time that its spans' self times cover."""
    st = self_times(spans)
    inside = [s for s in spans if s.start >= r.t_start and s.end <= r.t_end]
    return sum(st[s.sid] for s in inside) / max(r.t_end - r.t_start, 1e-9)


def _median_rate(results: list) -> float:
    return statistics.median([r.rows / r.wall_s for r in results if r.ok] or [0.0])


def traced_run(workload, spark, seconds: float, cache: str, closed_loop) -> tuple[dict, list]:
    """A warm-up pass, untraced passes for half of ``seconds``, then
    traced ones for the other half, so that every measured pass runs in a
    warm JVM. Every pass is sequential, because a span is attributed the
    executions that ran while it was the innermost one open. Returns
    (per-layer metrics, every measured pass result)."""
    workload.warm_up(spark)
    workload.sequential = True
    untraced: list = []
    closed_loop(workload, spark, seconds / 2, "u", untraced, noop=True)
    sm = SqlMetrics(spark)
    first = sm.last_id()
    tracer = Tracer()
    traced: list = []
    install(tracer)
    try:
        closed_loop(workload, spark, seconds / 2, "t", traced, tracer=tracer, noop=True)
    finally:
        tracer.restore()
    trace = Trace(tracer.spans, sm.executions(first), sm)
    passes = [r for r in traced if r.ok] or traced
    out = per_layer(trace, max(len(passes), 1), untraced, untraced + traced)
    out["bench.span_coverage"] = min(
        (coverage([s for s in tracer.spans if s.pass_id == r.tag], r) for r in traced),
        default=0.0)
    if abs(out["bench.span_coverage"] - 1.0) > 0.1:
        print(f"span self times cover {out['bench.span_coverage']:.3f} of a traced pass "
              "(expected within 10% of 1): a layer boundary is not traced", file=sys.stderr)
    out["bench.rows_per_s"] = _median_rate(untraced)
    out["bench.trace_overhead"] = _ratio(_median_rate(untraced), _median_rate(traced))
    out["bench.fail_share"] = _ratio(sum(not r.ok for r in untraced + traced),
                                     len(untraced + traced))
    os.makedirs(os.path.join(cache, "traces"), exist_ok=True)
    tracer.dump(os.path.join(cache, "traces",
                             f"{workload.name}-s{workload.seed}-{int(time.time())}.json"))
    return out, untraced + traced
