"""Per-layer metrics of a traced run: spans joined with event-log stats.

Layers are named after the package modules they wrap.  Per-batch and
per-query figures are over the operations of the measured window;
set-up figures are medians over the set-up repetitions.  A layer the
workload never calls reads 0 (the benchmark's tests check that every
layer a workload does call reads more than 0).
"""

from __future__ import annotations

import statistics

from perfbench.tracing import GroupStats, Tracer, span_stats

# name -> unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "session.start_s": "s",
    "engine.init_s": "s",
    "kg.aug_view_s": "s",
    "oracle.densify_s": "s",
    "oracle.num_entities": "count",
    "language.parse_dnf_ms": "ms",
    "language.clauses_per_query": "count",
    "exact.plan_ms": "ms",
    "exact.exec_s": "s",
    "exact.jobs_per_query": "count",
    "exact.stages_per_query": "count",
    "exact.tasks_per_query": "count",
    "exact.shuffle_bytes_per_query": "bytes",
    "exact.answers_per_query": "count",
    "exact_batched.exec_s": "s",
    "exact_batched.tasks": "count",
    "exact_batched.shuffle_bytes": "bytes",
    "exact_batched.rows_examined_per_answer": "ratio",
    "kge.python_s": "s",
    "kge.python_bytes_in": "bytes",
    "kge.python_bytes_out": "bytes",
    "cqd.exec_s": "s",
    "cqd.jobs": "count",
    "cqd.stages": "count",
    "cqd.shuffle_bytes": "bytes",
    "cqd.spill_bytes": "bytes",
    "cqd.kernel_rows_per_beam_row": "ratio",
    "lmpnn.forward_s": "s",
    "lmpnn.score_s": "s",
    "lmpnn.jobs": "count",
    "lmpnn.python_s": "s",
    "lmpnn.deserialize_s": "s",
    "metric.rank_s": "s",
    "metric.shuffle_bytes": "bytes",
    "metric.pairs_per_answer": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "process.peak_rss_mb": "MB",
}

_PY_RUN = ("MapInPandas", "time to run Python workers")
_PY_IN = ("MapInPandas", "data sent to Python workers")
_PY_OUT = ("MapInPandas", "data returned from Python workers")
_ROWS = "number of output rows"


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return float(a) / float(b) if b else 0.0


def _measured(tracer: Tracer, res) -> list:
    """Spans of the measured ops (warm-up and set-up excluded)."""
    return [s for s in tracer.spans if s.run is not None]


def per_layer(res, tracer: Tracer, groups: dict[str, GroupStats]) -> dict[str, tuple[float, str]]:
    spans = _measured(tracer, res)
    ops = [o for o in res.ops if o.error is None]
    n_ops = max(len(ops), 1)

    def sp(layer: str) -> list:
        return [s for s in spans if s.name == layer]

    def stats(*layer_names: str) -> GroupStats:
        return span_stats(groups, [s for s in spans if s.name in layer_names])

    def setup_median(layer: str) -> float:
        return _median([s.seconds for s in tracer.spans if s.name == layer and s.run is None])

    v: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    v["session.start_s"] = _median(res.session_s)
    v["engine.init_s"] = setup_median("engine")
    v["kg.aug_view_s"] = setup_median("kg.aug_view")
    v["oracle.densify_s"] = setup_median("oracle.densify")
    v["oracle.num_entities"] = float(res.extra.get("num_entities", 0))

    lang = sp("language")
    v["language.parse_dnf_ms"] = _median([s.seconds for s in lang]) * 1e3
    v["language.clauses_per_query"] = _ratio(sum(s.counts.get("clauses", 0) for s in lang), len(lang))

    if sp("exact.plan"):
        ex = stats("exact.plan", "exact.exec")
        v["exact.plan_ms"] = _median([s.seconds for s in sp("exact.plan")]) * 1e3
        v["exact.exec_s"] = _median([s.seconds for s in sp("exact.exec")])
        v["exact.jobs_per_query"] = ex.jobs / n_ops
        v["exact.stages_per_query"] = ex.stages / n_ops
        v["exact.tasks_per_query"] = ex.tasks / n_ops
        v["exact.shuffle_bytes_per_query"] = ex.shuffle_write_bytes / n_ops
        v["exact.answers_per_query"] = _ratio(sum(len(o.output) for o in ops), len(ops))

    eb = stats("exact_batched")
    if sp("exact_batched"):
        v["exact_batched.exec_s"] = _median([s.seconds for s in sp("exact_batched")])
        v["exact_batched.tasks"] = eb.tasks / n_ops
        v["exact_batched.shuffle_bytes"] = eb.shuffle_write_bytes / n_ops
        v["exact_batched.rows_examined_per_answer"] = _ratio(
            eb.node("Join", _ROWS), sum(s.counts.get("rows", 0) for s in sp("exact_batched"))
        )

    cq = stats("cqd")
    if sp("cqd"):
        v["kge.python_s"] = cq.node(*_PY_RUN) / 1e3 / n_ops
        v["kge.python_bytes_in"] = cq.node(*_PY_IN) / n_ops
        v["kge.python_bytes_out"] = cq.node(*_PY_OUT) / n_ops
        v["cqd.exec_s"] = _median([s.seconds for s in sp("cqd")])
        v["cqd.jobs"] = cq.jobs / n_ops
        v["cqd.stages"] = cq.stages / n_ops
        v["cqd.shuffle_bytes"] = cq.shuffle_write_bytes / n_ops
        v["cqd.spill_bytes"] = cq.spill_bytes / n_ops
        v["cqd.kernel_rows_per_beam_row"] = _ratio(
            cq.node("MapInPandas", _ROWS), cq.node("BeamPrune", _ROWS)
        )

    lm = stats("lmpnn.forward", "lmpnn.score")
    if sp("lmpnn.forward"):
        v["lmpnn.forward_s"] = _median([s.seconds for s in sp("lmpnn.forward")])
        v["lmpnn.score_s"] = _median([s.seconds for s in sp("lmpnn.score")])
        v["lmpnn.jobs"] = lm.jobs / n_ops
        v["lmpnn.python_s"] = lm.node(*_PY_RUN) / 1e3 / n_ops
        v["lmpnn.deserialize_s"] = lm.deserialize_ms / 1e3 / n_ops

    mt = stats("metric")
    if sp("metric"):
        v["metric.rank_s"] = _median([s.seconds for s in sp("metric")])
        v["metric.shuffle_bytes"] = mt.shuffle_write_bytes / n_ops
        v["metric.pairs_per_answer"] = _ratio(
            mt.node("Join", _ROWS), sum(s.counts.get("answers", 0) for s in sp("metric"))
        )

    allj = span_stats(groups, spans)
    v["spark.jobs"] = allj.jobs / n_ops
    v["spark.tasks"] = allj.tasks / n_ops
    v["spark.failed_tasks"] = float(allj.failed_tasks)
    v["spark.gc_s"] = allj.gc_ms / 1e3 / n_ops
    v["spark.spill_bytes"] = allj.spill_bytes / n_ops

    v["process.peak_rss_mb"] = res.peak_rss_mb
    return {k: (float(x), PER_LAYER[k]) for k, x in v.items()}


def self_times(tracer: Tracer, res) -> dict[str, float]:
    """Each layer's self time per measured op, in seconds."""
    spans = _measured(tracer, res)
    ids = {s.id for s in spans}
    child: dict[int, float] = {}
    for s in spans:
        if s.parent in ids:
            child[s.parent] = child.get(s.parent, 0.0) + s.seconds
    n = max(len(res.ops), 1)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + (s.seconds - child.get(s.id, 0.0)) / n
    return out
