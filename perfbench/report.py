"""Turn a run's ops (and, for the traced run, its spans) into metrics.

The metric names here are the ones ``BENCHMARK.json`` lists; README.md
says which end-to-end metric each per-layer one should move, and where.
"""

from __future__ import annotations

import statistics

from perfbench import tracing
from perfbench.workloads import CATALOG_QUERIES

END_TO_END = (
    ("setup_s", "s"),
    ("op_p50_s", "s"),
    ("ops_per_s", "1/s"),
    ("rows_per_s", "rows/s"),
)


#: (name, unit, better). Counts are taken from the first timed op, which
#: is traced and always the same kind of op, so they repeat exactly across
#: runs; times are medians over the traced ops.
PER_LAYER = (
    ("first_op_s", "s", "lower"),
    ("plans.session.get_spark_s", "s", "lower"),
    ("generator.build_s", "s", "lower"),
    ("operators.mutate.build_s", "s", "lower"),
    ("operators.validate.build_s", "s", "lower"),
    ("operators.errors.build_s", "s", "lower"),
    ("operators.errors.error_rows", "count", "higher"),
    ("operators.errors.error_share", "ratio", "higher"),
    ("operators.reconcile.s", "s", "lower"),
    ("operators.reconcile.jobs", "count", "lower"),
    ("sources.io.read_s", "s", "lower"),
    ("sources.io.write_bankdata_s", "s", "lower"),
    ("sources.io.write_single_csv_s", "s", "lower"),
    ("pipeline.validate_file_s", "s", "lower"),
    ("pipeline.self_s", "s", "lower"),
    ("pipeline.jobs_per_file", "count", "lower"),
    ("streaming.pipeline.start_s", "s", "lower"),
    ("streaming.pipeline.batches", "count", "lower"),
    ("streaming.pipeline.trigger_ms_p50", "ms", "lower"),
    ("streaming.pipeline.add_batch_ms_p50", "ms", "lower"),
    ("streaming.pipeline.query_planning_ms_p50", "ms", "lower"),
    ("streaming.pipeline.wal_commit_ms_p50", "ms", "lower"),
    ("streaming.pipeline.latest_offset_ms_p50", "ms", "lower"),
    ("contract.load_s", "s", "lower"),
    ("contract.load_calls", "count", "lower"),
    ("queries.build_s", "s", "lower"),
    *((f"queries.{q}.s", "s", "lower") for q in CATALOG_QUERIES),
    ("bench.materialise_s", "s", "lower"),
    ("spark.py4j_calls", "count", "lower"),
    ("spark.plan_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.exec_cpu_s", "s", "lower"),
    ("spark.exec_run_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.input_bytes", "bytes", "lower"),
    ("spark.output_bytes", "bytes", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.exchanges", "count", "lower"),
    ("spark.persisted_rdds", "count", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("ops_failed_frac", "ratio", "lower"),
    ("trace_overhead_frac", "ratio", "lower"),
)

_UNITS = {name: unit for name, unit, _ in PER_LAYER} | dict(END_TO_END)


def _metric(name: str, value) -> dict:
    return {"value": value, "unit": _UNITS[name]}


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(ops: list[dict], setup_s: float) -> dict:
    """End-to-end metrics of an untraced run. Rates divide by the timed
    seconds of every attempted op, failed ones included."""
    ok = [op for op in ops if op["ok"]]
    timed = sum(op["s"] for op in ops)
    values = {
        "setup_s": setup_s,
        "op_p50_s": _median([op["s"] for op in ok]),
        "ops_per_s": len(ok) / timed,
        "rows_per_s": sum(op["rows"] for op in ok) / timed,
    }
    return {k: _metric(k, v) for k, v in values.items()}


def _op_layers(op: dict, spans: list[tracing.Span]) -> dict[str, float]:
    """Per-layer values of one traced op."""
    i = op["i"]
    own = tracing.self_times(spans, i)
    total = tracing.span_totals(spans, i)
    spark = op["spark"]
    jobs = tracing.jobs_by_span(spans, i, spark["job_submit_times"])
    layers = op["layers"]
    error_rows = layers.get("error_rows", 0)
    out = {
        "generator.build_s": own.get("generator", 0.0),
        "operators.mutate.build_s": own.get("operators.mutate", 0.0),
        "operators.validate.build_s": own.get("operators.validate", 0.0),
        "operators.errors.build_s": own.get("operators.errors", 0.0),
        "operators.errors.error_rows": error_rows,
        "operators.errors.error_share": error_rows / op["rows"] if op["rows"] else 0.0,
        "operators.reconcile.s": total.get("operators.reconcile:reconcile_errors", 0.0),
        "operators.reconcile.jobs": jobs.get("operators.reconcile:reconcile_errors", 0),
        "sources.io.read_s": (total.get("sources.io:read_bankdata", 0.0)
                              + total.get("sources.io:read_error_csv", 0.0)),
        "sources.io.write_bankdata_s": total.get("sources.io:write_bankdata", 0.0),
        "sources.io.write_single_csv_s": total.get("sources.io:write_single_csv", 0.0),
        "pipeline.validate_file_s": total.get("pipeline:validate_file", 0.0),
        "pipeline.self_s": own.get("pipeline", 0.0),
        "pipeline.jobs_per_file": jobs.get("pipeline:validate_file", 0),
        "streaming.pipeline.start_s": total.get("streaming.pipeline:stream_validate", 0.0),
        "streaming.pipeline.batches": layers.get("batches", 0),
        "contract.load_s": total.get("contract:load", 0.0),
        "contract.load_calls": sum(1 for s in spans
                                   if s.op == i and s.name == "contract:load"),
        "queries.build_s": own.get("queries", 0.0),
        "bench.materialise_s": own.get("bench", 0.0),
        "spark.py4j_calls": op["py4j_calls"],
        "spark.plan_ms": layers.get("plan_ms", sum(layers.get("ms.queryPlanning", []))),
        **{f"spark.{k}": spark[k] for k in (
            "jobs", "stages", "tasks", "exec_cpu_s", "exec_run_s", "gc_s",
            "input_bytes", "output_bytes", "shuffle_write_bytes",
            "spill_bytes", "exchanges", "persisted_rdds")},
    }
    for key, name in (("triggerExecution", "trigger"), ("addBatch", "add_batch"),
                      ("queryPlanning", "query_planning"),
                      ("walCommit", "wal_commit"), ("latestOffset", "latest_offset")):
        out[f"streaming.pipeline.{name}_ms_p50"] = _median(layers.get(f"ms.{key}", []))
    out.update({k: v for k, v in layers.items() if k.startswith("queries.")})
    return out


def per_layer(ops: list[dict], tracer: tracing.Tracer, rss_mb: float) -> dict:
    """Per-layer metrics of a traced run (traced and untraced ops interleaved)."""
    traced = [op for op in ops if op["traced"] and op["ok"]]
    untraced = [op for op in ops if not op["traced"] and op["ok"]]
    per_op = [_op_layers(op, tracer.spans) for op in traced]
    values: dict[str, float] = {}
    for name, unit, _better in PER_LAYER:
        vals = [d[name] for d in per_op if name in d]
        if not vals:
            values[name] = 0.0
        elif name == "spark.persisted_rdds":
            values[name] = vals[-1]  # after the last traced op
        elif unit in ("count", "bytes"):
            values[name] = vals[0]
        else:
            values[name] = _median(vals)
    setup = tracing.span_totals(tracer.spans, None)
    values["first_op_s"] = ops[0]["s"]
    values["plans.session.get_spark_s"] = setup.get("plans.session:get_spark", 0.0)
    values["peak_rss_mb"] = rss_mb
    values["ops_failed_frac"] = sum(not op["ok"] for op in ops) / len(ops)
    t, u = _median([op["s"] for op in traced]), _median([op["s"] for op in untraced])
    values["trace_overhead_frac"] = t / u - 1 if t and u else 0.0
    return {k: _metric(k, values[k]) for k, _u, _b in PER_LAYER}
