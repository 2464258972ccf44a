"""Per-layer metrics of a traced run, derived from its spans.

Each traced warm pass gives one value per metric; a run reports the
median over its traced warm passes. A layer the workload does not touch
reads 0.
"""

from __future__ import annotations

import statistics

from params import LLM_OPS

COPY_MODES = ("plain", "checksum", "mapped", "incremental", "merge", "cdc", "scd2", "delete")

#: span stage fields → executor-layer metric (summed over every span)
EXECUTOR = {
    "stages": "executor.stages",
    "tasks": "executor.tasks",
    "run_s": "executor.run_s",
    "cpu_s": "executor.cpu_s",
    "gc_s": "executor.gc_s",
    "input_rows": "input.rows",
    "shuffle_read_mb": "shuffle.read_mb",
    "shuffle_write_mb": "shuffle.write_mb",
    "spill_mb": "spill.mb",
    "python_stages": "python.stages",
    "python_run_s": "python.run_s",
}

UNITS = {
    **{f"copy.{m}_s": "s" for m in COPY_MODES},
    "copy.jobs": "count", "copy.read_amp": "ratio", "copy.written_mb": "MB",
    "jdbc.write_s": "s", "jdbc.read_s": "s", "jdbc.rows_per_s": "1/s",
    "introspect.ddl_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.exec_s": "s", "operators.exec_jobs": "count",
    **{f"op.{k}_s": "s" for k in LLM_OPS},
    "ckpt.freed": "count", "ckpt.live_mb": "MB",
    "python.stages": "count", "python.run_s": "s",
    "executor.stages": "count", "executor.tasks": "count", "executor.run_s": "s",
    "executor.cpu_s": "s", "executor.cpu_share": "ratio", "executor.gc_s": "s",
    "input.rows": "count", "shuffle.read_mb": "MB", "shuffle.write_mb": "MB",
    "spill.mb": "MB",
    "bench.self_s": "s",
}


def pass_metrics(spans, pass_s: float, storage: list[tuple[float, float]]) -> dict:
    """One traced pass's per-layer values."""
    m = dict.fromkeys(UNITS, 0.0)
    rows_read = rows_published = jdbc_rows = 0
    for s in spans:
        for field, name in EXECUTOR.items():
            m[name] += s.metrics[field]
        if s.layer == "copy":
            m[f"copy.{s.tag}_s"] += s.duration
            m["copy.jobs"] += s.jobs
            m["copy.written_mb"] += s.metrics["output_mb"]
            rows_read += s.metrics["input_rows"]
            rows_published += s.count
        elif s.name == "introspect.copy_tables_jdbc_with_schema":
            m["jdbc.write_s"] += s.job_wall_s
            m["introspect.ddl_s"] += s.duration - s.job_wall_s
            jdbc_rows += s.count
        elif s.name == "jdbc.JdbcReadSpec":
            m["jdbc.read_s"] += s.duration
        elif s.name in ("operators.build", "operators.exec"):
            phase = s.name.split(".")[1]
            m[f"operators.{phase}_s"] += s.duration
            m[f"operators.{phase}_jobs"] += s.jobs
        elif s.name == "operators.call":
            m[f"op.{s.tag}_s"] += s.duration
        elif s.name == "ckpt.free_ckpts":
            m["ckpt.freed"] += s.count
    m["copy.read_amp"] = rows_read / rows_published if rows_published else 0.0
    m["jdbc.rows_per_s"] = jdbc_rows / m["jdbc.write_s"] if m["jdbc.write_s"] else 0.0
    run_s = m["executor.run_s"]
    m["executor.cpu_share"] = m["executor.cpu_s"] / run_s if run_s else 0.0
    m["ckpt.live_mb"] = max((ck for _, ck in storage), default=0.0)
    m["bench.self_s"] = pass_s - sum(s.duration for s in spans if s.parent is None)
    return m


def per_layer(tracer, passes: list[dict], warm: dict[bool, list[float]]) -> dict:
    """Median per-layer values over the traced warm passes, plus the
    tracing overhead: median traced minus median untraced warm pass."""
    per_pass = [
        pass_metrics(tracer.pass_spans(p["id"]), p["s"], p["storage"])
        for p in passes
        if p["traced"] and p["id"] > 0
    ]
    out = {
        name: (statistics.median(pm[name] for pm in per_pass), unit)
        for name, unit in UNITS.items()
    }
    out["trace.overhead_s"] = (
        statistics.median(warm[True]) - statistics.median(warm[False]), "s"
    )
    return out
