"""Turn a run's ops, spans and Spark readings into the reported metrics.

End-to-end figures come from untraced runs. Per-layer figures come from
the traced passes of a traced run and are per-op means over those ops
unless the name says otherwise; ratios carry their base in the trace file.
"""

from __future__ import annotations

from harness import exec_metrics, median, percentile, self_times, tail_level

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "session.get_spark_cold_s": "s",
    "queries.build_s": "s",
    "engine.read_table_calls": "count",
    "engine.read_table_s": "s",
    "engine.read_table_hit_ratio": "ratio",
    "dialect.translate_calls": "count",
    "dialect.translate_s": "s",
    "spark.analysis_s": "s",
    "spark.codegen_compiles": "count",
    "spark.codegen_compile_s": "s",
    "spark.driver_self_s": "s",
    "spark.jobs_wall_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.sched_wait_s": "s",
    "exec.tasks": "count",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_records": "count",
    "exec.spill_bytes": "bytes",
    "exec.cpu_util": "ratio",
    "pipeline.shuffle_records_per_output_row": "ratio",
    "policies.insert_s": "s",
    "policies.final_s": "s",
    "policies.optimize_s": "s",
    "policies.files_on_disk": "count",
    "policies.read_amp": "ratio",
    "policies.write_amp": "ratio",
    "policies.storage_amp": "ratio",
    "trace.overhead_frac": "ratio",
}


def as_result(values: dict, units: dict) -> dict:
    return {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _warm(ops):
    return [o for o in ops if o.pass_no > 0]


def _latencies(ops, write: bool) -> list[float]:
    return [o.wall for o in _warm(ops) if (o.kind == "write") == write and o.ok]


def end_to_end(setups, passes, ops, rss_mb) -> dict:
    return {
        "setup_s": median(setups),
        "cold_pass_s": passes[0]["wall_s"],
        # every op of the closed loop, the cold pass included
        "ops_per_s": len(ops) / sum(o.wall for o in ops),
        "peak_rss_mb": rss_mb,
    }


def detail(name, env, setups, starts, passes, ops, workload_detail) -> dict:
    """Figures beside the result line: machine, passes, one-workload metrics,
    and the cold set-up and warm-pass figures whose spread between runs is
    wider than the largest bound the result line may carry."""
    lat = _latencies(ops, write=False)
    by_name: dict[str, list[float]] = {}
    for o in _warm(ops):
        by_name.setdefault(o.name, []).append(o.wall)
    out = {
        "workload": name,
        "env": env,
        "setups_s": setups,
        "setup_cold_s": setups[0],  # the set-up that launched the JVM
        "get_spark_s": starts,
        "passes": passes,
        "warm_pass_s": median([p["wall_s"] for p in passes[1:]]),
        "latency_p50_s": percentile(lat, 0.5),
        "latency_tail_s": percentile(lat, tail_level(len(lat))),
        "latency_samples": len(lat),
        "latency_tail_level": tail_level(len(lat)),
        "failed_frac": sum(not o.ok for o in ops) / len(ops),
        "failures": [{"op": o.id, "name": o.name, **o.info} for o in ops if not o.ok][:10],
        "op_median_s": {k: median(v) for k, v in sorted(by_name.items())},
    }
    writes = _latencies(ops, write=True)
    if writes:
        reads = [o for o in _warm(ops) if "storage_amp" in o.info]
        out.update({
            "write_p50_s": percentile(writes, 0.5),
            "write_tail_s": percentile(writes, tail_level(len(writes))),
            "write_samples": len(writes),
            "write_tail_level": tail_level(len(writes)),
            "storage_amp": _mean(o.info["storage_amp"] for o in reads),
        })
    out.update(workload_detail)
    return out


def per_layer(loop, exec_data, starts, passes, env, workload_detail) -> tuple[dict, list]:
    traced = [o for o in loop.ops if o.traced]
    n = len(traced)
    spans = [s for s in loop.tracer.spans if s["end"] is not None]
    by_id = {s["id"]: s for s in spans}
    own = self_times(spans)

    def durations(name):
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    reads = [s for s in spans if s["name"] == "engine.read_table"]
    translates = [
        s for s in spans
        if s["name"] == "dialect.translate"
        and (s["parent"] is None or by_id[s["parent"]]["name"] != "dialect.translate")
    ]
    jobs, stages = exec_data
    per_op = []
    total: dict[str, float] = {}
    for o in traced:
        em = exec_metrics(o.id, jobs, stages)
        for k, v in em.items():
            total[k] = total.get(k, 0.0) + v
        total["driver_self_s"] = total.get("driver_self_s", 0.0) + max(o.wall - em["jobs_wall_s"], 0.0)
        total["analysis_s"] = total.get("analysis_s", 0.0) + o.info.get("phases", {}).get("analysis", 0.0)
        total["codegen_classes"] = total.get("codegen_classes", 0.0) + o.info.get("codegen_classes", 0)
        total["codegen_s"] = total.get("codegen_s", 0.0) + o.info.get("codegen_s", 0.0)
        total["rows"] = total.get("rows", 0.0) + o.rows
        per_op.append({"id": o.id, "name": o.name, "kind": o.kind, "pass": o.pass_no,
                       "wall_s": o.wall, "rows": o.rows, "ok": o.ok, **o.info, "exec": em})
    for o in loop.ops:
        if not o.traced:
            per_op.append({"id": o.id, "name": o.name, "kind": o.kind, "pass": o.pass_no,
                           "wall_s": o.wall, "rows": o.rows, "ok": o.ok})

    traced_reads = [o for o in traced if "read_amp" in o.info]
    warm_t = [p["wall_s"] for p in passes[1:] if p["traced"]]
    warm_u = [p["wall_s"] for p in passes[1:] if not p["traced"]]
    cores = env["nproc"]
    values = {
        "session.get_spark_s": median(starts),
        "session.get_spark_cold_s": starts[0],
        "queries.build_s": own.get("queries.build", 0.0) / n,
        "engine.read_table_calls": len(reads) / n,
        "engine.read_table_s": sum(s["end"] - s["start"] for s in reads) / n,
        "engine.read_table_hit_ratio": (sum(s["hit"] for s in reads) / len(reads)) if reads else 0.0,
        "dialect.translate_calls": len(translates) / n,
        "dialect.translate_s": sum(s["end"] - s["start"] for s in translates) / n,
        "spark.analysis_s": total["analysis_s"] / n,
        "spark.codegen_compiles": total["codegen_classes"] / n,
        "spark.codegen_compile_s": total["codegen_s"] / n,
        "spark.driver_self_s": total["driver_self_s"] / n,
        "spark.jobs_wall_s": total["jobs_wall_s"] / n,
        "exec.task_run_s": total["task_run_s"] / n,
        "exec.task_cpu_s": total["task_cpu_s"] / n,
        "exec.gc_s": total["gc_s"] / n,
        "exec.sched_wait_s": total["sched_wait_s"] / n,
        "exec.tasks": total["tasks"] / n,
        "exec.input_bytes": total["input_bytes"] / n,
        "exec.shuffle_write_bytes": total["shuffle_write_bytes"] / n,
        "exec.shuffle_records": total["shuffle_records"] / n,
        "exec.spill_bytes": total["spill_bytes"] / n,
        "exec.cpu_util": (
            total["task_cpu_s"] / (total["jobs_wall_s"] * cores) if total["jobs_wall_s"] else 0.0
        ),
        "pipeline.shuffle_records_per_output_row": total["shuffle_records"] / max(total["rows"], 1),
        "policies.insert_s": _mean(durations("policies.insert")),
        "policies.final_s": _mean(durations("policies.final")),
        "policies.optimize_s": _mean(durations("policies.optimize")),
        "policies.files_on_disk": _mean(o.info["files_on_disk"] for o in traced_reads),
        "policies.read_amp": _mean(o.info["read_amp"] for o in traced_reads),
        "policies.write_amp": workload_detail.get("write_amp", 0.0),
        "policies.storage_amp": _mean(o.info["storage_amp"] for o in traced_reads),
        "trace.overhead_frac": (median(warm_t) / median(warm_u) - 1.0) if warm_t and warm_u else 0.0,
    }
    return values, per_op
