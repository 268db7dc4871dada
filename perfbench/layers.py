"""Per-layer metrics of a traced run (see METRICS.md for the map to the
end-to-end metrics each one should move)."""

from __future__ import annotations

import json
import os
import statistics

from tracing import attribute, covered, read_event_log

HERE = os.path.dirname(os.path.abspath(__file__))

# spans that only group others: not counted as attributed time
CONTAINERS = {"op", "plans.run_pipeline"}

# names and units of the per-layer metrics: BENCHMARK.json is the one list
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    UNITS = {m["name"]: m["unit"] for m in json.load(_fh)["per_layer"]}


def layer_metrics(bench, passes, event_log, steal, probe, untraced_wall):
    """Return (metrics, per_op counts) for the traced ``passes``."""
    from run import CORES

    tracer, listener = bench.tracer, bench.listener
    ops = [op for ps in passes for op in ps.ops]
    op_ids = {op.id for op in ops}
    windows = [(op.id, phase, s, e) for op in ops for phase, s, e in op.windows]
    jobs, stages = read_event_log(event_log)
    attribute(jobs, windows, listener.run_op)
    attribute(stages, windows, listener.run_op)
    jobs = [j for j in jobs if j.op in op_ids and j.phase != "check"]
    stages = [s for s in stages if s.op in op_ids and s.phase != "check"]
    spans = [s for s in tracer.spans if s.op in op_ids]

    def total(name: str) -> float:
        return sum(s.end - s.start for s in spans if s.name == name)

    def calls(name: str) -> int:
        return sum(s.name == name for s in spans)

    def stage_sum(key: str) -> float:
        return sum(s.metrics.get(key, 0.0) for s in stages)

    wall = sum(ps.wall for ps in passes)
    batches = [b for op in op_ids for b in listener.batches.get(op, [])]
    exec_s = sum(
        covered([(j.submitted, j.end) for j in jobs if j.op == op.id],
                op.windows[0][1], op.windows[-1][2])
        for op in ops
    )
    attributed = sum(
        covered([(s.start, s.end) for s in spans if s.name not in CONTAINERS],
                ps.start, ps.start + ps.wall)
        for ps in passes
    )
    written = stage_sum("bytes_written_mb")
    landed = sum(ps.landed_bytes for ps in passes) / 1e6
    values = {
        "session.start_s": bench.session_start_s,
        "io.load_tables_calls": calls("io.load_tables"),
        "io.load_tables_s": total("io.load_tables"),
        "harness.build_s": total("harness.build"),
        "harness.build_jobs": sum(j.phase == "build" for j in jobs),
        "functions.skew.fan_out_calls": calls("functions.skew.fan_out"),
        "functions.skew.fan_out_s": total("functions.skew.fan_out"),
        "streaming.queries": sum(op in op_ids for op in listener.run_op.values()),
        "streaming.batches": len(batches),
        "streaming.batch_s": sum(b[1] for b in batches),
        "streaming.rows_in": sum(b[0] for b in batches),
        "spark.plan_s": total("spark.plan"),
        "spark.exec_s": exec_s,
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s.tasks for s in stages),
        "spark.task_run_s": stage_sum("task_run_s"),
        "spark.task_cpu_s": stage_sum("task_cpu_s"),
        "spark.gc_s": stage_sum("gc_s"),
        "spark.busy_ratio": stage_sum("task_run_s") / (wall * CORES),
        "spark.shuffle_read_mb": stage_sum("shuffle_read_mb"),
        "spark.shuffle_write_mb": stage_sum("shuffle_write_mb"),
        "spark.spill_mb": stage_sum("spill_mb"),
        "sources.read_trips_csv_s": total("sources.read_trips_csv"),
        "plans.bronze_s": total("plans.bronze"),
        "plans.locations_s": total("plans.locations"),
        "plans.silver_s": total("plans.silver"),
        "plans.gold_s": total("plans.gold"),
        "plans.stage_attempts": tracer.stage_attempts,
        "io.append_s": total("io.append"),
        "io.publish_overwrite_calls": calls("io.publish_overwrite"),
        "io.publish_overwrite_s": total("io.publish_overwrite"),
        "io.bytes_written_mb": written,
        "io.write_amp": written / landed if landed else 0.0,
        "host.steal_pct": steal,
        "host.probe_s": probe,
        "trace.overhead_pct": 100.0 * (statistics.median(ps.wall for ps in passes)
                                       / untraced_wall - 1.0),
        "trace.attributed_pct": 100.0 * attributed / wall,
    }
    if set(values) != set(UNITS):
        raise RuntimeError(f"per-layer metrics differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(UNITS))}")
    metrics = {k: {"value": float(v), "unit": UNITS[k]} for k, v in values.items()}

    per_op: dict[str, dict] = {}
    for op in passes[0].ops:
        per_op[op.key] = {
            "seconds": op.seconds,
            "harness.build_jobs": sum(j.op == op.id and j.phase == "build" for j in jobs),
            "spark.jobs": sum(j.op == op.id for j in jobs),
            "spark.stages": sum(s.op == op.id for s in stages),
            "streaming.batches": len(listener.batches.get(op.id, [])),
        }
    return metrics, per_op
