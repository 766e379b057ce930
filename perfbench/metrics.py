"""Metric definitions and their computation from the pass records.

``END_TO_END`` and ``PER_LAYER`` are the names and units the benchmark
prints; ``BENCHMARK.json`` at the repository root lists the same names.
"""

from __future__ import annotations

import statistics

from workloads import LLMCuration

END_TO_END = {
    # CPU time: the run's processes, less the JVM's JIT compiler threads
    "setup_s": "s",            # median CPU time of the run's set-ups
    "cold_run_cpu_s": "s",     # CPU time of the first pass in the fresh session
    "run_cpu_s": "s",          # median CPU time of a warm pass
    "ok_ops_frac": "frac",     # succeeded / attempted ops
    "peak_rss_mb": "MB",       # VmHWM of the driver JVM + Python process
}

# The same quantities in wall-clock time. On a shared host they follow
# the host's load (see README.md), so they are reported, not gated.
WALL = {
    "wall.setup_s": "s",
    "wall.cold_run_s": "s",
    "wall.run_s": "s",
    "wall.rows_per_s": "1/s",
    "wall.op_p50_s": "s",
    "wall.op_p90_s": "s",
}

PER_OP = {"construct_s": "s", "action_s": "s", "jobs": "count", "tasks": "count",
          "shuffle_write_mb": "MB"}
PER_OP_NAMES = LLMCuration.OPS

PER_LAYER = {
    **WALL,
    "jit.cold_cpu_s": "s",     # JIT compiler threads' CPU time in the cold pass
    "jit.run_cpu_s": "s",      # the same per warm pass, median
    "session.process_setup_s": "s",
    "session.get_spark_s": "s",
    "plans.catalog_load_s": "s",
    "runtime.ship_s": "s",
    "plans.construct_s": "s",
    "plans.eager_jobs": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.core_busy_frac": "frac",
    "exec.action_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_fetch_wait_s": "s",
    "exec.spill_mb": "MB",
    "exec.shuffle_per_input_byte": "B/B",
    "runtime.persisted_rdds": "count",
    "w2v.global_fit_s": "s",
    "w2v.parity_s": "s",
    "sim.word_knn_s": "s",
    "sources.write_s": "s",
    "sources.write_mb": "MB",
    "dedup.planted_recall": "frac",
    **{f"op.{n}.{k}": u for n in PER_OP_NAMES for k, u in PER_OP.items()},
}

MB = 1e6


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _p90(xs) -> float:
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return float(statistics.quantiles(xs, n=10, method="inclusive")[8])


def _warm(passes, traced: bool):
    return [p for p in passes[1:] if p["traced"] == traced]


def wall(workload, sess, passes) -> dict[str, float]:
    warm = _warm(passes, False)
    run_s = _median(p["seconds"] for p in warm)
    lat = [o["latency_s"] for p in warm for o in p["ops"]]
    return {"wall.setup_s": _median(s["setup_s"] for s in sess.setups),
            "wall.cold_run_s": passes[0]["seconds"], "wall.run_s": run_s,
            "wall.rows_per_s": workload.input_rows / run_s,
            "wall.op_p50_s": _median(lat), "wall.op_p90_s": _p90(lat)}


def end_to_end(workload, sess, passes, rss_mb: float) -> dict[str, tuple[float, str]]:
    untraced = [o for p in passes if not p["traced"] for o in p["ops"]]
    vals = {
        "setup_s": _median(s["setup_cpu_s"] for s in sess.setups),
        "cold_run_cpu_s": passes[0]["cpu_s"],
        "run_cpu_s": _median(p["cpu_s"] for p in _warm(passes, False)),
        "ok_ops_frac": sum(o["ok"] for o in untraced) / len(untraced),
        "peak_rss_mb": rss_mb,
    }
    return {k: (vals[k], u) for k, u in END_TO_END.items()}


def _pass_layers(workload, p, cores: int) -> dict[str, float]:
    ops = [o for o in p["ops"] if o["ok"]]
    ex = [o["exec"] for o in ops]
    writes = [o for o in ops if o["writes"]]
    by = {o["name"]: o for o in ops}
    task_run = sum(e.task_run_s for e in ex)
    shuffle_w = sum(e.shuffle_write_bytes for e in ex)
    return {
        "plans.construct_s": sum(o["construct_s"] for o in ops),
        "plans.eager_jobs": sum(o["eager_jobs"] for o in ops),
        "exec.jobs": sum(e.jobs for e in ex),
        "exec.stages": sum(e.stages for e in ex),
        "exec.tasks": sum(e.tasks for e in ex),
        "exec.core_busy_frac": task_run / (p["seconds"] * cores),
        "exec.action_s": sum(o["action_s"] for o in ops if not o["writes"]),
        "exec.task_run_s": task_run,
        "exec.task_cpu_s": sum(e.task_cpu_s for e in ex),
        "exec.gc_s": sum(e.gc_s for e in ex),
        "exec.shuffle_write_mb": shuffle_w / MB,
        "exec.shuffle_read_mb": sum(e.shuffle_read_bytes for e in ex) / MB,
        "exec.shuffle_fetch_wait_s": sum(e.shuffle_fetch_wait_s for e in ex),
        "exec.spill_mb": sum(e.spill_bytes for e in ex) / MB,
        "exec.shuffle_per_input_byte": shuffle_w / workload.input_bytes,
        "runtime.persisted_rdds": max((o["persisted_rdds"] for o in ops), default=0),
        "w2v.global_fit_s": by["w2v_global"]["construct_s"] if "w2v_global" in by else 0.0,
        "w2v.parity_s": by["w2v_parity"]["latency_s"] if "w2v_parity" in by else 0.0,
        "sim.word_knn_s": by["word_knn"]["latency_s"] if "word_knn" in by else 0.0,
        "sources.write_s": sum(o["action_s"] for o in writes),
        "sources.write_mb": sum(o.get("written_bytes", 0) for o in writes) / MB,
    }


def _op_record(o) -> dict:
    rec = {k: v for k, v in o.items() if k not in ("result", "exec")}
    if "exec" in o:
        rec.update(o["exec"].__dict__)
    return rec


def per_layer(workload, sess, passes, recall: dict, cores: int):
    """Per-layer metrics (medians over the traced warm passes) and the
    extra record written beside them."""
    traced = _warm(passes, True)
    layers = [_pass_layers(workload, p, cores) for p in traced]
    vals = {k: _median(d[k] for d in layers) for k in layers[0]}
    vals.update(wall(workload, sess, passes))
    vals["jit.cold_cpu_s"] = passes[0]["jit_cpu_s"]
    vals["jit.run_cpu_s"] = _median(p["jit_cpu_s"] for p in _warm(passes, False))
    vals["session.process_setup_s"] = sess.setups[0]["setup_s"]
    vals["session.get_spark_s"] = _median(s["get_spark_s"] for s in sess.setups)
    vals["plans.catalog_load_s"] = _median(s["catalog_load_s"] for s in sess.setups)
    vals["runtime.ship_s"] = _median(s["ship_s"] for s in sess.setups)
    vals["dedup.planted_recall"] = min(recall.values()) if recall else 0.0
    for name in PER_OP_NAMES:
        recs = [o for p in traced for o in p["ops"] if o["name"] == name and o["ok"]]
        vals[f"op.{name}.construct_s"] = _median(o["construct_s"] for o in recs)
        vals[f"op.{name}.action_s"] = _median(o["action_s"] for o in recs)
        vals[f"op.{name}.jobs"] = _median(o["exec"].jobs for o in recs)
        vals[f"op.{name}.tasks"] = _median(o["exec"].tasks for o in recs)
        vals[f"op.{name}.shuffle_write_mb"] = _median(
            o["exec"].shuffle_write_bytes / MB for o in recs)
    traced_run = _median(p["seconds"] for p in traced)
    untraced_run = _median(p["seconds"] for p in _warm(passes, False))
    extra = {
        "traced_run_s": traced_run,
        "untraced_run_s": untraced_run,
        "trace_overhead_s": traced_run - untraced_run,
        "planted_recall": recall,
        "setups": sess.setups,
        "passes": [{"pass": p["pass"], "traced": p["traced"], "seconds": p["seconds"],
                    "ops": [_op_record(o) for o in p["ops"]]} for p in passes],
    }
    return {k: (vals[k], u) for k, u in PER_LAYER.items()}, extra
