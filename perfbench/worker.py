"""Benchmark worker: runs one workload in this process and writes the
result object for ``run.py`` to print. Started by ``run.py``, which sets
up the environment; not meant to be run directly.

A workload is one or more stages (``wl_*`` modules) run one after
another in one Spark session over one seeded input. ``stream_pipeline``
runs the rule stream over the whole measuring window, then the stateful
operators over the same turns; its step and throughput figures are the
rule stream's, and the stateful queries report theirs in the detail
line.

A run with ``--trace 0`` has one untraced phase, which gives the
end-to-end metrics. A run with ``--trace 1`` runs the same phase traced
instead: spans around the public calls the harness makes into each
layer, the status-store counters of its steady part, and Spark's
streaming progress. It reports the traced phase's throughput as
``trace.throughput_per_s``; set against the untraced runs'
``throughput_per_s``, measured the same way, that is the tracing
overhead. The rule stream then runs once more at ``local[1]`` (in the
same, now warm, JVM) for the 1 -> 4 core scaling efficiency. Metric
names and units come from ``BENCHMARK.json``; a layer that a workload
does not exercise reports 0.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

import inputs
from harness import (Phase, PhaseOpts, StatusStore, Tracer, percentile, rss_layer,
                     spark_layer, start_session, tail)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
# workload -> (input preparation, stages run in order, each over the
# whole measuring window)
WORKLOADS = {
    "stream_pipeline": (inputs.prepare_stream, ("wl_rules", "wl_stateful")),
    "console_queries": (inputs.prepare_console, ("wl_console",)),
}


def _host(spark) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def _e2e(start_s: float, ph: Phase) -> dict[str, dict]:
    """End-to-end metrics with sample counts (the detail line)."""
    p50 = percentile(ph.steps_s, 50)
    tail_v, tail_p = tail(ph.steps_s)
    failed = sum(not c.ok for c in ph.checks)
    attempted = ph.n_steps + len(ph.checks)
    return {
        "setup_s": {"value": start_s + sum(ph.setup.values()), "unit": "s", "samples": 1,
                    "parts": {"session_start_s": start_s, **ph.setup}},
        "throughput_per_s": {"value": ph.throughput, "unit": "1/s", "samples": ph.work,
                             "wall_s": ph.wall_s},
        "step_s_p50": {"value": p50, "unit": "s", "samples": len(ph.steps_s)},
        "step_s_tail": {"value": tail_v, "unit": "s", "samples": len(ph.steps_s),
                        "percentile": tail_p},
        "failed_frac": {"value": failed / max(attempted, 1), "unit": "1",
                        "samples": attempted},
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    prepare, mods = WORKLOADS[args.workload]
    stages = [importlib.import_module(m) for m in mods]

    t = time.perf_counter()
    data = prepare(args.work, args.seed)
    data["info"]["prepare_s"] = time.perf_counter() - t
    spark, start_s = start_session(CORES)

    def run(tag: str, opts: PhaseOpts, n_stages: int = len(stages)) -> Phase:
        return Phase.combine([m.run_phase(spark, args.work, tag, data, args.seconds, opts)
                              for m in stages[:n_stages]])

    layer: dict[str, float] = {}
    if not args.trace:
        phases = {"untraced": run("run", PhaseOpts())}
    else:
        tracer = Tracer()
        ph = run("traced", PhaseOpts(tracer, StatusStore(spark)))
        phases = {"traced": ph}
        layer.update(ph.layer)
        layer.update(spark_layer(ph.info["status"], ph.n_steps))
        layer.update(rss_layer(spark))
        layer["session.start_s"] = start_s
        layer["sml.compile_s"] = ph.setup.get("compile_s", 0.0)
        # the untraced runs' throughput_per_s is measured the same way,
        # so the ratio of the two is the tracing overhead
        layer["trace.throughput_per_s"] = ph.throughput
        if args.workload == "stream_pipeline":
            spark.stop()
            spark, _ = start_session(1)
            ph1 = phases["local1"] = run("local1", PhaseOpts(check=False), n_stages=1)
            layer["stream_rules.scaling_eff_1_4"] = ph.throughput / (4 * ph1.throughput)
        tracer.dump(
            os.path.join(ROOT, ".perfbench_out",
                         f"trace-{args.workload}-seed{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "seconds": args.seconds},
        )
    first = next(iter(phases.values()))
    e2e = _e2e(start_s, first)

    checks = [(tag, c) for tag, ph in phases.items() for c in ph.checks]
    attempted = sum(ph.n_steps + len(ph.checks) for ph in phases.values())
    failed = sum(not c.ok for _, c in checks)
    for tag, c in checks:
        if not c.ok:
            print(f"perfbench: check failed [{tag}] {c.name}: {c.detail}", file=sys.stderr)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        value = layer.get(name, 0.0) if args.trace else e2e[name]["value"]
        metrics[name] = {"value": float(value), "unit": m["unit"]}

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": _host(spark), "input": data["info"],
        "end_to_end": e2e,  # of the traced phase when --trace 1
        "per_layer": layer if args.trace else None,
        "phases": {tag: {"throughput_per_s": ph.throughput, "steps": len(ph.steps_s),
                         "setup": ph.setup, "info": ph.info} for tag, ph in phases.items()},
        "checks": [{"phase": tag, "name": c.name, "ok": c.ok, "detail": c.detail}
                   for tag, c in checks],
    }
    print(json.dumps(detail, default=str), flush=True)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    spark.stop()
    with open(args.result, "w") as fh:
        fh.write(json.dumps(result))
    return 0


if __name__ == "__main__":
    t = time.time()
    code = main()
    print(f"perfbench: worker done in {time.time() - t:.1f} s", file=sys.stderr)
    sys.exit(code)
