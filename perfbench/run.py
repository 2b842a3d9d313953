#!/usr/bin/env python3
"""Benchmark entry point for the osprey_spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see ``BENCHMARK.json``):

- ``stream_pipeline``: the rule stream (``RuleStreamPipeline`` over a wide
  SML ruleset with verdict tracking: rule plan, MOR label/verdict state
  stores, sink), then the stateful operators over the same turns:
  escalation (TWS) -> alert dedupe + stream-stream join -> CEP (TWS), on
  the RocksDB state provider;
- ``console_queries``: 11 of the 14 headline ``__spark_entry__.queries()``
  in a seeded closed loop, each checked against its DuckDB ``oracle_sql()``.

Run from the repository root. The launcher prepares a scratch directory
(``.perfbench_work/``) and the environment the engine needs *before* the
JVM starts — ``PYTHONPATH`` must name the repository root or the
``transformWithStateInPandas`` Python workers cannot import
``osprey_spark`` — then runs ``perfbench/worker.py`` in its own process
group, waits for it, and stops every process left in that group.

The worker prints a detail line (every metric with its unit, sample
count and, for tails, the percentile used; plus the host stamp) and the
launcher prints the result object as the last line of stdout:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (and writes the span trace to ``.perfbench_out/``). Exit code is
non-zero, with no result line, when the run cannot complete.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("stream_pipeline", "console_queries")
# the whole run must end within 180 s; leave room to stop the JVM
CHILD_TIMEOUT_S = 165
DRIVER_MEM = "4g"


def _group_members(pgid: int) -> list[int]:
    """Live (non-zombie) processes of a process group, from /proc."""
    live = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after "(comm)": state ppid pgrp ...
        fields = stat[stat.rfind(")") + 2 :].split()
        if len(fields) > 2 and int(fields[2]) == pgid and fields[0] != "Z":
            live.append(int(entry))
    return live


def _stop_group(pgid: int) -> None:
    """TERM, then KILL, every process left in the worker's group and wait
    until none is alive."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if not _group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.time() + grace
        while time.time() < end and _group_members(pgid):
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "osprey_spark")):
        print("perfbench: osprey_spark/ not found next to perfbench/", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    result_path = os.path.join(work, "result.json")

    env = dict(os.environ)
    paths = [ROOT, HERE] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else [])
    env["PYTHONPATH"] = os.pathsep.join(paths)
    env["TMPDIR"] = tmp
    # every JVM (spark-submit's launcher and the Spark JVM): temp files under the
    # checkout, and no hsperfdata files in the system temp directory
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    env["PYTHONUNBUFFERED"] = "1"

    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--result", result_path,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)

    def _on_signal(signum, _frame):
        _stop_group(proc.pid)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: worker exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
        code = -1
    _stop_group(proc.pid)
    proc.wait()
    if code != 0 or not os.path.exists(result_path):
        print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
        return 1
    with open(result_path) as fh:
        line = fh.read().strip()
    shutil.rmtree(work, ignore_errors=True)
    print(line, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
