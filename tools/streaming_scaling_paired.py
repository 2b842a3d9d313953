"""Paired-batch scaling efficiency on the sustained streaming metric.

The envelope-gated attempt loop (tools/streaming_scaling_bench.py)
spends ~25 min per attempt and discards the whole attempt when the
host's per-core envelope drifts between the two windows — on a noisy
host that can reject every attempt while telling us nothing about the
pipeline. This tool extracts MORE evidence from ONE pair instead:

MATCHED BATCHING means micro-batch i contains byte-identical rows at
both parallelism levels, so the per-batch walls align by index and each
tail batch yields one paired sample

    eff_i = wall_small_i / (ratio * wall_large_i)

With 8 batches (7 tail pairs) the MEDIAN per-batch efficiency is robust
to the episodic single-batch stalls documented in BENCH.md, which a
whole-window mean (or a 3-batch median) is not. The machine envelope is
still measured immediately before each level and reported — as a
NORMALIZATION factor and honesty check, not a discard gate.

Usage: python tools/streaming_scaling_paired.py [n_small] [n_large] [n_convs]
Env: FULL_STACK_MAX_FILES (default 8 -> 8 batches over the 64-file input),
     plus the other FULL_STACK_* knobs of streaming_full_stack_bench.py:
     FULL_STACK_INPUT, FULL_STACK_VERDICT, FULL_STACK_SALT,
     FULL_STACK_LABEL_MAX_DELTA, FULL_STACK_ESC, FULL_STACK_ESC_MAX_FILES,
     FULL_STACK_ESC_PREFILTER, FULL_STACK_ESC_METRICS, FULL_STACK_JOIN,
     FULL_STACK_JOIN_MAX_FILES, FULL_STACK_JOIN_RAMP, FULL_STACK_JOIN_DEDUPE.
Prints a JSON summary; BENCH.md reporting is written by the operator
with the run context.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scaling_bench import _GEN, INPUT_BASE  # noqa: E402
from streaming_scaling_bench import REPO, run_level  # noqa: E402
import subprocess  # noqa: E402


def main() -> None:
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    n_large = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    n_convs = int(sys.argv[3]) if len(sys.argv) > 3 else 1_500_000
    os.environ.setdefault("FULL_STACK_MAX_FILES", "8")
    input_dir = os.environ.get("FULL_STACK_INPUT", f"{INPUT_BASE}_{n_convs}")
    if not os.path.exists(os.path.join(input_dir, "_SUCCESS")):
        subprocess.run(
            [sys.executable, "-c", _GEN.format(repo=REPO, input_dir=input_dir), str(n_convs)],
            capture_output=True, text=True, timeout=1800, check=True,
        )
    ratio = n_large / n_small
    small = run_level(input_dir, n_small)
    large = run_level(input_dir, n_large)
    sw, lw = small["batch_walls"], large["batch_walls"]
    assert len(sw) == len(lw), (sw, lw)
    per_batch = [s / (ratio * l) for s, l in zip(sw[1:], lw[1:])]  # tail only
    per_batch_sorted = sorted(per_batch)
    eff = statistics.median(per_batch)
    env_eff = large["envelope_per_core"] / small["envelope_per_core"]
    # Total-wall efficiency: wall until BOTH concurrent queries (pipeline
    # + escalation) finish the whole input. Per-batch pairs can compare
    # different contention states — the escalation query finishes at a
    # different point in each level's run, so a batch index that was
    # contended at one level may be post-escalation clean at the other.
    # The total wall integrates that interference and is the number a
    # capacity planner uses: rows in / seconds until the job is done.
    eff_total = small["wall_both_queries_sec"] / (ratio * large["wall_both_queries_sec"])
    # FULL_STACK_JOIN=1 adds the stream-stream join as a third stage
    # (runs after the pipeline+escalation pair); report its own paired
    # efficiency so the scaling criterion covers all three stateful
    # stages (VERDICT r6 item 4)
    join_extra = {}
    if small.get("join") and large.get("join"):
        js, jl = small["join"]["join_wall_sec"], large["join"]["join_wall_sec"]
        join_extra = {
            f"local[{n_small}]_join_wall": round(js, 1),
            f"local[{n_large}]_join_wall": round(jl, 1),
            "join_scaling_efficiency": round(js / (ratio * jl), 3),
            f"local[{n_small}]_join_state_rows": small["join"]["state_rows_by_batch"],
            f"local[{n_large}]_join_state_rows": large["join"]["state_rows_by_batch"],
        }
    print(json.dumps({
        "metric": "everything-on full-stack streaming, per-batch paired efficiency",
        "input_rows": small["rows"],
        "batches": small["batches"],
        "tail_pairs": len(per_batch),
        f"local[{n_small}]_batch_walls": sw,
        f"local[{n_large}]_batch_walls": lw,
        f"local[{n_small}]_steady_median": round(small["steady_median_rows_per_sec"], 1),
        f"local[{n_large}]_steady_median": round(large["steady_median_rows_per_sec"], 1),
        f"local[{n_small}]_sustained": round(small["sustained_rows_per_sec"], 1),
        f"local[{n_large}]_sustained": round(large["sustained_rows_per_sec"], 1),
        f"local[{n_small}]_wall_both_queries": round(small["wall_both_queries_sec"], 1),
        f"local[{n_large}]_wall_both_queries": round(large["wall_both_queries_sec"], 1),
        "per_batch_eff_sorted": [round(e, 3) for e in per_batch_sorted],
        "scaling_efficiency_paired_median": round(eff, 3),
        "scaling_efficiency_total_wall": round(eff_total, 3),
        "machine_envelope_eff": round(env_eff, 3),
        "normalized_eff": round(eff / env_eff, 3),
        "meets_0.8_target": eff >= 0.8,
        **join_extra,
    }, indent=2))


if __name__ == "__main__":
    main()
