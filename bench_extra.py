"""Round-7 optimization harness (bench.py is FROZEN for measurement; this
file holds the extra instrumentation the optimization round needs).

Modes:
  python bench_extra.py plans [before|after]   -> write plans/r07/<q>_{before,after}.txt
  python bench_extra.py time [query ...]       -> N repeats per query, per-run walls
  python bench_extra.py all                    -> both

Same session shape as bench.py ($SPARK_GRAFT_SF_DIR / $SPARK_GRAFT_CPUS,
noop sink, job descriptions per guide §1.5)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEATS = int(os.environ.get("BENCH_EXTRA_REPEATS", "4"))


def main() -> None:
    import __spark_entry__ as entry_mod
    from osprey_spark.session import get_spark

    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    tag = "before"
    names = HEADLINE
    if mode == "plans" and len(sys.argv) > 2:
        tag = sys.argv[2]
    if mode == "time" and len(sys.argv) > 2:
        names = sys.argv[2:]

    spark = get_spark(cores=CPUS, app_name="osprey_spark_bench_extra", shuffle_partitions=CPUS)
    queries = entry_mod.queries()
    spark.read.parquet(f"{SF_DIR}/events.parquet").count()

    if mode in ("plans", "all"):
        os.makedirs("plans/r07", exist_ok=True)
        for name in HEADLINE:
            df = queries[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
            with open(f"plans/r07/{name}_{tag}.txt", "w") as f:
                f.write(plan)
            print(f"wrote plans/r07/{name}_{tag}.txt")

    if mode in ("time", "all"):
        out: dict[str, list[float]] = {}
        for name in names:
            fn = queries[name]
            walls = []
            for i in range(REPEATS):
                spark.sparkContext.setJobDescription(f"{name} run{i}")
                t0 = time.perf_counter()
                df = fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                walls.append(round(time.perf_counter() - t0, 3))
                spark.sparkContext.setJobDescription(None)
            out[name] = walls
            print(name, walls, flush=True)
        print(json.dumps(out))


if __name__ == "__main__":
    main()
