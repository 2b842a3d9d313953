"""``console_queries``: the analyst console.

Eleven of the 14 headline ``__spark_entry__.queries()`` (the list
``bench.py`` times) on seeded tables in the shape of ``sf0.1``
(``inputs.py``); ``LEFT_OUT`` names the other three and why. One
analyst issues them in a closed loop, a fresh seeded order each pass;
each query is built and fully evaluated through a ``noop`` write, as
``bench.py`` does. The first pass is
warm-up: it collects every query's rows, which are compared with its
DuckDB ``oracle_sql()`` after the measuring window. The window holds
whole passes, at least two.
"""

from __future__ import annotations

import os
import random
import time

from harness import Check, Phase, PhaseOpts, log, percentile, step_summary

MIN_PASSES = 2  # the sample count must not depend on how fast one pass runs

# headline query -> the module that does its work; every one is checked
# against its oracle each run
HEADLINE = {
    "rule_eval": "compiler",
    "timeseries_hourly": "analytics",
    "topn_event_types": "analytics",
    "distinct_users_by_type": "analytics",
    "velocity_tumbling": "velocity",
    "cep_ordered_pattern": "sessions",
    "dedup_exact": "dedup",
    "dedup_minhash_lsh": "dedup",
    "text_token_counts": "textstats",
    "text_lang_id": "textstats",
    "sim_knn_join": "similarity",
}
# headline queries whose engine answer differs from their oracle on
# tables of sf0.1's shape, so a run that times them cannot be correct
LEFT_OUT = {
    "velocity_trailing": "attach_trailing_count orders its range frame by whole-second "
                         "unix_timestamp; the oracle orders by exact ts (sf0.1 itself "
                         "differs on 1 row)",
    "sessionization": "sessionize compares gaps in whole seconds; the oracle compares "
                      "exact ones",
    "sim_cosine_topk": "cosine_topk rounds to 6 dp and the query again to 4 dp; the "
                       "oracle rounds once",
}
TABLES = ("events", "documents", "embeddings")


def layer_name(query: str) -> str:
    return f"{HEADLINE[query]}.{query}_s"


def run_phase(spark, work: str, tag: str, inputs: dict, seconds: float,
              opts: PhaseOpts) -> Phase:
    import __spark_entry__ as entry

    data = inputs["data"]
    queries = entry.queries()
    rng = random.Random(inputs["seed"])
    tracer, status = opts.tracer, opts.status

    def issue(name: str) -> float:
        t = time.perf_counter()
        if tracer is None:
            queries[name](spark, data).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t
        with tracer.span(f"console.{name}", module=HEADLINE[name]):
            with tracer.span("build"):
                df = queries[name](spark, data)
            with tracer.span("execute"):
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def seeded_order() -> list[str]:
        order = sorted(HEADLINE)
        rng.shuffle(order)
        return order

    # warm-up pass: each query collected once, for the oracle checks below
    t = time.perf_counter()
    collected = {}
    for name in seeded_order():
        sdf = queries[name](spark, data)
        collected[name] = (sdf.columns, [r.asDict(recursive=True) for r in sdf.collect()])
    warm_s = time.perf_counter() - t

    mark = status.mark() if status is not None else None
    samples: list[tuple[str, float]] = []
    t0 = time.perf_counter()
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() - t0 < seconds:
        samples.extend((name, issue(name)) for name in seeded_order())
        passes += 1
    wall = time.perf_counter() - t0
    counters = status.since(mark) if status is not None else {}

    per_query = {layer_name(q): percentile([s for n, s in samples if n == q], 50)
                 for q in HEADLINE}
    t = time.perf_counter()
    log(f"{tag}: checks")
    checks = _oracle_checks(collected, entry.oracle_sql(), data) if opts.check else []
    checks_s = time.perf_counter() - t
    log(f"{tag}: checks done in {checks_s:.1f} s")
    return Phase(
        setup={"warm_s": warm_s},
        steps_s=[s for _, s in samples],
        work=len(samples),
        wall_s=wall,
        checks=checks,
        layer=per_query,
        info={"stage": "wl_console", **step_summary([s for _, s in samples], len(samples), wall),
              "passes": passes, "checks_s": checks_s, "status": counters,
              "left_out": LEFT_OUT,
              "query_s_p50": per_query},
    )


def _oracle_checks(collected: dict, oracles: dict, data: str) -> list[Check]:
    """Row count, column names and order-insensitive values of each query
    against its DuckDB oracle on the same tables, compared as the
    repository's oracle gate (``tools/check_oracle.py``) compares them."""
    import duckdb

    from tools.check_oracle import normalize, row_key

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
    checks = []
    for name, (cols, rows) in collected.items():
        srows = sorted(str(row_key(r, cols)) for r in rows)
        if name not in oracles:
            checks.append(Check(f"console.{name}", bool(srows), f"rows-only {len(srows)}"))
            continue
        ddf = con.execute(oracles[name]).fetch_df()
        colmap = {c.lower(): c for c in ddf.columns}
        if sorted(colmap) != sorted(c.lower() for c in cols):
            checks.append(Check(f"console.{name}", False,
                                f"columns {sorted(cols)} != {sorted(ddf.columns)}"))
            continue
        drows = sorted(str(tuple(normalize(r[colmap[c.lower()]]) for c in sorted(cols)))
                       for r in ddf.to_dict("records"))
        only_s, only_d = sorted(set(srows) - set(drows)), sorted(set(drows) - set(srows))
        checks.append(Check(
            f"console.{name}", srows == drows,
            f"rows spark={len(srows)} duckdb={len(drows)} "
            f"only_spark={len(only_s)} {only_s[:1]} only_duckdb={len(only_d)} {only_d[:1]}"))
    con.close()
    return checks
