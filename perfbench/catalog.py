"""catalog: closed loop, one client, catalog queries back to back.

Runs a fixed subset of ``bench.BENCH_QUERIES`` plus two ``stream_*``
queries over the sf0.01 tables in ``perfbench/data``, one query after
another, with ``clearCache`` between queries; the seed fixes the order.
Each timed execution collects its result to pandas, as a client would;
after the pass, untimed, every result of the first pass is compared with
its ``ORACLES`` DuckDB query, canonicalised by ``tools/check_oracle.py``.
Passes repeat while a whole pass fits in ``--seconds``; the first pass
runs on a JVM that has only served the warm-up. Each query maps to the
subpackage that implements its main operator, for the per-layer rows.

The workload never touches the topic engine, so log-path changes must not
move it; per-query fixed cost (planning, jobs, Python worker start) is a
large share of each wall at this size.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import random
import time

from perfbench.harness import (
    HERE, ROOT, Measured, geomean, median, percentile, run_workload, session_cpu_s,
)

# query -> subpackage of its main operator
QUERIES = {
    "log_compact": "operators",
    "tpch_q3": "plans",
    "doc_lang_id": "functions",
    "dedup_minhash": "dedup",
    "ann_topk": "similarity",
    "decontaminate": "pipeline",
    "datalake_translate_avro": "sources",
    "stream_window_stats": "streaming",
    "stream_stream_join": "streaming",
}
MODULES = sorted(set(QUERIES.values()))


def sf_dir(smoke: bool) -> str:
    return os.path.join(HERE, "data", "sf0.001" if smoke else "sf0.01")


@functools.cache
def _oracle_checker():
    """tools/check_oracle.py, imported as is."""
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _warm_up(spark) -> None:
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from redpanda_spark.sources.tables import load_table

    load_table(spark, sf_dir(True), "events").count()
    # start the Python worker pool the UDF-bearing queries use
    str_len = pandas_udf(lambda s: s.str.len(), "long")
    spark.range(1000).select(str_len(F.col("id").cast("string"))).write.format(
        "noop").mode("overwrite").save()


def _planning_s(df) -> float:
    """Analysis + optimisation + planning time of ``df``'s query, from
    Spark's QueryPlanningTracker (plans it once more)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().values().iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next().durationMs()
    return total_ms / 1e3


def oracle_results(sf: str, order: list[str]) -> dict:
    """Every query's DuckDB oracle result as (columns, rows)."""
    import duckdb

    from redpanda_spark.datamodel import TESTDATA_TABLES
    from redpanda_spark.plans.queries import ORACLES

    co = _oracle_checker()
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    out = {}
    for name in order:
        res = con.execute(ORACLES[name])
        out[name] = ([d[0] for d in res.description], co.pdf_rows(res.df()))
    con.close()
    return out


def compare(name: str, got, want) -> str | None:
    """Why a result differs from its oracle, or None."""
    co = _oracle_checker()
    (scols, srows), (ocols, orows) = got, want
    if len(srows) != len(orows):
        return f"{name}: rowcount spark={len(srows)} oracle={len(orows)}"
    if sorted(scols) != sorted(ocols):
        return f"{name}: columns spark={sorted(scols)} oracle={sorted(ocols)}"
    if co.norm_rows(scols, srows) != co.norm_rows(ocols, orows):
        return f"{name}: values differ from the oracle"
    return None


def measure(spark, args, tracer, check: bool = True) -> Measured:
    from redpanda_spark.plans.queries import QUERIES as CATALOG

    sf = sf_dir(args.smoke)
    order = list(QUERIES)
    random.Random(args.seed).shuffle(order)
    pdf_rows = _oracle_checker().pdf_rows
    walls: dict[str, list[float]] = {q: [] for q in order}
    results, failures = {}, []
    t_end = time.perf_counter() + args.seconds
    cpu0 = session_cpu_s()
    passes, pass_s = 0, 0.0
    while passes == 0 or time.perf_counter() + pass_s <= t_end:
        t0 = time.perf_counter()
        for name in order:
            try:
                with tracer.span(f"query.{name}", request=passes, spark=True) as span:
                    df = CATALOG[name](spark, sf)
                    if tracer.enabled:
                        span["planning_s"] = _planning_s(df)
                    pdf = df.toPandas()
            except Exception as e:  # a failing query is a failed operation
                failures.append(f"{name} (pass {passes}): {type(e).__name__}: {str(e)[:200]}")
                continue
            finally:
                spark.catalog.clearCache()
            walls[name].append(span["dur"])
            if passes == 0:
                results[name] = (list(df.columns), pdf)
        pass_s = time.perf_counter() - t0
        passes += 1
    cpu_s = session_cpu_s() - cpu0
    attempted = passes * len(order)

    # outside the timed window: the first pass's results against the oracles
    if check:
        want = oracle_results(sf, order)
        for name, (cols, pdf) in results.items():
            why = compare(name, (cols, pdf_rows(pdf)), want[name])
            if why:
                failures.append(why)

    per_query = {q: median(w) for q, w in walls.items() if w}
    total = sum(per_query.values())
    layer = {
        "catalog_wall_s": total,
        "catalog_geomean_s": geomean(per_query.values()),
        **{f"query.{q}_s": w for q, w in per_query.items()},
    }
    for m in MODULES:
        layer[f"{m}.wall_s"] = sum(w for q, w in per_query.items() if QUERIES[q] == m)
    if tracer.enabled:
        for m in MODULES:
            spans = [s for s in tracer.spans if s["name"].startswith("query.")
                     and QUERIES[s["name"][6:]] == m and "jobs" in s]
            for key, out, scale in (("planning_s", "planning_s", 1), ("jobs", "jobs", 1),
                                    ("tasks", "tasks", 1), ("shuffle_bytes", "shuffle_mb", 1e-6),
                                    ("python_s", "python_s", 1)):
                layer[f"{m}.{out}"] = sum(s.get(key, 0.0) for s in spans) * scale / passes
    lat_ms = [w * 1e3 for w in per_query.values()]
    return Measured(
        end_to_end={
            "latency_p50_ms": percentile(lat_ms, 50),
            "latency_p95_ms": percentile(lat_ms, 95),
            "ops_per_s": len(per_query) / total if total else 0.0,
            "cpu_ms_per_op": 1e3 * cpu_s / attempted,
        },
        per_layer=layer,
        attempted=attempted, failed=len(failures), failures=failures,
        context={
            "sf_dir": os.path.relpath(sf, ROOT),
            "samples": {"queries": len(order), "passes": passes},
            "order": order,
        },
    )


def run(args):
    return run_workload(args, _warm_up, measure)
