"""The queries journey of ``etl_queries``: the 12 headline queries
over seeded sf0.01-shaped tables, in a seeded order per pass.  Each
query is one builder call plus ``collect()``; the collected rows are
checked against the DuckDB oracle after the pass, outside the timer."""

from __future__ import annotations

import os
import time

from . import gen
from .common import Ctx, LayerTable, Passes, repeat_median, value_hash
from .stats import median, timing

# sf0.01 row counts: at sf0.1 the runs do not fit the run budget
# (README.md).
ROWS = gen.SF001_ROWS

# One representative per operator family, as in bench.py's HEADLINE.
HEADLINE = [
    "tpch_q1_pricing_summary", "j2_inner_join_revenue", "j3_semi_join_heavy_orders",
    "j4_most_referenced_parts", "m3_ref_index_parts", "dd1_exact_dedup",
    "dd2_ngram_jaccard_pairs", "dd3_minhash_lsh_pairs", "t2_quality_scores",
    "v1_ann_bruteforce_topk", "v7_wide_ann_topk", "w2_top2_orders_per_customer",
]


def oracle_check(ctx: Ctx, name: str, cols, rows, con, sql: str) -> bool:
    """Compare a collected result with the DuckDB oracle: row count,
    column names and the order-insensitive value hash."""
    rows = [tuple(r) for r in rows]
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    ok = (
        len(rows) == len(drows)
        and sorted(cols) == sorted(dcols)
        and value_hash(cols, rows) == value_hash(dcols, drows)
    )
    return ctx.check(ok, f"{name}: result differs from the oracle ({len(rows)} vs {len(drows)} rows)")


def run(ctx: Ctx) -> dict:
    import duckdb

    from data_wrangling_osm_xml_with_python_into_mongodb_spark.plans import queries as plan_mod
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.plans import oracle_sql_map, queries_map

    spark, tr = ctx.spark, ctx.tracer
    sf = os.path.join(ctx.work, "sf")
    gen_s, _ = repeat_median(lambda: gen.write_tables(sf, gen.sf_tables(ctx.seed, ROWS)), reps=1)
    qs, oracle = queries_map(), oracle_sql_map()
    con = duckdb.connect()
    for t in ROWS:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    order = gen.query_order(ctx.seed, HEADLINE, 64)

    if tr.enabled:
        tr.wrap(plan_mod, "load_table", "tables.load")

    build: dict[str, list[float]] = {q: [] for q in HEADLINE}
    action: dict[str, list[float]] = {q: [] for q in HEADLINE}
    latency: list[float] = []

    def one_pass(i):
        results = {}
        for q in order[i % len(order)]:
            t0 = time.perf_counter()
            try:
                with tr.span("plans.build", query=q):
                    df = qs[q](spark, sf)
                t1 = time.perf_counter()
                with tr.span("plans.action", query=q):
                    rows = df.collect()
            except Exception as e:  # noqa: BLE001 - a failed query is a failed op
                results[q] = e
                continue
            t2 = time.perf_counter()
            build[q].append(t1 - t0)
            action[q].append(t2 - t1)
            latency.append(t2 - t0)
            results[q] = (df.columns, rows)

        def check():
            for q, res in results.items():
                if isinstance(res, Exception):
                    ctx.check(False, f"{q}: raised {type(res).__name__}: {str(res)[:200]}")
                else:
                    oracle_check(ctx, q, *res, con, oracle[q])

        return check

    passes = Passes(ctx)
    passes.run(one_pass)
    tr.restore()
    con.close()

    lat = timing(latency)
    out = {
        "setup_s": gen_s,
        "passes": passes,
        "op_samples": latency,
        "named": {
            "query_set_s": (median(passes.wall), "s"),
            "query_p50_s": (lat["p50"], "s"),
            "query_tail_s": (lat["tail"], "s"),
            "query_tail_pct": (lat["tail_pct"], "%"),
            "query_samples": (lat["n"], "count"),
            "plans.first_pass_build_s": (sum(b[0] for b in build.values()), "s"),
        },
    }
    if tr.enabled:
        out["layers"] = layers(ctx, build, action)
    return out


def layers(ctx: Ctx, build, action) -> dict:
    t = LayerTable(ctx)
    b, a = t.named("plans.build"), t.named("plans.action")
    m = {
        "plans.build_s": t.wall(b),
        "plans.build_jobs": t.sum(b, "jobs"),
        "plans.action_s": t.wall(a),
        "plans.action_jobs": t.sum(a, "jobs"),
        "plans.stages": t.sum(b + a, "stages"),
        "plans.tasks": t.sum(b + a, "tasks"),
        "plans.scan_bytes": t.sum(b + a, "input_bytes"),
        "plans.shuffle_bytes": t.sum(b + a, "shuffle_write_bytes"),
        "plans.executor_cpu_s": t.sum(b + a, "executor_cpu_s"),
        "plans.python_bytes_sent": t.sum(b + a, "python_bytes_sent"),
        "plans.python_bytes_received": t.sum(b + a, "python_bytes_received"),
        "plans.first_pass_build_s": sum(b[0] for b in build.values()),
    }
    for q in HEADLINE:
        m[f"plans.{q}.build_s"] = median(build[q]) if build[q] else 0.0
        m[f"plans.{q}.action_s"] = median(action[q]) if action[q] else 0.0
    loads = t.named("tables.load")
    m["tables.load_s"] = t.wall(loads)
    m["tables.load_calls"] = float(len(loads))
    m["tables.load_jobs"] = t.sum(loads, "jobs")
    return m
