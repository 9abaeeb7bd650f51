"""The two workloads, as sequences of journeys in one session.

- ``etl_queries``: one ETL pass (:mod:`perfbench.etl`), then one pass
  over the 12 headline queries (:mod:`perfbench.queries`) in the same
  JVM, so the queries run in a session the ETL has warmed.  Mutations
  are bypassed.
- ``mutations``: one mutation cycle (:mod:`perfbench.mutations`) in a
  fresh JVM.  The ETL and the query planner are bypassed.

A workload's pass is the sum of its journeys' passes.  Its ops are the
requests a client waits on one at a time: the queries, or the writes.
"""

from __future__ import annotations

from . import etl, mutations, queries
from .common import Ctx
from .stats import median


def _combine(ctx: Ctx, parts: list[dict], op_parts: list[dict]) -> dict:
    out = {
        "setup_s": ctx.session_start_s + sum(p["setup_s"] + p["passes"].settle_s for p in parts),
        "pass_s": sum(median(p["passes"].wall) for p in parts),
        "cpu_s_per_pass": sum(median(p["passes"].cpu) for p in parts),
        "jobs_per_pass": sum(median(p["passes"].jobs) for p in parts),
        "passes": min(len(p["passes"].wall) for p in parts),
        "op_samples": [x for p in op_parts for x in p["op_samples"]],
        "named": {"page_faults_per_pass": (sum(median(p["passes"].faults) for p in parts), "count"),
                  "settle_s": (sum(p["passes"].settle_s for p in parts), "s"),
                  **{k: v for p in parts for k, v in p["named"].items()}},
    }
    if ctx.tracer.enabled:
        out["layers"] = {k: v for p in parts for k, v in p["layers"].items()}
    return out


def etl_queries(ctx: Ctx) -> dict:
    e = etl.run(ctx)
    q = queries.run(ctx)
    return _combine(ctx, [e, q], [q])


def run_mutations(ctx: Ctx) -> dict:
    m = mutations.run(ctx)
    return _combine(ctx, [m], [m])


WORKLOADS = {"etl_queries": etl_queries, "mutations": run_mutations}
