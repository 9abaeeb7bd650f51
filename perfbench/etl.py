"""The ETL journey of ``etl_queries``: one ``run_pipeline(...,
write_json_sink=True)`` per pass over a seeded OSM XML extract written
as shards during set-up."""

from __future__ import annotations

import json
import os

from . import gen
from .common import Ctx, LayerTable, Passes, repeat_median
from .stats import median

# Input size: a first pass in a fresh JVM costs ~40 s at local[4]
# almost independently of size (README.md), and every run has to fit
# the run budget (README.md).
XML_BYTES = 1 << 20


def _canon(col, dtype):
    """A column expression whose JSON form does not depend on map
    entry order: maps become key-sorted entry arrays, recursively."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dtype, T.MapType):
        entries = F.transform(
            F.map_entries(col),
            lambda e: F.struct(e["key"].alias("k"), _canon(e["value"], dtype.valueType).alias("v")),
        )
        return F.array_sort(entries)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: _canon(x, dtype.elementType))
    if isinstance(dtype, T.StructType):
        return F.struct(*[_canon(col[f.name], f.dataType).alias(f.name) for f in dtype.fields])
    return col


def doc_hash(df) -> tuple[str, dict]:
    """Order-insensitive hash of a documents frame and its row count per
    ``doc_type``, computed in one job."""
    from pyspark.sql import functions as F

    row = F.struct(*[_canon(F.col(f.name), f.dataType).alias(f.name) for f in df.schema.fields])
    h = F.xxhash64(F.to_json(row)).cast("decimal(38,0)")
    groups = df.groupBy("doc_type").agg(F.sum(h), F.count(F.lit(1))).collect()
    by_type = {r[0]: r[2] for r in groups}
    return f"{sum(int(r[1]) for r in groups)}:{sum(by_type.values())}", by_type


def run(ctx: Ctx) -> dict:
    from data_wrangling_osm_xml_with_python_into_mongodb_spark import pipeline

    spark, tr = ctx.spark, ctx.tracer
    xml_dir = os.path.join(ctx.work, "xml")
    gen_s, expect = repeat_median(lambda: gen.write_osm_shards(xml_dir, ctx.seed, XML_BYTES))
    mb = expect.bytes / 1e6
    out_dir = os.path.join(ctx.work, "etl_out")

    counters = None
    if tr.enabled:
        sc = spark.sparkContext
        counters = {"vector_bytes": sc.accumulator(0), "expat_bytes": sc.accumulator(0)}
        tr.wrap(pipeline, "materialize_raw", "osm_xml", defaults={"counters": counters})
        for fn in ("shape_documents", "validate_documents", "build_ref_docs"):
            tr.wrap(pipeline, fn, "shape.plan")
        sink = {"documents.parquet": "sinks.documents", "quarantine.parquet": "sinks.quarantine",
                "ref_docs.parquet": "shape.ref_docs"}
        tr.wrap(pipeline, "write_parquet", lambda a, k: sink[os.path.basename(a[1])])
        tr.wrap(pipeline, "write_json", "sinks.json")

    hashes = []
    memo_path = os.path.join(os.path.dirname(ctx.work), "etl_doc_hash.json")

    def one_pass(i):
        res = pipeline.run_pipeline(spark, xml_dir, out_dir, write_json_sink=True)

        def check():
            c = res.counts
            ctx.check(c["raw_elements"] == expect.raw_elements, f"raw_elements {c['raw_elements']} != {expect.raw_elements}")
            ctx.check(c["quarantined"] == expect.quarantined, f"quarantined {c['quarantined']} != {expect.quarantined}")
            ctx.check(c["ref_docs"] == expect.ref_docs, f"ref_docs {c['ref_docs']} != {expect.ref_docs}")
            digest, by_type = doc_hash(res.documents)
            ctx.check(by_type == expect.documents_by_type, f"documents by type {by_type} != {expect.documents_by_type}")
            hashes.append(digest)
            ctx.check(hashes[-1] == hashes[0], "document hash differs between passes")

        return check

    passes = Passes(ctx)
    passes.run(one_pass)
    tr.restore()

    memo = {}
    if os.path.exists(memo_path):
        with open(memo_path) as f:
            memo = json.load(f)
    key = f"{ctx.seed}:{XML_BYTES}"
    if key in memo:
        ctx.check(memo[key] == hashes[0], f"document hash {hashes[0]} != earlier run {memo[key]}")
    memo[key] = hashes[0]
    with open(memo_path, "w") as f:
        json.dump(memo, f)

    out = {
        "setup_s": gen_s,
        "passes": passes,
        "op_samples": passes.wall,
        "named": {
            "etl_mb_per_s": (mb / median(passes.wall), "MB/s"),
            "etl_cpu_s_per_mb": (median(passes.cpu) / mb, "CPU-s/MB"),
            "etl_input_mb": (mb, "MB"),
            "etl_documents": (expect.documents, "count"),
        },
    }
    if tr.enabled:
        out["layers"] = layers(ctx, counters)
    return out


def layers(ctx: Ctx, counters) -> dict:
    t = LayerTable(ctx)
    m = {}
    osm = t.named("osm_xml")
    m["osm_xml.wall_s"] = t.wall(osm)
    for k in ("executor_cpu_s", "input_bytes", "output_bytes", "python_bytes_sent", "python_bytes_received"):
        m[f"osm_xml.{k}"] = t.sum(osm, k)
    v, e = counters["vector_bytes"].value, counters["expat_bytes"].value
    m["osm_xml.vector_fraction"] = v / (v + e) if v + e else 0.0
    m["shape.plan_s"] = t.wall(t.named("shape.plan"))
    refs = t.named("shape.ref_docs")
    m["shape.ref_docs_s"] = t.wall(refs)
    m["shape.ref_docs_shuffle_bytes"] = t.sum(refs, "shuffle_write_bytes")
    docs = t.named("sinks.documents")
    m["sinks.documents_s"] = t.wall(docs)
    m["sinks.documents_executor_cpu_s"] = t.sum(docs, "executor_cpu_s")
    m["sinks.documents_shuffle_bytes"] = t.sum(docs, "shuffle_write_bytes")
    m["sinks.documents_output_bytes"] = t.sum(docs, "output_bytes")
    m["sinks.quarantine_s"] = t.wall(t.named("sinks.quarantine"))
    js = t.named("sinks.json")
    m["sinks.json_s"] = t.wall(js)
    m["sinks.json_output_bytes"] = t.sum(js, "output_bytes")
    # run_pipeline's own count actions: what follows its last sink call.
    counts_s = counts_jobs = 0.0
    passes = t.passes()
    for p in passes:
        kids = [s for s in t.spans if s["parent"] == p["id"]]
        last = max(kids, key=lambda s: s["end"], default=None)
        if last is not None:
            counts_s += p["end"] - last["end"]
            counts_jobs += p["job1"] - last["job1"]
    m["pipeline.counts_s"] = counts_s
    m["pipeline.counts_jobs"] = counts_jobs
    for k, name in (("jobs", "etl.jobs"), ("stages", "etl.stages"), ("tasks", "etl.tasks"), ("gc_s", "etl.gc_s")):
        m[name] = t.sum(passes, k)
    return m
