"""The ``mutations`` workload: one cycle of CowTable writes, each
followed by a read, then compaction, the change feed, an LSH bucket
store ingest and probe, and vacuum.

Two CowTables hold the seeded sf0.1 ``orders`` (150k rows,
range-clustered into 16 files, bloom index on ``o_orderkey``).  The
change-feed table takes a cow merge, a mor merge and a DV delete; the
plain table takes a cow merge, the non-CDF write path the change-feed
one is compared with (the run budget leaves no room for more).  An
independent pandas model of the applied batches is the expected state.

The cycle is the first run of these code paths in its JVM: a warm-up
cycle on small tables cut the cycle from ~31 s to ~24 s but cost ~25 s
of set-up, which the run budget (README.md) does not allow.
"""

from __future__ import annotations

import os
import time

import numpy as np

from . import gen
from .common import Ctx, LayerTable, Passes, dir_bytes, repeat_median
from .stats import median, timing

N_FILES = 16
BATCH_KEYS = 2000
LSH_DOCS = 400
WRITES = {"plain": ("merge_cow",), "cdf": ("merge_cow", "merge_mor", "delete_dv")}
OPS = ("merge_cow", "merge_mor", "delete_dv", "read", "read_point", "read_changes",
       "compact", "vacuum", "lsh_ingest", "lsh_probe")
BAND_SCHEMA = "doc_id long, band_idx int, bucket string"


def _pins(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def _snapshot_matches(sdf, model) -> bool:
    """The table snapshot equals the model row for row."""
    got = sdf.toPandas().sort_values("o_orderkey").reset_index(drop=True)
    want = model.reset_index().sort_values("o_orderkey").reset_index(drop=True)
    if len(got) != len(want) or list(got.columns) != list(want.columns):
        return False
    for c in want.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if np.issubdtype(b.dtype, np.datetime64):
            a, b = a.astype("datetime64[us]"), b.astype("datetime64[us]")
        if not np.array_equal(a, b):
            return False
    return True


class Cycle:
    """Two CowTables and an LSH store under ``root``, the model of what
    they must hold, and the operations of one cycle with their
    latencies and counters."""

    def __init__(self, ctx: Ctx, orders, root: str):
        """Create the tables from ``orders`` (a pyarrow Table) under
        ``root``."""
        import pyarrow.parquet as pq

        from data_wrangling_osm_xml_with_python_into_mongodb_spark.operators.lsh_store import LshBucketStore
        from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.cow_table import CowTable

        self.ctx, self.spark = ctx, ctx.spark
        self.n_rows = len(orders)
        os.makedirs(root, exist_ok=True)
        src = os.path.join(root, "orders.parquet")
        pq.write_table(orders, src)
        self.row_bytes = os.path.getsize(src) / len(orders)
        base = self.spark.read.parquet(src)
        self.schema = base.schema
        self.paths = {"plain": os.path.join(root, "cow_plain"), "cdf": os.path.join(root, "cow_cdf")}
        for name, path in self.paths.items():
            CowTable.create(self.spark, path, base.repartitionByRange(N_FILES, "o_orderkey"),
                            bloom_col="o_orderkey", change_feed=name == "cdf")
        self.tables = {name: CowTable(self.spark, path) for name, path in self.paths.items()}
        # the change feed is read from the first version of the cycle:
        # vacuum at the end of a cycle drops the older change files
        self.cycle_start = self.tables["cdf"].version() + 1
        self.store = LshBucketStore(self.spark, os.path.join(root, "lsh"))
        self.model = {name: orders.to_pandas().set_index("o_orderkey") for name in self.paths}
        self.rng = np.random.default_rng([ctx.seed, 4])
        self.next_key = len(orders)
        self.history: list = []
        self.pending: list = []
        self.changes = {"insert": 0, "update_preimage": 0, "update_postimage": 0, "delete": 0}
        self.lat: dict[str, list[float]] = {k: [] for k in OPS}
        self.writes: list[float] = []
        self.acc = {"bytes_written": 0, "batch_bytes": 0.0, "files_rewritten": 0, "files_probed": 0,
                    "files_kept": 0, "dv_rows": 0, "pins_leaked": 0, "probe_files": 0, "probe_total": 0}
        self.n_writes = self.n_reads = self.n_ingests = 0

    def timed(self, op: str, label: str, fn):
        """Run one operation under its own span and timer; record the
        persistent-RDD pins it leaves behind (reported, not failed)."""
        p0 = _pins(self.spark)
        t = time.perf_counter()
        with self.ctx.tracer.span(f"lsh_store.op.{op}" if op.startswith("lsh") else f"cow.{label}"):
            out = fn()
        dt = time.perf_counter() - t
        self.acc["pins_leaked"] += max(0, _pins(self.spark) - p0)
        self.lat[op].append(dt)
        return out, dt

    def write(self, name: str, op: str) -> None:
        import pandas as pd

        ctx, T, M = self.ctx, self.tables[name], self.model[name]
        # spread and clustered batches alternate, so every seed runs the
        # same mix of pruned and unpruned writes
        clustered = self.n_writes % 2 == 1
        self.n_writes += 1
        b = gen.mutation_batch(self.rng, op, M.index.to_numpy(), self.next_key, BATCH_KEYS, N_FILES, clustered)
        label = op + ("_cdf" if name == "cdf" else "")
        before = dir_bytes(self.paths[name])[0]
        if op == "delete_dv":
            keys_df = self.spark.createDataFrame([(int(k),) for k in b.keys], "o_orderkey long")
            doc, dt = self.timed(op, label, lambda: T.delete("o_orderkey", deletes=keys_df, mode="dv"))
            M.drop(index=b.keys, inplace=True)
            if name == "cdf":
                self.changes["delete"] += len(b.keys)
            n_rows = len(b.keys)
        else:
            upd = M.loc[b.keys].copy()
            upd["o_totalprice"] = upd["o_totalprice"] + b.price_delta
            new_df = pd.DataFrame(gen.orders_columns(self.rng, b.new_keys)).set_index("o_orderkey")
            self.next_key += len(b.new_keys)
            src = pd.concat([upd, new_df]).reset_index()[self.schema.fieldNames()]
            src_df = self.spark.createDataFrame(src, self.schema)
            strategy = op.split("_")[1]
            doc, dt = self.timed(op, label, lambda: T.merge(src_df, "o_orderkey", strategy=strategy))
            M.loc[b.keys, "o_totalprice"] = upd["o_totalprice"]
            self.model[name] = pd.concat([M, new_df])
            if name == "cdf":
                self.changes["update_preimage"] += len(b.keys)
                self.changes["update_postimage"] += len(b.keys)
                self.changes["insert"] += len(b.new_keys)
            n_rows = len(b.keys) + len(b.new_keys)
        self.writes.append(dt)
        self.acc["bytes_written"] += max(0, dir_bytes(self.paths[name])[0] - before)
        self.acc["batch_bytes"] += n_rows * self.row_bytes
        for k in ("files_rewritten", "files_probed", "files_kept"):
            self.acc[k] += int(doc.get(k) or 0)
        self.acc["dv_rows"] += len(b.keys) if op in ("delete_dv", "merge_mor") else 0

        # the read after the write, alternating full scan and point read
        want_rows = len(self.model[name])
        if self.n_reads % 2 == 0:
            n, _ = self.timed("read", "read", lambda: T.read().count())
            ctx.check(n == want_rows, f"{label}: read {n} rows, model has {want_rows}")
        else:
            probe = [int(k) for k in b.keys]
            n, _ = self.timed("read_point", "read_point", lambda: T.read_point("o_orderkey", probe).count())
            want = 0 if op == "delete_dv" else len(probe)
            ctx.check(n == want, f"{label}: read_point found {n} rows, expected {want}")
        self.n_reads += 1

    def _lsh_batch(self):
        ids = np.arange(self.n_ingests * LSH_DOCS, (self.n_ingests + 1) * LSH_DOCS)
        rows, expect = gen.lsh_bands(self.rng, ids, self.history)
        return self.spark.createDataFrame(rows, BAND_SCHEMA), expect

    def lsh(self) -> None:
        """Ingest one batch into the store, then probe the next batch
        against it (the store exists from the first ingest on)."""
        ctx = self.ctx
        bands, expect = self.pending.pop() if self.pending else self._lsh_batch()

        def ingest():
            status, _ = self.store.ingest(bands, self.n_ingests)
            return {r[0]: r[1] for r in status.groupBy("status").count().collect()}

        got, dt = self.timed("lsh_ingest", "lsh_ingest", ingest)
        self.writes.append(dt)
        want = {k: v for k, v in expect.items() if v}
        ctx.check(got == want, f"lsh ingest statuses {got} != {want}")
        self.n_ingests += 1
        bands, expect = self._lsh_batch()
        n, _ = self.timed("lsh_probe", "lsh_probe", lambda: self.store.probe(bands).count())
        self.acc["probe_files"] += self.store.last_probe.get("files_probed", 0)
        self.acc["probe_total"] += self.store.last_probe.get("files_total", 0)
        want_hits = expect["near_dup_of_store"]
        ctx.check(n == want_hits, f"lsh probe hit {n} docs, expected {want_hits}")
        self.pending.append((bands, expect))

    def run(self, i: int = 0):
        self.changes = dict.fromkeys(self.changes, 0)
        for name, ops in WRITES.items():
            for op in ops:
                self.write(name, op)
        cdf = self.tables["cdf"]
        # compaction materializes the deletion vectors the mor merge and
        # the DV delete left on the change-feed table
        self.timed("compact", "compact", lambda: cdf.compact(target_rows=self.n_rows // N_FILES))
        got, _ = self.timed("read_changes", "read_changes", lambda: {
            r[0]: r[1] for r in cdf.read_changes(self.cycle_start).groupBy("_change_type").count().collect()})
        want = {k: v for k, v in self.changes.items() if v}
        self.ctx.check(got == want, f"change feed counts {got} != {want}")
        self.lsh()
        for T in self.tables.values():
            self.timed("vacuum", "vacuum", lambda: T.vacuum(retain_last=1))

        def next_cycle():
            self.cycle_start = cdf.version() + 1

        return next_cycle

    def check_heads(self) -> None:
        for name, T in self.tables.items():
            self.ctx.check(_snapshot_matches(T.read(), self.model[name]), f"{name}: head snapshot differs from the model")


def run(ctx: Ctx) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_wrangling_osm_xml_with_python_into_mongodb_spark.operators.lsh_store import LshBucketStore
    from data_wrangling_osm_xml_with_python_into_mongodb_spark.sources.cow_table import CowTable

    tr = ctx.tracer
    gen_s, orders = repeat_median(lambda: gen.orders_table(ctx.seed))
    if tr.enabled:
        for m in ("merge", "delete", "read", "read_point", "read_changes", "compact", "vacuum"):
            tr.wrap(CowTable, m, f"cow.call.{m}")
        for m in ("version", "files", "history"):
            tr.wrap(CowTable, m, "cow.metadata")
        tr.wrap(LshBucketStore, "ingest", "lsh_store.ingest")
        tr.wrap(LshBucketStore, "probe", "lsh_store.probe")

    t0 = time.perf_counter()
    cyc = Cycle(ctx, orders, ctx.work)
    stage_s = time.perf_counter() - t0

    passes = Passes(ctx)
    passes.run(cyc.run)
    metadata = layers_pre(ctx) if tr.enabled else {}
    tr.restore()

    # output checks and size accounting, outside the timed region
    cyc.check_heads()
    table_bytes = sum(dir_bytes(p)[0] for p in cyc.paths.values())
    head_bytes = 0
    for name, M in cyc.model.items():
        out = os.path.join(ctx.work, f"head_{name}.parquet")
        pq.write_table(pa.Table.from_pandas(M.reset_index(), preserve_index=False), out)
        head_bytes += os.path.getsize(out)
    log = [dir_bytes(os.path.join(p, "_log")) for p in cyc.paths.values()]

    lat, acc, w = cyc.lat, cyc.acc, timing(cyc.writes)
    named = {
        "merge_cow_p50_s": (median(lat["merge_cow"]), "s"),
        "merge_mor_p50_s": (median(lat["merge_mor"]), "s"),
        "delete_p50_s": (median(lat["delete_dv"]), "s"),
        "read_p50_s": (median(lat["read"] + lat["read_point"]), "s"),
        "mutation_tail_s": (w["tail"], "s"),
        "mutation_tail_pct": (w["tail_pct"], "%"),
        "mutation_write_samples": (w["n"], "count"),
        "write_amp": (acc["bytes_written"] / acc["batch_bytes"], "ratio"),
        "space_amp": (table_bytes / head_bytes, "ratio"),
        "pinned_rdds_leaked": (acc["pins_leaked"], "count"),
    }
    out = {"setup_s": gen_s + stage_s, "passes": passes, "op_samples": cyc.writes, "named": named}
    if tr.enabled:
        m = {}
        for label in ("merge_cow", "merge_mor", "merge_cow_cdf", "merge_mor_cdf", "delete_dv",
                      "delete_dv_cdf", "read", "read_point", "read_changes", "compact", "vacuum"):
            spans = metadata["spans"].get(label, [])
            m[f"cow.{label}.wall_s"] = sum(s["end"] - s["start"] for s in spans)
            m[f"cow.{label}.jobs"] = float(sum(s["job1"] - s["job0"] for s in spans))
        m["cow.bytes_written"] = float(acc["bytes_written"])
        for k in ("files_rewritten", "files_probed", "files_kept", "dv_rows"):
            m[f"cow.{k}"] = float(acc[k])
        m["cow.log_bytes"] = float(sum(b for b, _ in log))
        m["cow.log_files"] = float(sum(n for _, n in log))
        m["cow.metadata_s"] = metadata["metadata_s"]
        m["cow.pinned_rdds_leaked"] = float(acc["pins_leaked"])
        m.update(metadata["lsh"])
        m["lsh_store.files_probed_frac"] = acc["probe_files"] / acc["probe_total"] if acc["probe_total"] else 0.0
        out["layers"] = m
    return out


def layers_pre(ctx: Ctx) -> dict:
    """Layer numbers from the spans: each timed operation is a
    ``cow.<op>`` span directly under a pass."""
    t = LayerTable(ctx)
    spans: dict[str, list[dict]] = {}
    for s in t.spans:
        if s["name"].startswith("cow.") and s["parent"] is not None and t.spans[s["parent"]]["name"] == "pass":
            spans.setdefault(s["name"][4:], []).append(s)
    ing = [s for s in t.named("lsh_store.ingest") if t.spans[s["parent"]]["name"] == "lsh_store.op.lsh_ingest"]
    probes = [s for s in t.named("lsh_store.probe") if t.spans[s["parent"]]["name"] == "lsh_store.op.lsh_probe"]
    return {
        "spans": spans,
        "metadata_s": t.wall(t.named("cow.metadata")),
        "lsh": {
            "lsh_store.ingest_s": t.wall(ing),
            "lsh_store.ingest_jobs": t.sum(ing, "jobs"),
            "lsh_store.probe_s": t.wall(probes),
        },
    }
