"""Seeded inputs for the benchmark: OSM XML shards, sf0.1-shaped
tables, mutation batches and the query order.

Every generator takes a ``numpy.random.Generator`` (or a seed) and is
deterministic in it.  The package under test only ever sees the files
and frames produced here.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

# -- OSM XML -----------------------------------------------------------

_STREETS = [
    "Ellis St.", "Guide Meridian", "Cornwall Ave", "Holly St", "State St.",
    "Lakeway Dr.", "Samish Wy", "Meridian Rd.", "James St", "Iowa Ave.",
]
_AMENITIES = ["cafe", "restaurant", "fuel", "library", "school;college", "bank;atm"]
_CUISINES = ["pizza", "coffee_shop;donut", "thai;vietnamese;asian", "burger"]
_PHONES = ["(360) 555-{:04d} ext. 12", "306-398-{:04d}", "+1-360-555-{:04d}", "360.555.{:04d}"]
_NAMES = ["Place", "Corner", "House", "Market", "Station", "Park"]


@dataclass
class OsmExpect:
    """What ``run_pipeline`` must report for a generated extract."""

    raw_elements: int = 0
    quarantined: int = 0
    documents_by_type: dict = field(default_factory=dict)
    ref_docs: int = 0
    bytes: int = 0

    @property
    def documents(self) -> int:
        return sum(self.documents_by_type.values())


def _node_xml(rng, i: int, out: list, exp: OsmExpect) -> None:
    created = (
        f'version="{rng.integers(1, 9)}" changeset="{rng.integers(1, 10**7)}" '
        f'timestamp="20{rng.integers(10, 24)}-0{rng.integers(1, 10)}-1{rng.integers(0, 10)}T00:00:00Z" '
        f'user="u{rng.integers(0, 400)}" uid="{rng.integers(0, 400)}"'
    )
    if rng.random() < 0.01:
        # No coordinates: fails the node invariant and is quarantined.
        out.append(f'  <node id="{i}" {created}>\n    <tag k="note" v="no coordinates"/>\n  </node>\n')
        exp.quarantined += 1
        return
    lat = 48.6 + rng.random() * 0.3
    lon = -122.6 + rng.random() * 0.4
    tags = []
    if rng.random() < 0.6:
        tags.append(("name", f"{_NAMES[rng.integers(len(_NAMES))]} {rng.integers(1, 10**6)}"))
    if rng.random() < 0.35:
        tags.append(("amenity", _AMENITIES[rng.integers(len(_AMENITIES))]))
    if rng.random() < 0.15:
        tags.append(("cuisine", _CUISINES[rng.integers(len(_CUISINES))]))
    if rng.random() < 0.3:
        tags.append(("phone", _PHONES[rng.integers(len(_PHONES))].format(rng.integers(0, 10**4))))
    if rng.random() < 0.4:
        tags.append(("addr:street", _STREETS[rng.integers(len(_STREETS))]))
        tags.append(("addr:housenumber", str(rng.integers(1, 5000))))
    if rng.random() < 0.3:
        tags.append(("addr:postcode", f"98{rng.integers(200, 300)}"))
    if rng.random() < 0.1:
        tags.append(("addr:city", "Bellingham"))
    if rng.random() < 0.2:
        tags.append(("payment:visa", "yes" if rng.random() < 0.5 else "no"))
    if rng.random() < 0.25:
        tags.append(("lanes", str(rng.integers(1, 7))))
        if rng.random() < 0.1:
            # Duplicate key: the last value wins (keep-last).
            tags.append(("lanes", "1"))
    if rng.random() < 0.05:
        tags.append(("ele", f"{rng.random() * 100:.1f}"))
    body = "".join(f'    <tag k="{k}" v="{v}"/>\n' for k, v in tags)
    if body:
        out.append(f'  <node id="{i}" lat="{lat:.6f}" lon="{lon:.6f}" {created}>\n{body}  </node>\n')
    else:
        out.append(f'  <node id="{i}" lat="{lat:.6f}" lon="{lon:.6f}" {created}/>\n')
    exp.documents_by_type["node"] = exp.documents_by_type.get("node", 0) + 1


def write_osm_shards(
    dir_path: str, seed: int, target_bytes: int, n_shards: int = 4
) -> OsmExpect:
    """Write ``n_shards`` OSM XML files with disjoint id ranges totalling
    about ``target_bytes``; return the counts the pipeline must report.

    The way and relation shares are drawn from the seed, as are ids,
    tag values and the cleaning triggers (phone formats, street
    abbreviations, ``;`` lists, ``addr:`` keys, duplicate keys)."""
    rng = np.random.default_rng([seed, 1])
    way_share = 0.06 + rng.random() * 0.06
    rel_share = 0.005 + rng.random() * 0.01
    exp = OsmExpect()
    refs: set[int] = set()
    os.makedirs(dir_path, exist_ok=True)
    per = target_bytes // n_shards
    for s in range(n_shards):
        base = (s + 1) * 10**8 + int(rng.integers(0, 10**6)) * 10
        i = base
        recent: list[int] = []
        ways: list[int] = []
        written = 0
        path = os.path.join(dir_path, f"part-{s:04d}.osm")
        with open(path, "w", encoding="utf-8") as f:
            f.write('<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n')
            while written < per:
                out: list[str] = []
                for _ in range(200):
                    i += int(rng.integers(1, 4))
                    r = rng.random()
                    exp.raw_elements += 1
                    if r < way_share and len(recent) >= 8:
                        nds = [recent[j] for j in rng.integers(0, len(recent), rng.integers(2, 9))]
                        out.append(
                            f'  <way id="{i}" version="1" changeset="1" '
                            'timestamp="2020-02-01T00:00:00Z" user="w" uid="1">\n'
                            + "".join(f'    <nd ref="{n}"/>\n' for n in nds)
                            + f'    <tag k="highway" v="{"residential" if rng.random() < 0.7 else "service"}"/>\n'
                            + (f'    <tag k="name" v="{_STREETS[rng.integers(len(_STREETS))]}"/>\n' if rng.random() < 0.5 else "")
                            + "  </way>\n"
                        )
                        refs.update(nds)
                        ways.append(i)
                        exp.documents_by_type["way"] = exp.documents_by_type.get("way", 0) + 1
                    elif r < way_share + rel_share and ways:
                        members = [("way", ways[j]) for j in rng.integers(0, len(ways), rng.integers(1, 4))]
                        members += [("node", recent[j]) for j in rng.integers(0, len(recent), rng.integers(0, 3))]
                        out.append(
                            f'  <relation id="{i}" version="1" changeset="1" '
                            'timestamp="2020-03-01T00:00:00Z" user="r" uid="2">\n'
                            + "".join(f'    <member type="{t}" ref="{m}" role="outer"/>\n' for t, m in members)
                            + '    <tag k="type" v="multipolygon"/>\n'
                            + "  </relation>\n"
                        )
                        refs.update(m for _, m in members)
                        exp.documents_by_type["relation"] = exp.documents_by_type.get("relation", 0) + 1
                    else:
                        _node_xml(rng, i, out, exp)
                        recent.append(i)
                        if len(recent) > 64:
                            recent.pop(0)
                chunk = "".join(out)
                f.write(chunk)
                written += len(chunk)
            f.write("</osm>\n")
            exp.bytes += f.tell()
    exp.ref_docs = len(refs)
    return exp


# -- sf0.1-shaped tables -------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_P_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
_P_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
_P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])

SF01_ROWS = {
    "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
    "part": 20_000, "orders": 150_000, "lineitem": 600_000,
    "documents": 5_000, "embeddings": 2_000,
}
SF001_ROWS = {
    "region": 5, "nation": 25, "customer": 1_500, "supplier": 100,
    "part": 2_000, "orders": 15_000, "lineitem": 60_000,
    "documents": 500, "embeddings": 500,
}


def _dates(rng, n: int, lo: str, hi: str) -> np.ndarray:
    a, b = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (b - a).astype(int) + 1, n)
    return (a + days).astype("datetime64[us]")


def sf_tables(seed: int, n: dict) -> dict:
    """The star schema plus the documents and embeddings tables at the
    row counts ``n`` (``SF01_ROWS``, ``SF001_ROWS``), as pyarrow Tables
    with the column names and types the query registry reads."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 2])
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, c), 2),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, s), 2),
    })
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": _P_TYPES[rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    })
    o = n["orders"]
    t["orders"] = orders_table(seed, o, c)
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, li), 2),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _dates(rng, li, "1995-01-02", "2001-11-04"),
    })
    t["documents"] = _documents(rng, n["documents"])
    e = n["embeddings"]
    labels = rng.integers(0, 10, e)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.6 + rng.normal(0.0, 1.0, (e, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(e, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return t


def orders_columns(rng, keys: np.ndarray, customers: int = SF01_ROWS["customer"]) -> dict:
    """Order rows for ``keys`` (column name -> numpy array)."""
    o = len(keys)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, customers, o).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, o), 2),
        "o_orderdate": _dates(rng, o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, o)],
    }


def orders_table(seed: int, n: int = SF01_ROWS["orders"], customers: int = SF01_ROWS["customer"]):
    """The ``orders`` table on its own random stream, so the mutations
    workload can make the sf0.1 one without the other tables."""
    import pyarrow as pa

    rng = np.random.default_rng([seed, 5])
    return pa.table(orders_columns(rng, np.arange(n), customers))


def _documents(rng, n: int):
    """Bag-of-words documents over a small vocabulary, with exact
    copies and ``dup``-suffixed near copies planted so the dedup
    queries find pairs."""
    import pyarrow as pa

    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    langs = _LANGS[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def write_tables(dir_path: str, tables: dict) -> int:
    """One parquet file per table, ``<dir>/<name>.parquet``; returns
    the bytes written."""
    import pyarrow.parquet as pq

    os.makedirs(dir_path, exist_ok=True)
    total = 0
    for name, tab in tables.items():
        path = os.path.join(dir_path, f"{name}.parquet")
        pq.write_table(tab, path)
        total += os.path.getsize(path)
    return total


# -- queries and mutations ----------------------------------------------


def query_order(seed: int, names: list[str], n_passes: int) -> list[list[str]]:
    """One seeded shuffle of ``names`` per pass."""
    rng = np.random.default_rng([seed, 3])
    return [list(rng.permutation(names)) for _ in range(n_passes)]


@dataclass
class Batch:
    """One mutation: ``keys`` are the live keys it touches, ``new_keys``
    the keys it inserts (merges only), ``price_delta`` what a merge adds
    to ``o_totalprice``."""

    keys: np.ndarray
    new_keys: np.ndarray
    price_delta: float


def mutation_batch(
    rng, op: str, live: np.ndarray, next_key: int, size: int, n_files: int, clustered: bool,
) -> Batch:
    """A batch of ``size`` live keys drawn by ``rng``: spread over the
    whole key space (every file matches) or, when ``clustered``, from
    one of ``n_files`` key ranges (range pruning applies).  Merges also
    insert ``size // 10`` new keys from ``next_key`` on."""
    if clustered:
        lo = int(rng.integers(0, n_files)) * len(live) // n_files
        pool = live[lo: lo + len(live) // n_files]
    else:
        pool = live
    keys = np.sort(rng.choice(pool, min(size, len(pool)), replace=False))
    n_new = size // 10 if op.startswith("merge") else 0
    return Batch(keys, np.arange(next_key, next_key + n_new, dtype=np.int64), float(rng.integers(1, 1000)))


def lsh_bands(rng, doc_ids: np.ndarray, history: list, n_bands: int = 4) -> tuple[list, dict]:
    """Band rows ``(doc_id, band_idx, bucket)`` for one LSH ingest.

    A fifth of the docs copy every band of a doc from an earlier
    ingest (expected status ``near_dup_of_store``), a tenth copy a
    doc of this batch (``near_dup_in_batch``), and the rest get fresh
    buckets (``new``).  ``history`` holds the band tuples of earlier
    ingests and is extended in place."""
    rows, mine = [], []
    expect = {"near_dup_of_store": 0, "near_dup_in_batch": 0, "new": 0}
    for d in doc_ids:
        r = rng.random()
        if history and r < 0.2:
            bands = history[int(rng.integers(0, len(history)))]
            expect["near_dup_of_store"] += 1
        elif len(mine) > 0 and r < 0.3:
            bands = mine[int(rng.integers(0, len(mine)))]
            expect["near_dup_in_batch"] += 1
        else:
            bands = tuple(f"{b}_{int(d)}_{int(rng.integers(0, 1 << 30))}" for b in range(n_bands))
            mine.append(bands)
            expect["new"] += 1
        rows.extend((int(d), b, bands[b]) for b in range(n_bands))
    history.extend(mine)
    return rows, expect
