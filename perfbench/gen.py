"""Seeded input generator for the graft benchmark.

Everything is derived from an integer seed with numpy's PCG64, so the same
seed writes byte-identical inputs. Three kinds of input:

* ``tables``: the sf0.1-shaped parquet tables the query packs read
  (region .. lineitem, events, documents, embeddings). They use a fixed data
  seed: the query workloads' run seed only orders the queries, which keeps
  per-query fingerprints comparable across runs.
* ``etl_drops``: NDJSON drops of ``orders`` and ``lineitem`` with ~1%
  malformed lines and re-delivered duplicates, plus the counts a correct
  job reports.
* ``ingest_drops``: NDJSON drops of documents with planted near-duplicates,
  plus the doc ids a correct near-dup ingest keeps.
"""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "signup", "purchase", "error")
ADJ = ("blue", "hot", "large", "old", "cold", "red", "small", "green")
NOUN = ("anvil", "ring", "bolt", "plate", "gear", "widget", "rod", "gizmo")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

# row counts of the sf0.1 test data the packs are sized for
ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "events": 100000,
        "documents": 5000, "embeddings": 2000}


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _doc_text(rng):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(20, 90))))


def build_tables(seed=DATA_SEED):
    """Return {name: pyarrow.Table} for every table the packs read, with
    the sf0.1 row counts."""
    rows = ROWS
    t = {}
    r = _rng(seed, 0)
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(r.integers(0, 5, 25), pa.int32())})
    n = rows["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": _pick(r, SEGMENTS, n)})
    n = rows["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n)})
    n = rows["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(r.integers(0, 8, n), r.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
        "p_type": _pick(r, PTYPES, n),
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n) % 1000) / 10.0})
    n = rows["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, rows["customer"], n), pa.int64()),
        "o_orderstatus": _pick(r, ("F", "O", "P"), n),
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _days(r, "1995-01-01", 2405, n),
        "o_orderpriority": _pick(r, PRIORITIES, n)})
    n = rows["lineitem"]
    qty = r.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, rows["orders"], n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, rows["part"], n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, rows["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(r, ("A", "N", "R"), n),
        "l_linestatus": _pick(r, ("F", "O"), n),
        "l_shipdate": _days(r, "1995-01-02", 2499, n)})
    n = rows["events"]
    micros = np.sort(r.integers(0, 30 * 86400 * 10**6, n))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]")),
        "user_id": pa.array(r.integers(0, 1500, n), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, n),
        "value": _money(r, 0.0, 560.0, n),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)])})
    n = rows["documents"]
    texts = []
    for i in range(n):
        # ~5% planted near-duplicates of an earlier document
        if i > 10 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(_doc_text(r))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(r, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    n = rows["embeddings"]
    centers = r.normal(size=(10, 64))
    label = r.integers(0, 10, n)
    v = centers[label] + 0.8 * r.normal(size=(n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return t


def write_tables(out_dir, seed=DATA_SEED):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---- etl_job -------------------------------------------------------------

ETL_ENTITIES = {
    "orders": ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_shipdate"),
}
MALFORMED_FRAC = 0.01
DUP_FRAC = 0.02


def _ndjson_fields(tab):
    """Render each row of ``tab`` as the inside of a JSON object, vectorized."""
    parts = []
    for name in tab.column_names:
        col = tab.column(name)
        if pa.types.is_timestamp(col.type):
            col = pc.strftime(col, format="%Y-%m-%d")
        text = pc.cast(col, pa.string())
        if pa.types.is_string(tab.column(name).type) or pa.types.is_timestamp(tab.column(name).type):
            text = pc.binary_join_element_wise('"', text, '"', "")
        parts.append(pc.binary_join_element_wise(f'"{name}":', text, ""))
    return pc.binary_join_element_wise(*parts, ",")


def etl_drops(out_dir, seed, orders=None, drops=4, tables=None):
    """Write ``<entity>/drop-<k>.ndjson`` files; return the expected counts.

    Each good line is a record plus a unique delivery sequence number
    ``seq``. ``DUP_FRAC`` of the records are delivered a second time (same
    record, new ``seq``) in a later drop, and ``MALFORMED_FRAC`` of the
    lines are truncated JSON. ``orders`` keeps the orders with a smaller
    key, and their line items.
    """
    tables = tables or build_tables()
    expected = {}
    kept_keys = {}
    for e_i, (entity, cols) in enumerate(sorted(ETL_ENTITIES.items())):
        r = _rng(seed, 100 + e_i)
        tab = tables[entity].select(list(cols))
        if orders is not None:
            tab = tab.filter(pc.less(tab.column(cols[0]), orders))
        n = tab.num_rows
        order = r.permutation(n)
        dup_src = r.choice(n, int(n * DUP_FRAC), replace=False)
        lines_src = np.concatenate([order, dup_src])
        # a re-delivery goes to the last drop, after its first delivery
        drop_of = np.concatenate([np.arange(n) * drops // n,
                                  np.full(len(dup_src), drops - 1)])
        malformed = r.random(len(lines_src)) < MALFORMED_FRAC
        seq = pa.array(np.arange(len(lines_src))).cast(pa.string())
        lines = pc.binary_join_element_wise(
            '{"seq":', seq, ",", pc.take(_ndjson_fields(tab), pa.array(lines_src)), "}", "")
        lines = lines.to_pylist()
        for i in np.flatnonzero(malformed):
            lines[i] = lines[i][: len(lines[i]) // 2]
        ent_dir = os.path.join(out_dir, entity)
        os.makedirs(ent_dir, exist_ok=True)
        for k in range(drops):
            with open(os.path.join(ent_dir, f"drop-{k}.ndjson"), "w") as f:
                f.write("\n".join(lines[i] for i in np.flatnonzero(drop_of == k)) + "\n")
        good_records = np.unique(lines_src[~malformed])
        n_bad = int(malformed.sum())
        expected[entity] = {"lines": int(len(lines_src)), "ok": int(len(lines_src) - n_bad),
                            "err": n_bad, "out": len(good_records)}
        kept_keys[entity] = tab.column(cols[0]).to_numpy()[good_records]
    in_orders = np.isin(kept_keys["lineitem"], kept_keys["orders"])
    expected["merged"] = {"out": int(in_orders.sum())}
    return expected


# ---- ingest --------------------------------------------------------------

NEAR_DUP_FRAC = 0.1


def ingest_drops(out_dir, seed, drops=4, per_drop=500):
    """Write ``drop-<k>.ndjson`` document drops; return the expected result.

    Doc ids rise in arrival order. ``NEAR_DUP_FRAC`` of the docs copy an
    earlier original (same drop or an earlier one) with one extra token, so
    each near-dup cluster's smallest id, its original, arrives first: the
    streamed keep-first result and the batch min-id result agree.
    """
    r = _rng(seed, 200)
    os.makedirs(out_dir, exist_ok=True)
    originals, keep, next_id = [], [], 0
    for k in range(drops):
        with open(os.path.join(out_dir, f"drop-{k}.ndjson"), "w") as f:
            for _ in range(per_drop):
                if originals and r.random() < NEAR_DUP_FRAC:
                    base = originals[int(r.integers(0, len(originals)))]
                    text = base + " " + VOCAB[int(r.integers(0, len(VOCAB)))]
                else:
                    text = _doc_text(r)
                    originals.append(text)
                    keep.append(next_id)
                f.write(json.dumps({"doc_id": next_id, "text": text}) + "\n")
                next_id += 1
    return {"docs": next_id, "drops": drops, "keep": keep}
