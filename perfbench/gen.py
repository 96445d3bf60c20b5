#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Two input sets, both a pure function of (seed, scale):

* ``tables(out, seed, sf)`` writes the TPC-H-like star schema the judged
  catalog reads (region nation customer supplier part orders lineitem
  events documents embeddings), one parquet file per table, with the
  column names and types of the fixture trees the catalog was written
  against. Row counts scale with ``sf`` as in those trees.
* ``files(out, seed)`` writes the SQL-over-files directory of the
  ``files_sql`` workload: CSV, gzip CSV, NDJSON with nested objects, a
  pretty-printed JSON array document and one XLSX sheet. The XLSX is
  written here with ``zipfile`` + hand-written XML (shared strings and
  numeric cells), never by the program's own writer, so the program's
  reader is checked against an independent writer. A CSV copy of the
  sheet goes to ``<out>/../files_oracle`` for DuckDB, which has no XLSX
  reader.

Both write a ``manifest.json`` with every generated row count; the
checker compares loaded counts with it.

Usage: python3 gen.py tables|files OUT_DIR SEED [SF]
"""
import datetime as dt
import gzip
import json
import os
import sys
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def _write(out, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema),
                   os.path.join(out, f"{name}.parquet"))


def _ts(base, seconds):
    """Naive microsecond timestamps (parquet TIMESTAMP(MICROS), not UTC
    adjusted), as in the fixture trees."""
    return pa.array(np.datetime64(base, "us")
                    + (np.asarray(seconds) * 1e6).astype("int64")
                    .astype("timedelta64[us]"), pa.timestamp("us"))


def tables(out, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_users, n_doc = int(1000000 * sf), int(15000 * sf), int(50000 * sf)
    n_emb = max(500, int(20000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")},
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]},
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)},
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))

    adj = np.array(["small", "red", "blue", "hot", "old", "new", "cold", "large"])
    noun = np.array(["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype="int64")
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)},
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))

    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    day = 86400
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]},
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", pa.timestamp("us")),
                   ("o_orderpriority", s)]))

    flags = np.array(["A", "N", "R"])
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": flags[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line) * day)},
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64),
                   ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s),
                   ("l_shipdate", pa.timestamp("us"))]))

    # events: increasing timestamps over 30 days, microsecond precision
    gaps = rng.exponential(30 * day / n_ev, n_ev)
    secs = np.round(np.cumsum(gaps) * 1e6) / 1e6
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts("2024-01-01", secs),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        pa.schema([("event_id", i64), ("ts", pa.timestamp("us")), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]))

    # documents: random token text; 5% are near-duplicates of an earlier
    # document with a "dup" token appended
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     int(rng.integers(8, 100)))]))
    langs = np.array(["en", "en", "en", "es", "zh", "de", "fr"])
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")},
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                   ("n_chars", i64)]))

    # embeddings: 64-d unit vectors around one centre per label
    centres = rng.normal(size=(10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_emb)
    vecs = 0.15 * centres[labels] + rng.normal(scale=1 / 8, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype("int32")},
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                   ("label", i32)]))

    counts = {"region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
              "part": n_part, "orders": n_ord, "lineitem": n_line, "events": n_ev,
              "documents": n_doc, "embeddings": n_emb}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "sf": sf, "rows": counts}, f)


# ---- files_sql inputs --------------------------------------------------

N_SALES, N_RETURNS, N_CUST, N_PROD, N_STORES = 10000, 2000, 2000, 500, 200
CITIES = ["Berlin", "Lagos", "Lima", "Osaka", "Oslo", "Perth", "Pune", "Quito"]


def _stamp(base, secs):
    return (base + dt.timedelta(seconds=int(secs))).strftime("%Y-%m-%d %H:%M:%S")


def _col(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path, header, rows):
    """Minimal single-sheet workbook: strings through sharedStrings.xml
    (t="s"), numbers as plain <v> cells, explicit A1-style references."""
    shared, index = [], {}

    def sid(v):
        if v not in index:
            index[v] = len(shared)
            shared.append(v)
        return index[v]

    def cell(r, c, v):
        ref = f"{_col(c)}{r + 1}"
        if isinstance(v, str):
            return f'<c r="{ref}" t="s"><v>{sid(v)}</v></c>'
        return f'<c r="{ref}"><v>{v}</v></c>'

    body = "".join(
        f'<row r="{r + 1}">' + "".join(cell(r, c, v) for c, v in enumerate(row))
        + "</row>" for r, row in enumerate([header] + rows))
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml",
                   '<?xml version="1.0" encoding="UTF-8"?>'
                   '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
                   '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
                   '<Default Extension="xml" ContentType="application/xml"/>'
                   '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
                   '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
                   '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
                   '</Types>')
        z.writestr("_rels/.rels",
                   f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{rel.replace("officeDocument/2006/relationships", "package/2006/relationships")}">'
                   f'<Relationship Id="rId1" Type="{rel}/officeDocument" Target="xl/workbook.xml"/></Relationships>')
        z.writestr("xl/workbook.xml",
                   f'<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="{ns}" xmlns:r="{rel}">'
                   '<sheets><sheet name="stores" sheetId="1" r:id="rId1"/></sheets></workbook>')
        z.writestr("xl/_rels/workbook.xml.rels",
                   f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{rel.replace("officeDocument/2006/relationships", "package/2006/relationships")}">'
                   f'<Relationship Id="rId1" Type="{rel}/worksheet" Target="worksheets/sheet1.xml"/>'
                   f'<Relationship Id="rId2" Type="{rel}/sharedStrings" Target="sharedStrings.xml"/>'
                   '</Relationships>')
        z.writestr("xl/worksheets/sheet1.xml",
                   f'<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="{ns}"><sheetData>'
                   + body + "</sheetData></worksheet>")
        z.writestr("xl/sharedStrings.xml",
                   f'<?xml version="1.0" encoding="UTF-8"?><sst xmlns="{ns}" count="{len(shared)}" uniqueCount="{len(shared)}">'
                   + "".join(f"<si><t>{escape(v)}</t></si>" for v in shared) + "</sst>")


def files(out, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    oracle = os.path.join(os.path.dirname(os.path.abspath(out)), "files_oracle")
    os.makedirs(oracle, exist_ok=True)
    base = dt.datetime(2023, 1, 1)
    year = 365 * 86400

    channels = ["phone", "store", "web"]
    sold = rng.integers(0, year, N_SALES)
    with open(os.path.join(out, "sales.csv"), "w") as f:
        f.write("sale_id,cust_id,product_id,store_id,qty,price,sold_at,channel\n")
        for i in range(N_SALES):
            f.write(f"{i},{rng.integers(1, N_CUST + 1)},{rng.integers(1, N_PROD + 1)},"
                    f"{rng.integers(1, N_STORES + 1)},{rng.integers(1, 13)},"
                    f"{rng.integers(100, 99999) / 100:.2f},{_stamp(base, sold[i])},"
                    f"{channels[rng.integers(0, 3)]}\n")

    reasons = ["damaged", "late", "wrong size", "changed mind"]
    picked = np.sort(rng.choice(N_SALES, N_RETURNS, replace=False))
    with gzip.open(os.path.join(out, "returns.csv.gz"), "wt") as f:
        f.write("return_id,sale_id,reason,returned_at\n")
        for i, sale in enumerate(picked):
            when = sold[sale] + int(rng.integers(3600, 60 * 86400))
            f.write(f"{i},{sale},{reasons[rng.integers(0, 4)]},{_stamp(base, when)}\n")

    tiers = ["bronze", "gold", "silver"]
    tags = ["new", "vip", "promo", "b2b", "churn"]
    with open(os.path.join(out, "customers.json"), "w") as f:
        for i in range(1, N_CUST + 1):
            f.write(json.dumps({
                "cust_id": i, "name": f"Cust {i:05d}",
                "tier": tiers[rng.integers(0, 3)],
                "address": {"city": CITIES[rng.integers(0, len(CITIES))],
                            "zip": f"{rng.integers(10000, 99999)}"},
                "tags": sorted(set(tags[j] for j in rng.integers(0, 5, 2)))}) + "\n")

    cats = ["audio", "books", "garden", "kitchen", "sports", "toys"]
    prods = [{"product_id": i, "category": cats[rng.integers(0, len(cats))],
              "list_price": round(float(rng.integers(100, 50000)) / 100, 2),
              "title": f"Item {i:04d} " + " ".join(rng.choice(WORDS, 3))}
             for i in range(1, N_PROD + 1)]
    with open(os.path.join(out, "products.json"), "w") as f:
        json.dump(prods, f, indent=1)  # multi-line: read by the whole-document fallback

    header = ["store_id", "city", "sqft", "manager", "rating"]
    stores = [[i, CITIES[rng.integers(0, len(CITIES))], int(rng.integers(800, 20000)),
               f"Mgr {rng.integers(1, 200):03d}", round(float(rng.integers(10, 50)) / 10, 1)]
              for i in range(1, N_STORES + 1)]
    write_xlsx(os.path.join(out, "stores.xlsx"), header, stores)
    with open(os.path.join(oracle, "stores.csv"), "w") as f:
        f.write(",".join(header) + "\n")
        for r in stores:
            f.write(",".join(str(v) for v in r) + "\n")

    counts = {"sales_csv": N_SALES, "returns_csv_gz": N_RETURNS,
              "customers_json": N_CUST, "products_json": N_PROD,
              "stores_xlsx": N_STORES}
    with open(os.path.join(oracle, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "rows": counts}, f)


if __name__ == "__main__":
    kind, out, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    if kind == "tables":
        tables(out, seed, float(sys.argv[4]))
    else:
        files(out, seed)
