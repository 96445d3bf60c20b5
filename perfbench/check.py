#!/usr/bin/env python3
"""Independent checker for the benchmark's outputs.

Every result the harness collected in its cold pass is compared with an
answer computed apart from the program:

* judged catalog ops: DuckDB running the op's oracle SQL
  (``SparkEntry.oracleSql``) over the same generated parquet;
* files_sql statements: DuckDB running the statement's DuckDB text over
  the same generated files (the XLSX sheet through its CSV twin);
* exports: the exported csv/json read back by DuckDB, the xlsx by the
  XML reader below, each compared with the export statement's answer;
* loaded row counts against the generator's manifest;
* x169 PageRank: total score mass within its truncation bound.

Oracle answers are cached under perfbench/.work/oracle, keyed by input
set and SQL text.

    python3 perfbench/check.py --rebuild-oracles   # recompute every cached answer
    python3 perfbench/check.py --selftest          # a perturbed result must be refused
"""
import datetime as dt
import decimal
import glob
import hashlib
import json
import math
import os
import sys
import zipfile
import xml.etree.ElementTree as ET

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
ORACLE_DIR = os.path.join(BENCH, ".work", "oracle")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
PAGERANK_ROUNDS, PAGERANK_SCALE = 5, 10 ** 12


# ---- DuckDB side -------------------------------------------------------

def connect(workload, data):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    if workload == "files_sql":
        oracle = os.path.join(os.path.dirname(data), "files_oracle")
        views = {
            "sales_csv": f"read_csv('{data}/sales.csv', header = true)",
            "returns_csv_gz": f"read_csv('{data}/returns.csv.gz', header = true)",
            "customers_json": f"read_json('{data}/customers.json', format = 'newline_delimited')",
            "products_json": f"read_json('{data}/products.json', format = 'array')",
            "stores_xlsx": f"read_csv('{oracle}/stores.csv', header = true)",
        }
        for name, src in views.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM {src}")
    else:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def plain(v):
    """A DuckDB value as the JSON-ready value the harness writes."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [plain(x) for x in v]
    if isinstance(v, dict):
        return {k: plain(x) for k, x in v.items()}
    return v


def run_sql(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return {"columns": cols, "rows": [[plain(v) for v in r] for r in cur.fetchall()]}


def fingerprint(data):
    """Names, sizes and modification times of every input file."""
    if data not in _FINGERPRINTS:
        h = hashlib.sha256()
        for d in (data, os.path.join(os.path.dirname(data), "files_oracle")):
            for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
                st = os.stat(os.path.join(d, name))
                h.update(f"{d}/{name}:{st.st_size}:{st.st_mtime_ns}\n".encode())
        _FINGERPRINTS[data] = h.hexdigest()
    return _FINGERPRINTS[data]


_FINGERPRINTS = {}


def oracle_answer(workload, data, sql, con_cache, cache_dir=ORACLE_DIR):
    key = hashlib.sha256(f"{workload}\n{fingerprint(data)}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, key[:2], key + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)["answer"]
    if "con" not in con_cache:
        con_cache["con"] = connect(workload, data)
    ans = run_sql(con_cache["con"], sql)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump({"workload": workload, "data": os.path.abspath(data), "sql": sql,
                   "answer": ans}, f)
    os.replace(path + ".tmp", path)
    return ans


# ---- comparison ----------------------------------------------------------

def _num(v):
    if isinstance(v, bool):
        return float(v)
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        try:
            return float(v)
        except ValueError:
            return None
    return None


def same_cell(got, want):
    if want is None or got is None:
        return want is None and got is None
    if isinstance(want, (list, tuple)):
        return (isinstance(got, (list, tuple)) and len(got) == len(want)
                and all(same_cell(g, w) for g, w in zip(got, want)))
    if isinstance(want, dict):
        return isinstance(got, (list, tuple)) and same_cell(got, list(want.values()))
    if isinstance(want, (int, float)):
        g = _num(got)
        if g is None:
            return False
        w = float(want)
        if math.isnan(w) or math.isnan(g):
            return math.isnan(w) and math.isnan(g)
        return math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-9)
    return str(got) == str(want)


def compare(name, got, want):
    """None when `got` (columns, rows) matches `want`, else the first
    difference. Columns are matched by name, case-insensitively."""
    gc = [c.lower() for c in got["columns"]]
    wc = [c.lower() for c in want["columns"]]
    if sorted(gc) != sorted(wc):
        return f"{name}: columns {gc} != {wc}"
    if len(got["rows"]) != len(want["rows"]):
        return f"{name}: {len(got['rows'])} rows != {len(want['rows'])}"
    order = [gc.index(c) for c in wc]
    for i, (g, w) in enumerate(zip(got["rows"], want["rows"])):
        g = [g[j] for j in order]
        for c, gv, wv in zip(wc, g, w):
            if not same_cell(gv, wv):
                return f"{name}: row {i} column {c}: {gv!r} != {wv!r}"
    return None


# ---- exports ---------------------------------------------------------------

def read_xlsx(path):
    """First sheet of a workbook as (header, rows): inline and shared
    strings, numeric cells as numbers."""
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(path) as z:
        shared = []
        if "xl/sharedStrings.xml" in z.namelist():
            root = ET.fromstring(z.read("xl/sharedStrings.xml"))
            shared = ["".join(t.text or "" for t in si.iter(f"{{{ns['m']}}}t"))
                      for si in root.findall("m:si", ns)]
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    grid = []
    for row in sheet.iter(f"{{{ns['m']}}}row"):
        vals = []
        for c in row.findall("m:c", ns):
            t = c.get("t", "n")
            if t == "inlineStr":
                v = "".join(x.text or "" for x in c.iter(f"{{{ns['m']}}}t"))
            else:
                x = c.find("m:v", ns)
                v = None if x is None else x.text
                if t == "s" and v is not None:
                    v = shared[int(v)]
                elif t in ("n", "b") and v is not None:
                    v = float(v)
            vals.append(v)
        grid.append(vals)
    return {"columns": [str(h) for h in grid[0]], "rows": grid[1:]}


def check_exports(out, script, want):
    problems = []
    con = duckdb.connect()
    exp = os.path.join(out, "export")
    readers = {
        "csv": lambda p: run_sql(con, f"SELECT * FROM read_csv('{p}', header = true)"),
        "json": lambda p: run_sql(con, f"SELECT * FROM read_json('{p}', format = 'newline_delimited')"),
        "xlsx": read_xlsx,
    }
    for fmt in script["export"]["formats"]:
        path = os.path.join(exp, f"export.{fmt}")
        if not os.path.exists(path):
            problems.append(f"export_{fmt}: no file {path}")
            continue
        p = compare(f"export_{fmt}", readers[fmt](path), want)
        if p:
            problems.append(p)
    return problems


# ---- properties ---------------------------------------------------------------

def pagerank_mass(con, rows):
    """x169: integer PageRank over the symmetrised customer-supplier graph
    keeps its total mass M with n*B - rounds*(E + 2n) <= M <= n*B, where
    B = scale // n and E is the arc count (each round truncates at most
    one unit per arc in the contribution division and two per node)."""
    n, e = con.execute(
        """WITH e0 AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
                       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey)
           SELECT (SELECT count(DISTINCT c) FROM e0) + (SELECT count(DISTINCT s) FROM e0),
                  2 * (SELECT count(*) FROM e0)""").fetchone()
    mass = sum(int(r[1]) for r in rows)
    top = n * (PAGERANK_SCALE // n)
    low = top - PAGERANK_ROUNDS * (e + 2 * n)
    if not low <= mass <= top:
        return f"x169_graph_pagerank: score mass {mass} outside [{low}, {top}]"
    return None


# ---- one run ---------------------------------------------------------------------

def load_results(out):
    res = {}
    with open(os.path.join(out, "results.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            res[r["op"]] = r
    return res


def expected_rows(workload, data):
    base = os.path.dirname(data) if workload == "files_sql" else data
    sub = "files_oracle" if workload == "files_sql" else ""
    with open(os.path.join(base, sub, "manifest.json")) as f:
        return json.load(f)["rows"]


def check_run(workload, res, out, data, cache_dir=ORACLE_DIR):
    problems = []
    got = load_results(out)
    failed = {f.split(":")[0] for f in res["failures"]}
    for op in res["ops"]:
        if op not in got and op not in failed:
            problems.append(f"{op}: no result")

    want_rows = expected_rows(workload, data)
    for t, n in want_rows.items():
        if res["loaded_rows"].get(t) != n:
            problems.append(f"load: {t} has {res['loaded_rows'].get(t)} rows, generated {n}")

    cache = {}
    if workload == "files_sql":
        with open(os.path.join(BENCH, "files_sql.json")) as f:
            script = json.load(f)
        for st in script["statements"]:
            if st["name"] in got:
                p = compare(st["name"], got[st["name"]],
                            oracle_answer(workload, data, st["duckdb"], cache, cache_dir))
                if p:
                    problems.append(p)
        if not any(k.startswith("export_") for k in failed):
            problems += check_exports(out, script, oracle_answer(
                workload, data, script["export"]["duckdb"], cache, cache_dir))
    else:
        for name, r in got.items():
            if r["kind"] != "catalog":
                continue
            if not r["oracle"]:
                problems.append(f"{name}: no oracle SQL")
                continue
            p = compare(name, r, oracle_answer(workload, data, r["oracle"], cache, cache_dir))
            if p:
                problems.append(p)
        if "x169_graph_pagerank" in got:
            if "con" not in cache:
                cache["con"] = connect(workload, data)
            p = pagerank_mass(cache["con"], got["x169_graph_pagerank"]["rows"])
            if p:
                problems.append(p)
    return problems


# ---- maintenance -----------------------------------------------------------------

def rebuild_oracles(cache_dir=ORACLE_DIR):
    """Recompute every cached oracle answer from its input set and SQL."""
    paths = sorted(glob.glob(os.path.join(cache_dir, "*", "*.json")))
    cons = {}
    for p in paths:
        with open(p) as f:
            entry = json.load(f)
        key = (entry["workload"], entry["data"])
        if key not in cons:
            cons[key] = connect(*key)
        entry["answer"] = run_sql(cons[key], entry["sql"])
        with open(p + ".tmp", "w") as f:
            json.dump(entry, f)
        os.replace(p + ".tmp", p)
    print(f"rebuilt {len(paths)} oracle answers")


def selftest():
    """Feed check_run a faithful files_sql result, built from DuckDB's own
    answers and exports, then the same result with one number changed:
    the first must pass and the second must be refused. The comparator
    must also refuse a dropped row and a changed string, and the PageRank
    bound an excess of one unit per node."""
    import tempfile
    import gen
    with open(os.path.join(BENCH, "files_sql.json")) as f:
        script = json.load(f)
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".work")) as tmp:
        data = os.path.join(tmp, "in", "files")
        gen.files(data, 7)
        con = connect("files_sql", data)
        out, cache = os.path.join(tmp, "out"), os.path.join(tmp, "oracle")
        os.makedirs(os.path.join(out, "export"))
        results = []
        for st in script["statements"]:
            ans = run_sql(con, st["duckdb"])
            results.append({"op": st["name"], "kind": "statement", "oracle": None, **ans})
        exp = script["export"]["duckdb"]
        con.execute(f"COPY ({exp}) TO '{out}/export/export.csv' (HEADER)")
        con.execute(f"COPY ({exp}) TO '{out}/export/export.json' (FORMAT JSON)")
        ans = run_sql(con, exp)
        gen.write_xlsx(os.path.join(out, "export", "export.xlsx"), ans["columns"], ans["rows"])
        res = {"ops": [r["op"] for r in results], "failures": [],
               "loaded_rows": expected_rows("files_sql", data)}

        def check(rows):
            with open(os.path.join(out, "results.jsonl"), "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in rows)
            return check_run("files_sql", res, out, data, cache)

        assert check(results) == [], f"faithful result refused: {check(results)}"
        bad = json.loads(json.dumps(results))
        bad[1]["rows"][1][2] += 1
        assert check(bad), "perturbed number accepted"
        want = results[1]
        short = dict(want, rows=want["rows"][:-1])
        assert compare("perturbed", short, want), "dropped row accepted"
        renamed = json.loads(json.dumps(want))
        renamed["rows"][0][0] = "Atlantis"
        assert compare("perturbed", renamed, want), "changed string accepted"

        tdir = os.path.join(tmp, "tables")
        gen.tables(tdir, 7, 0.001)
        tcon = connect("ext_heavy", tdir)
        n = tcon.execute("""SELECT count(DISTINCT o.o_custkey) + count(DISTINCT l.l_suppkey)
                            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey""").fetchone()[0]
        share = PAGERANK_SCALE // n
        assert pagerank_mass(tcon, [["x", share]] * n) is None, "exact mass refused"
        assert pagerank_mass(tcon, [["x", share + 1]] * n) is not None, "excess mass accepted"
    print("selftest ok: faithful result accepted; perturbed number, row, string and mass refused")


if __name__ == "__main__":
    if "--rebuild-oracles" in sys.argv:
        rebuild_oracles()
    elif "--selftest" in sys.argv:
        selftest()
    else:
        sys.exit(__doc__)
