#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Everything the library reads during a run is written here; the same
arguments always give the same bytes.

  catalog tables  TPC-H-shaped star schema plus events, documents and
                  embeddings at the sf0.001 floor scale (6k lineitem,
                  500 documents), one parquet file per table, in the
                  column layout the catalog keys read.
  corpus          5k documents, the standing corpus of the pipelines
                  workload.
                  Both use a fixed internal seed, so the goldens in
                  goldens.json hold for every run seed.
  per run seed    AdventureWorks-shaped CSVs, zipped, with the
                  reference fixture's headers and dirty cells (`N/A`,
                  `$1,234.00`) that only lenient casts survive; the
                  stream's arrival files, drawn from the corpus; and
                  the expected outputs the run checks against.
                  `key_order` gives the catalog workload's
                  seed-permuted key order.

Usage: python3 perfbench/gen.py <out_dir> [--seed N]
"""
import csv
import io
import json
import os
import random
import sys
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SEED = 42
CATALOG_SF = 0.001
CORPUS_DOCS = 5000
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ABC = "abcdefghijklmnopqrstuvwxyz"

STREAM_BATCHES = 3
STREAM_BATCH_DOCS = 100  # half exact duplicates of the corpus, half novel


def _write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def _dates(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array((days * 86_400_000_000).astype("datetime64[us]"))


def catalog_tables():
    """The catalog's input tables, as pyarrow tables, and the doc ids in
    a planted near-duplicate relation."""
    sf = CATALOG_SF
    rng = np.random.default_rng(CATALOG_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    noun = ["bolt", "gear", "ring", "plate", "rod", "anvil", "widget", "gizmo"]
    names = np.array([f"{a} {b}" for a in adj for b in noun])
    types = np.array(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04")})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    doc_cols, involved = documents(rng, n_docs)
    t["documents"] = pa.table(doc_cols)
    emb = rng.standard_normal((n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return t, involved


def documents(rng, n):
    """Random texts over a 30-word vocabulary; 5% are near-duplicates
    (another doc's text plus " dup"). Returns the columns and the set of
    doc ids that take part in a planted near-duplicate relation."""
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101)))
             for _ in range(n)]
    dup_ids = rng.choice(n, n // 20, replace=False)
    involved = set()
    for d in sorted(dup_ids):
        src = int(rng.integers(0, n))
        while src in dup_ids:
            src = int(rng.integers(0, n))
        texts[d] = texts[src] + " dup"
        involved.update((int(d), src))
    langs = np.array(["en", "en", "en", "en", "de", "de", "fr", "fr",
                      "es", "es", "zh", "zh"])[rng.integers(0, 12, n)][:n]
    langs = np.where(rng.random(n) < 0.1, "en", langs)
    cols = {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())}
    return cols, involved


def _money(x):
    return f"${x:,.2f}"


def adventureworks(rnd, n_sales_per_year=10_000):
    """AdventureWorks-shaped CSVs (name -> bytes) plus the curated
    query's expected row count and NULL ProductPrice rows."""
    files = {}

    def emit(name, header, rows):
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)
        files[f"AdventureWorks_{name}.csv"] = buf.getvalue().encode()

    def mdy(y, m, d):
        return f"{m}/{d}/{y}"

    cats = [(1, "Bikes"), (2, "Components"), (3, "Clothing"), (4, "Accessories")]
    emit("Product_Categories", ["ProductCategoryKey", "CategoryName"], cats)
    subs = [(k, f"Subcategory {k}", rnd.randint(1, 4)) for k in range(1, 38)]
    emit("Product_Subcategories",
         ["ProductSubcategoryKey", "SubcategoryName", "ProductCategoryKey"], subs)
    colors = ["Red", "Black", "Silver", "Blue", "Yellow", "Multi", "NA"]
    products, dirty_price = [], set()
    for k in range(200, 500):
        cost = rnd.uniform(1, 2000)
        price = cost * rnd.uniform(1.2, 2.5)
        if rnd.random() < 0.05:
            price_cell = _money(price)  # lenient cast -> NULL
            dirty_price.add(str(k))
        else:
            price_cell = f"{price:.4f}"
        size = "N/A" if rnd.random() < 0.1 else str(rnd.choice([0, 38, 40, 42, 44]))
        products.append((k, rnd.randint(1, 37), f"SKU-{k:04d}", f"Product {k}",
                         f"Model-{k % 40}", "Generated product", rnd.choice(colors),
                         size, rnd.choice("UMW"), f"{cost:.4f}", price_cell))
    emit("Products", ["ProductKey", "ProductSubcategoryKey", "ProductSKU",
                      "ProductName", "ModelName", "ProductDescription",
                      "ProductColor", "ProductSize", "ProductStyle",
                      "ProductCost", "ProductPrice"], products)
    first = ["JON", "EUGENE", "RUBEN", "CHRISTY", "ELIZABETH", "JULIO", "MARCO"]
    last = ["YANG", "HUANG", "TORRES", "ZHU", "JOHNSON", "RUIZ", "MEHTA"]
    customers = []
    for k in range(11000, 29000):
        income = "N/A" if rnd.random() < 0.05 else _money(rnd.randint(1, 17) * 10000)[:-3]
        customers.append((
            k, rnd.choice(["MR.", "MRS.", "MS."]), rnd.choice(first), rnd.choice(last),
            mdy(rnd.randint(1940, 2000), rnd.randint(1, 12), rnd.randint(1, 28)),
            rnd.choice("MS"), rnd.choice("MF"), f"user{k}@adventure-works.com", income,
            "N/A" if rnd.random() < 0.03 else rnd.randint(0, 5),
            rnd.choice(["Bachelors", "Partial College", "High School", "Graduate Degree"]),
            rnd.choice(["Professional", "Management", "Skilled Manual", "Clerical"]),
            rnd.choice("YN")))
    emit("Customers", ["CustomerKey", "Prefix", "FirstName", "LastName", "BirthDate",
                       "MaritalStatus", "Gender", "EmailAddress", "AnnualIncome",
                       "TotalChildren", "EducationLevel", "Occupation", "HomeOwner"],
         customers)
    returns = {}
    ret_rows = []
    for _ in range(1800):
        terr, prod = rnd.randint(1, 10), rnd.randint(200, 499)
        ret_rows.append((mdy(rnd.randint(2015, 2017), rnd.randint(1, 12),
                             rnd.randint(1, 28)), terr, prod, rnd.randint(1, 4)))
        returns[(str(terr), str(prod))] = returns.get((str(terr), str(prod)), 0) + 1
    emit("Returns", ["ReturnDate", "TerritoryKey", "ProductKey", "ReturnQuantity"],
         ret_rows)
    curated_rows = null_price_rows = 0
    for year in (2015, 2016, 2017):
        rows = []
        for _ in range(n_sales_per_year):
            cust = 99999 if rnd.random() < 0.01 else rnd.randint(11000, 28999)
            terr = rnd.randint(1, 10)
            prod = rnd.randint(200, 520)  # 200..499 exist; the rest miss the join
            qty = "N/A" if rnd.random() < 0.02 else rnd.randint(1, 5)
            rows.append((mdy(year, rnd.randint(1, 12), rnd.randint(1, 28)),
                         mdy(year - 14, rnd.randint(1, 12), rnd.randint(1, 28)),
                         cust, terr, rnd.randint(1, 8), qty, prod))
            known = prod < 500
            fan = max(1, returns.get((str(terr), str(prod)), 0)) if known else 1
            curated_rows += fan
            if not known or str(prod) in dirty_price:
                null_price_rows += fan
        emit(f"Sales_{year}", ["OrderDate", "StockDate", "CustomerKey", "TerritoryKey",
                               "OrderLineItem", "OrderQuantity", "ProductKey"], rows)
    return files, {"curated_rows": curated_rows, "null_price_rows": null_price_rows}


def _zip(files, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name in sorted(files):
            info = zipfile.ZipInfo(f"adventureworks/{name}", (2020, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, files[name])


def stream_batches(rnd, corpus_cols, involved):
    """Arrival batches against the corpus: per batch, half exact
    duplicates of corpus docs under new ids and half novel docs (corpus
    texts through a per-batch letter substitution). Novel sources avoid
    the planted near-duplicate pairs, so every novel doc survives and
    every duplicate is dropped."""
    n = len(corpus_cols["text"])
    span = n  # doc ids are 0..n-1
    clean = [i for i in range(n) if i not in involved]
    novel_src = rnd.sample(clean, STREAM_BATCHES * STREAM_BATCH_DOCS // 2)
    rev = ABC[::-1]
    batches, expect = [], []
    half = STREAM_BATCH_DOCS // 2
    for b in range(1, STREAM_BATCHES + 1):
        rot = rev[b:] + rev[:b]
        table = str.maketrans(ABC, rot)
        novel = novel_src[(b - 1) * half:b * half]
        taken = set(novel)  # arrival ids derive from source ids: keep them unique
        dups = rnd.sample([i for i in range(n) if i not in taken], half)
        rows = [(s, corpus_cols["text"][s]) for s in dups] + \
               [(s, corpus_cols["text"][s].translate(table)) for s in novel]
        ids = [span * b + s for s, _ in rows]
        batches.append(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": [x for _, x in rows],
            "lang": [str(corpus_cols["lang"][s]) for s, _ in rows],
            "source": [corpus_cols["source"][s] for s, _ in rows],
            "n_chars": pa.array([len(x) for _, x in rows], pa.int64()),
            "url": [f"https://arrivals.example.com/b{b}/{i}" for i in ids]}))
        expect.append(len(novel))
    return batches, expect


def _write_tables(d, tables, involved):
    os.makedirs(d, exist_ok=True)
    for name, table in tables.items():
        _write_parquet(table, os.path.join(d, f"{name}.parquet"))
    with open(os.path.join(d, "neardup_ids.json"), "w") as f:
        json.dump(sorted(involved), f)
    open(os.path.join(d, "_DONE"), "w").close()


def write_catalog(out_dir):
    d = os.path.join(out_dir, "catalog_floor")
    if not os.path.exists(os.path.join(d, "_DONE")):
        _write_tables(d, *catalog_tables())
    return d


def write_corpus(out_dir):
    d = os.path.join(out_dir, "corpus")
    if not os.path.exists(os.path.join(d, "_DONE")):
        cols, involved = documents(np.random.default_rng(CATALOG_SEED), CORPUS_DOCS)
        _write_tables(d, {"documents": pa.table(cols)}, involved)
    return d


def key_order(units, seed, workload):
    """Seed-permuted key order. `units` is a list of key lists; a unit
    (a shared-memo group) moves as a whole and keeps its member order,
    so the same member always pays the memo build."""
    order = sorted(units)
    random.Random(f"{seed}:{workload}").shuffle(order)
    return [k for unit in order for k in unit]


def write_seed(out_dir, seed):
    """Per-seed inputs of the pipelines workload and their expectations."""
    d = os.path.join(out_dir, f"seed_{seed}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    os.makedirs(os.path.join(d, "stream"), exist_ok=True)
    rnd = random.Random(seed)
    files, expect = adventureworks(rnd)
    _zip(files, os.path.join(d, "adventureworks.zip"))
    corpus = pq.read_table(os.path.join(out_dir, "corpus", "documents.parquet"))
    corpus_cols = {c: corpus.column(c).to_pylist() for c in corpus.column_names}
    involved = set(json.load(open(os.path.join(out_dir, "corpus", "neardup_ids.json"))))
    batches, survivors = stream_batches(rnd, corpus_cols, involved)
    for i, t in enumerate(batches):
        _write_parquet(t, os.path.join(d, "stream", f"batch_{i + 1:03d}.parquet"))
    expect["stream_batch_docs"] = [t.num_rows for t in batches]
    expect["stream_survivors"] = survivors
    with open(os.path.join(d, "expect.json"), "w") as f:
        json.dump(expect, f, indent=1, sort_keys=True)
    open(os.path.join(d, "_DONE"), "w").close()
    return d


def generate(out_dir, seed):
    """Write (or reuse) every input file of a run; returns the seed's dir."""
    write_catalog(out_dir)
    write_corpus(out_dir)
    return write_seed(out_dir, seed)


if __name__ == "__main__":
    args = sys.argv[1:]
    seed = 0
    if "--seed" in args:
        i = args.index("--seed")
        seed = int(args[i + 1])
        del args[i:i + 2]
    print(generate(args[0], seed))
