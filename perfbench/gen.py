"""Seeded input generator for the benchmark.

Writes the ten tables the program reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file each,
the same schema as the repository's test data) plus `plan.json`, the seeded
operation plan the harness replays.

The table *content* comes from a fixed base draw; the seed then relabels
`c_custkey`, `p_partkey`, `o_orderkey` and `doc_id` by a bijection on each
key's own set (applied to every referencing column) and shuffles the row
order inside each file. Row counts and key sets therefore never change with
the seed, and neither does the count of any dirty trait the program's
staging layer derives as `key % p`. What the seed changes: which entity
carries which trait, the key order inside files, and every query parameter
in the plan.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20_240_101
# Table sizes: a fiftieth of the repository's sf1 shape, ~120k fact rows.
ROWS = {"customer": 3_000, "part": 4_000, "orders": 30_000, "supplier": 200,
        "events": 20_000}
DOCS, VECS, DIM = 1_000, 1_000, 64

NATIONS = [f"NATION_{i}" for i in range(25)]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["large", "hot", "small", "red", "blue", "green", "dark", "light",
       "steel", "brass", "cold", "soft"]
NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "shaft", "plate",
        "screw", "spring", "wheel", "chain"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table "
         "value vector window").split()

EPOCH_1995 = np.datetime64("1995-01-01", "us")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01

def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _ts(days):
    return EPOCH_1995 + days.astype("timedelta64[D]")


def base_tables():
    """The seed-independent content, keyed by the unrelabelled keys."""
    rng = np.random.default_rng(BASE_SEED)
    n = ROWS
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": np.array(REGIONS)}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": np.array(NATIONS),
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]}
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)}
    npart = n["part"]
    price = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)
    t["part"] = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 12, npart)], " "),
                              np.array(NOUN)[rng.integers(0, 12, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": np.array(TYPES)[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": price}
    no = n["orders"]
    odays = rng.integers(0, ORDER_DAYS, no)
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(STATUS)[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 400_000, no), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": np.array(PRIORITY)[rng.integers(0, 5, no)]}
    # 1..7 lines per order, numbered 1..n: (orderkey, linenumber) is unique
    lines = rng.integers(1, 8, no)
    lok = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(lok.size) - starts + 1).astype(np.int32)
    nl = lok.size
    lpart = rng.integers(0, npart, nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": lok, "l_partkey": lpart,
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": lnum, "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpart] * rng.uniform(0.9, 1.1, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(odays[lok] + rng.integers(1, 122, nl))}
    ne = n["events"]
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.sort(np.datetime64("2024-01-01", "us")
                      + rng.integers(0, 30 * 86_400_000_000, ne).astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(1, ne // 66), ne).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0, 560, ne), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, ne).astype(str)), "}")}
    texts = []
    for i in range(DOCS):
        r = rng.random()
        if i > 10 and r < 0.02:      # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.08:    # near duplicate: one word replaced
            w = texts[rng.integers(0, i)].split()
            w[rng.integers(0, len(w))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS),
                                                               rng.integers(8, 100))]))
    t["documents"] = {
        "doc_id": np.arange(DOCS, dtype=np.int64), "text": np.array(texts),
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), DOCS)],
        "source": np.array([f"src{i % 20}" for i in range(DOCS)]),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)}
    cents = rng.normal(0, 1, (10, DIM))
    labels = rng.integers(0, 10, VECS)
    v = cents[labels] + rng.normal(0, 0.6, (VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {"vec_id": np.arange(VECS, dtype=np.int64),
                       "embedding": v, "label": labels.astype(np.int32)}
    return t


# key column -> the bijection that relabels it
KEY_REFS = {
    "customer": {"c_custkey": "cust"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part"},
    "documents": {"doc_id": "doc"},
}


def relabel(base, seed):
    """Apply the seed's key bijections and shuffle each table's row order."""
    rng = np.random.default_rng([seed, 1])
    perm = {"cust": rng.permutation(len(base["customer"]["c_custkey"])),
            "part": rng.permutation(len(base["part"]["p_partkey"])),
            "order": rng.permutation(len(base["orders"]["o_orderkey"])),
            "doc": rng.permutation(DOCS)}
    out = {}
    for name, cols in base.items():
        cols = dict(cols)
        for c, k in KEY_REFS.get(name, {}).items():
            cols[c] = perm[k][cols[c]].astype(np.int64)
        if name == "customer":  # names carry their entity's (new) key
            cols["c_name"] = np.array([f"Customer#{k:09d}" for k in cols["c_custkey"]])
        n = len(next(iter(cols.values())))
        order = rng.permutation(n) if name not in ("region", "nation") else np.arange(n)
        out[name] = {c: v[order] for c, v in cols.items()}
    return out


SCHEMA_ORDER = {
    "region": ["r_regionkey", "r_name"],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "supplier": ["s_suppkey", "s_name", "s_nationkey", "s_acctbal"],
    "part": ["p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                 "l_linestatus", "l_shipdate"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "embeddings": ["vec_id", "embedding", "label"],
}


def _arrow(name, cols):
    arrays = []
    for c in SCHEMA_ORDER[name]:
        v = cols[c]
        if c == "embedding":
            arrays.append(pa.array(list(v), type=pa.list_(pa.float32())))
        else:
            arrays.append(pa.array(v))
    return pa.table(arrays, names=SCHEMA_ORDER[name])


# ----------------------------------------------------------------- the plan

# One block of the dashboard mix: every template once per block (cheap KPI
# cards and lookups more than once), each with the parameter list it draws
# from. Blocks are shuffled independently, so every seed runs the same mix
# in a different order with different parameters.
DASHBOARD_BLOCK = [
    ("kpi_total_revenue", None), ("kpi_revenue_country", "countries"),
    ("kpi_revenue_country", "countries"), ("kpi_revenue_category", "categories"),
    ("kpi_monthly_year", "years"),
    ("lookup_invoice", "invoices"), ("lookup_invoice", "invoices"),
    ("lookup_customer", "name_prefixes"),
    ("sql_olap_q1", None), ("prepared_olap_q1", None), ("prepared_olap_q1", None),
    ("olap_q1", None), ("olap_q2", None), ("olap_q4", None), ("olap_q6", None),
    ("olap_pivot_month_year", None), ("molap_month_country", None),
    ("perf_dss_monthly_country", None),
]


def plan(tables, seed):
    """Seeded query parameters and each analyst's op sequence
    (JSON-serialisable)."""
    rng = np.random.default_rng([seed, 2])
    orders = tables["orders"]["o_orderkey"]
    live = np.sort(orders[orders % 211 != 0])  # blank invoice ids never load
    pick = rng.permutation(live)
    cust = tables["customer"]["c_custkey"]
    years = list(range(1995, 2002))
    p = {
        "countries": [f"Nation_{rng.integers(0, 25)}"],
        "categories": [str(rng.choice(TYPES)).capitalize()],
        "years": [str(rng.choice(years))],
        "invoices": [str(pick[0])],
        "name_prefixes": [f"Customer#{int(rng.choice(cust)):09d}"[:-1]],
    }
    clients = []
    for _ in range(2):  # one sequence of whole shuffled blocks per analyst
        ops = []
        for _ in range(100):
            for i in rng.permutation(len(DASHBOARD_BLOCK)):
                t, plist = DASHBOARD_BLOCK[i]
                ops.append(f"{t}|{rng.choice(p[plist]) if plist else ''}")
        clients.append(ops)
    p["dashboard_ops"] = clients
    p["dashboard_block"] = len(DASHBOARD_BLOCK)
    return p


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    tables = relabel(base_tables(), seed)
    for name, cols in tables.items():
        _write(out_dir, name, _arrow(name, cols))
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan(tables, seed), f, sort_keys=True)
    return tables

