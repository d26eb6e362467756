"""Seeded input generator for the benchmark.

Writes the ten tables the query packs read (`graft.Tables.all`) with the
same column names and parquet types as the project's fixture corpus
(FIXTURES.md): a TPC-H-like star schema, an `events` stream, a `documents`
corpus with near-duplicates, and unit-norm `embeddings`.

`generate(out, seed, sf, copies)` writes one corpus. With `copies > 1`,
lineitem and orders become `copies` key-shifted replicas, one parquet file
per replica: every `l_orderkey` / `o_orderkey` of replica i is shifted by
i * n_orders, so each lineitem row still joins exactly one order, and
`l_partkey`, `l_suppkey` and `o_custkey` stay inside the unreplicated
part / supplier / customer tables, so every foreign key resolves. Each
replica's row order is shuffled by the seed.

The same (seed, sf, copies) always gives byte-identical inputs, and a
finished corpus is reused: it is written to a temporary directory and
renamed into place only when complete.
"""
import os
import shutil
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split())
ADJ = np.array("large hot blue old red new small dark pale green bright "
               "cold wet".split())
NOUN = np.array("ring bolt plate anvil rod widget".split())
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
DAY_US = 86_400_000_000


def _us(date):
    return int(np.datetime64(date, "us").astype(np.int64))


def _days(rng, n, lo, hi):
    """Uniform midnight timestamps (micros) in [lo, hi]."""
    d0, d1 = _us(lo) // DAY_US, _us(hi) // DAY_US
    return rng.integers(d0, d1 + 1, n) * DAY_US


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def _write(table, path):
    pq.write_table(table, path, row_group_size=1 << 30)


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _dims(rng, sf):
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    s = np.arange(n_supp)
    supplier = pa.table({
        "s_suppkey": pa.array(s, pa.int64()),
        "s_name": _names("Supplier", s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    c = np.arange(n_cust)
    customer = pa.table({
        "c_custkey": pa.array(c, pa.int64()),
        "c_name": _names("Customer", c),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    p = np.arange(n_part)
    pname = np.char.add(np.char.add(ADJ[rng.integers(0, len(ADJ), n_part)], " "),
                        NOUN[rng.integers(0, len(NOUN), n_part)])
    part = pa.table({
        "p_partkey": pa.array(p, pa.int64()),
        "p_name": pname,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": PTYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (p % 1000) / 10.0, 1)})
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    return region, nation, supplier, customer, part


def _facts(rng, sf, n_cust, n_part, n_supp):
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    o = np.arange(n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(o, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days(rng, n_li, "1995-01-02", "2001-11-04"))})
    return orders, lineitem


def _events(rng, sf):
    n = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    t0, span = _us("2024-01-01"), 30 * DAY_US
    ts = np.sort(rng.integers(t0, t0 + span, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n).tolist()]})


def _documents(rng, sf):
    """Random word sequences; ~5% are an earlier document plus ' dup'
    (near-duplicates for the dedup packs), ~0.2% exact copies."""
    n = max(50, int(50_000 * sf))
    texts = []
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    lens = rng.integers(8, 100, n)
    for i in range(n):
        if i > 0 and kind[i] < 0.05:
            texts.append(texts[src[i] % i] + " dup")
        elif i > 0 and kind[i] < 0.052:
            texts.append(texts[src[i] % i])
        else:
            texts.append(" ".join(WORDS[rng.integers(0, len(WORDS), lens[i])]))
    lang = LANGS[np.minimum(rng.integers(0, 7, n) - 2, 4).clip(0)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, sf, dim=64):
    n = max(20, int(20_000 * sf))
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(
        pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def _replicas(rng, table, key_cols, stride, copies, out_dir):
    """Write `copies` shuffled replicas of `table`, replica i with every
    column in `key_cols` shifted by i * stride, one file per replica."""
    os.makedirs(out_dir)
    for i in range(copies):
        t = table
        for k in key_cols:
            j = t.schema.get_field_index(k)
            t = t.set_column(j, k, pa.array(
                t.column(k).to_numpy() + i * stride, pa.int64()))
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        _write(t, os.path.join(out_dir, f"part-{i:04d}.parquet"))


def generate(out, seed, sf, copies=1):
    """Write the corpus for (seed, sf, copies) to `out` unless present."""
    if os.path.isdir(out):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, int(sf * 1e6), copies])
    region, nation, supplier, customer, part = _dims(rng, sf)
    orders, lineitem = _facts(
        rng, sf, customer.num_rows, part.num_rows, supplier.num_rows)
    tables = {"region": region, "nation": nation, "supplier": supplier,
              "customer": customer, "part": part,
              "events": _events(rng, sf), "documents": _documents(rng, sf),
              "embeddings": _embeddings(rng, sf)}
    if copies == 1:
        tables.update(orders=orders, lineitem=lineitem)
    else:
        stride = orders.num_rows
        _replicas(rng, orders, ["o_orderkey"], stride, copies,
                  os.path.join(tmp, "orders.parquet"))
        _replicas(rng, lineitem, ["l_orderkey"], stride, copies,
                  os.path.join(tmp, "lineitem.parquet"))
    for name, t in tables.items():
        _write(t, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)


def parquet_files(data_dir, name):
    """The parquet files holding table `name` (a file or a directory)."""
    return table_files(os.path.join(data_dir, f"{name}.parquet"))


def table_files(p):
    """The parquet files of a table stored at `p`, a file or a directory."""
    if os.path.isdir(p):
        return sorted(os.path.join(p, f) for f in os.listdir(p)
                      if f.endswith(".parquet"))
    return [p]
