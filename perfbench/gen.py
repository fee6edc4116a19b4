"""Deterministic input generator for the benchmark.

Every table is a pure function of (seed, scale factor): the same
arguments always write byte-identical parquet files. Schemas, value
ranges and categorical domains follow the TPC-H-ish star schema plus
the `events`, `documents` and `embeddings` tables that graft's queries
read (see graft.Preflight for the schema contract), so every query in
the benchmark's lists runs on these files unchanged.

`etl_batch_files` writes the many-small-files input of the `etl_batches`
workload: one column per parquet physical type the PGCOPY encoder
handles, about 5% nulls in every column.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# rows at scale factor 1; documents/embeddings have a 500-row floor
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000,
             "events": 1_000_000, "documents": 50_000, "embeddings": 20_000}
FLOOR_ROWS = {"documents": 500, "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "large", "hot", "cold", "small", "new", "red"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EMBED_DIM = 64

EPOCH = dt.datetime(1970, 1, 1)


def rows_at(name, sf):
    return max(FLOOR_ROWS.get(name, 1), int(round(BASE_ROWS[name] * sf)))


def _strings(rng, domain, n):
    idx = rng.integers(0, len(domain), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(domain)).cast(pa.string())


def _days(rng, start, end, n):
    """Midnight timestamps (µs) uniformly drawn from [start, end]."""
    d0 = (start - EPOCH).days
    d1 = (end - EPOCH).days
    days = rng.integers(d0, d1 + 1, n).astype(np.int64)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    # one row group per file, like the reference testdata
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def make_tables(seed, sf, out_dir, only=TABLES):
    """Write the tables named in `only` as `<out_dir>/<name>.parquet`.
    Each table draws from its own random stream, so a table's contents
    do not depend on which others are written."""
    os.makedirs(out_dir, exist_ok=True)
    n = {t: rows_at(t, sf) for t in BASE_ROWS}
    for name in only:
        rng = np.random.default_rng([seed, 1, TABLES.index(name)])
        table = _TABLE_MAKERS[name](rng, n)
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def _region(rng, n):
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})


def _nation(rng, n):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def _customer(rng, n):
    nc = n["customer"]
    return pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _strings(rng, SEGMENTS, nc)})


def _supplier(rng, n):
    ns = n["supplier"]
    return pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns))})


def _part(rng, n):
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
        rng.integers(0, 8, npart), rng.integers(0, 8, npart))]
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
        "p_type": _strings(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2))})


def _orders(rng, n):
    no = n["orders"]
    return pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no, dtype=np.int64)),
        "o_orderstatus": _strings(rng, ORDER_STATUS, no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), no),
        "o_orderpriority": _strings(rng, PRIORITIES, no)})


def _lineitem(rng, n):
    nl = n["lineitem"]
    flags = rng.integers(0, 3, nl)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.DictionaryArray.from_arrays(
            pa.array(flags, pa.int32()), pa.array(["A", "N", "R"])).cast(pa.string()),
        "l_linestatus": _strings(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), nl)})


def _events(rng, n):
    ne = n["events"]
    span_us = 30 * 86_400_000_000
    t0 = (dt.datetime(2024, 1, 1) - EPOCH).days * 86_400_000_000
    users = max(15, n["customer"] // 10)
    return pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(t0 + np.sort(rng.integers(0, span_us, ne)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, ne, dtype=np.int64)),
        "event_type": _strings(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})


def _documents(rng, n):
    nd = n["documents"]
    ndup = nd // 20
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 100)))
             for _ in range(nd - ndup)]
    # 5% near-duplicates: a copy of an earlier document plus one token
    for src in rng.integers(0, nd - ndup, ndup):
        texts.append(texts[src] + " dup")
    order = rng.permutation(nd)
    texts = [texts[i] for i in order]
    return pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, nd, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


def _embeddings(rng, n):
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})


_TABLE_MAKERS = {"region": _region, "nation": _nation, "customer": _customer,
                 "supplier": _supplier, "part": _part, "orders": _orders,
                 "lineitem": _lineitem, "events": _events, "documents": _documents,
                 "embeddings": _embeddings}


MULTIBYTE = ["grüße", "naïve café", "日本語テキスト", "данные", "ελληνικά",
             "emoji 🚀✨", "plain ascii", "mixed ü and 中文", "", "tab\tand\nnewline"]


def _with_nulls(rng, arr, share=0.05):
    mask = pa.array(rng.random(len(arr)) < share)
    return pc.if_else(mask, pa.scalar(None, arr.type), arr)


def _decimal(units, precision, scale):
    """decimal128 array whose unscaled values are the int64 `units`."""
    words = np.empty((len(units), 2), dtype=np.int64)
    words[:, 0] = units
    words[:, 1] = np.where(units < 0, -1, 0)
    return pa.Array.from_buffers(pa.decimal128(precision, scale), len(units),
                                 [None, pa.py_buffer(words.tobytes())])


def _binary(rng, n, max_len):
    lens = rng.integers(0, max_len + 1, n)
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    data = rng.integers(0, 256, int(offsets[-1]), dtype=np.uint8)
    return pa.Array.from_buffers(pa.binary(), n, [None, pa.py_buffer(offsets.tobytes()),
                                                  pa.py_buffer(data.tobytes())])


def etl_batch_files(seed, n_files, rows_per_file, out_dir):
    """Write `n_files` parquet files covering the PGCOPY type matrix.

    Returns the file names in work-list order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    words = pa.array(MULTIBYTE)
    names = []
    for f in range(n_files):
        n = rows_per_file
        texts = pc.binary_join_element_wise(
            pc.take(words, pa.array(rng.integers(0, len(MULTIBYTE), n))),
            pc.cast(pa.array(rng.integers(0, 10**6, n)), pa.string()), " ")
        cols = {
            "c_bool": pa.array(rng.random(n) < 0.5),
            "c_i8": pa.array(rng.integers(-128, 128, n), pa.int8()),
            "c_i16": pa.array(rng.integers(-2**15, 2**15, n), pa.int16()),
            "c_i32": pa.array(rng.integers(-2**31, 2**31, n), pa.int32()),
            "c_i64": pa.array(rng.integers(-2**62, 2**62, n, dtype=np.int64)),
            "c_f32": pa.array(rng.standard_normal(n).astype(np.float32) * 1000),
            "c_f64": pa.array(rng.standard_normal(n) * 1e6),
            "c_dec": _decimal(rng.integers(-10**11, 10**11, n), 12, 2),
            "c_dec0": _decimal(rng.integers(-10**11, 10**11, n), 12, 0),
            "c_date": pa.array(rng.integers(-3650, 20000, n).astype(np.int32), pa.date32()),
            "c_ts": pa.array(rng.integers(-10**15, 3 * 10**15, n), pa.timestamp("us")),
            "c_text": texts,
            "c_bin": _binary(rng, n, 16),
        }
        table = pa.table({k: _with_nulls(rng, v) for k, v in cols.items()})
        name = f"part-{f:04d}.parquet"
        _write(table, os.path.join(out_dir, name))
        names.append(name)
    return names
