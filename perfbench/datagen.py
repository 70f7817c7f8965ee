"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table, with the column names and types the
engine's query keys read (a TPC-H-like star schema plus the `events`,
`documents` and `embeddings` tables). The same seed and scale always give
byte-identical values. Unlike the reference data, lineitem's
(l_orderkey, l_linenumber) is unique, so DML on it can be modelled row by
row.

Also returns, per table, the row count and the logical bytes of each
column (8 bytes per 64-bit value, 4 per 32-bit value, the UTF-8 length of
a string, 4 per array element): the denominators of the benchmark's scan
throughput and space metrics.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

DAY_US = 86_400_000_000


def _epoch_us(y, m, d):
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    return (_epoch_us(*start) + rng.integers(0, n_days, n) * DAY_US).astype("datetime64[us]")


def tables(seed, scale):
    """Every table as a pyarrow Table; `scale` 1.0 = 1.5M orders."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(20, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_events = max(1_000, int(1_000_000 * scale))
    n_users = max(50, int(15_000 * scale))
    n_docs = max(200, int(50_000 * scale))
    n_vecs = max(200, int(20_000 * scale))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    sk = np.arange(n_supp)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    ck = np.arange(n_cust)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": list(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    pk = np.arange(n_part)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": list(names[rng.integers(0, len(names), n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    ok = np.arange(n_ord)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": list(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, (1995, 1, 1), 2404, n_ord),
        "o_orderpriority": list(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_ok = np.repeat(ok, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_ln = (np.arange(n_li) - starts + 1).astype(np.int32)
    # orders are stored in a shuffled row order, like the reference data
    perm = rng.permutation(n_li)
    out["lineitem"] = pa.table({
        "l_orderkey": l_ok[perm],
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(l_ln[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": list(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": list(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _days(rng, (1995, 1, 2), 2498, n_li)})
    ts = np.sort(_epoch_us(2024, 1, 1) + rng.integers(0, 30 * DAY_US, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": list(np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)]),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), n)])
             for n in rng.integers(10, 101, n_docs)]
    # 5% near-duplicates: another document's text with one word appended
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": list(np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]),
        "source": [f"src{k}" for k in rng.permutation(n_docs) % 20],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 0.6, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def logical_bytes(col):
    """Uncompressed logical size of one column, as described above."""
    t = col.type
    if pa.types.is_string(t):
        return int(pc.sum(pc.binary_length(col)).as_py() or 0)
    if pa.types.is_list(t):
        return int(pc.sum(pc.list_value_length(col)).as_py() or 0) * 4
    return len(col) * (t.bit_width // 8)


def write(seed, scale, out_dir):
    """Write every table as `<out_dir>/<name>.parquet`; return their stats."""
    os.makedirs(out_dir, exist_ok=True)
    stats = {}
    for name, tbl in tables(seed, scale).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
        stats[name] = {"rows": tbl.num_rows,
                       "bytes": {c: logical_bytes(tbl.column(c)) for c in tbl.column_names}}
    return stats
