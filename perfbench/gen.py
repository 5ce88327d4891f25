"""Seeded input generator for the benchmark.

Everything the program under test reads is written here from one seed, so the
same seed gives byte-identical inputs. Two families:

* lookup inputs: the reference's 1,000-row `users` table, a 1M-row keyed
  table, an sf0.1-sized `lineitem` copy sorted by `l_orderkey` with many small
  row groups (so parquet row-group pruning is exercised), the rows the
  `lookup_rw` writer appends, and the op stream (shape, key) for the loops;
* batch inputs: the ten tables `SparkEntry.queries` reads (the TPC-H-like star
  schema plus `events`, `documents` and `embeddings`), with the schemas and
  value ranges of the synthetic test data the repository's oracle suite uses.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHAPES = ("cached", "keyed", "parquet")
USERS_ROWS = 1000
KEYED_ROWS = 1_000_000
LINEITEM_ORDERS = 150_000
LINEITEM_ROW_GROUP = 4096
ABSENT_SHARE = 0.1
RW_BASE_ROWS = 20_000
RW_APPEND_ROWS = 200_000


def _write(table, path, row_group_size=None):
    pq.write_table(table, path, row_group_size=row_group_size, compression="snappy")


def _strings(prefix, ids):
    return pa.array([f"{prefix}{i}" for i in ids.tolist()], pa.string())


def _ts(base, micros):
    return pa.array((np.datetime64(base, "us") + micros.astype("timedelta64[us]")), pa.timestamp("us"))


def lineitem_table(rng, n_orders):
    n = n_orders * 4
    ok = rng.integers(0, n_orders, n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    ship_days = rng.integers(0, 2498, n)
    return pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, n_orders * 2 // 15), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, max(1, n_orders // 150), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(0, 3, n)], pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)], pa.string()),
        "l_shipdate": _ts("1995-01-02", ship_days * 86_400_000_000),
    })


def _absent(rng, lo, n):
    return rng.integers(lo, lo + 10**12, n)


def gen_lookup(seed, out, n_ops=30_000):
    """Lookup tables plus `ops.csv`: one `shape,key` line per op.

    Shapes are balanced (each a third of the stream) and shuffled with the
    seed; a seeded tenth of the keys of every shape is absent from its table.
    Absent keys come from a 10^12-wide space above the present range, so an
    ad-hoc run sees almost no literal text twice.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    ids = np.arange(USERS_ROWS)
    _write(pa.table({
        "id": pa.array(ids, pa.int64()),
        "name": _strings("user_", ids),
        "amount": pa.array(rng.integers(0, 100_000, USERS_ROWS), pa.int64()),
    }), f"{out}/users.parquet")

    ks = rng.permutation(KEYED_ROWS)
    _write(pa.table({
        "k": pa.array(ks, pa.int64()),
        "name": _strings("item_", ks),
        "score": pa.array(np.round(rng.uniform(0, 100, KEYED_ROWS), 3), pa.float64()),
    }), f"{out}/keyed.parquet")

    li = lineitem_table(rng, LINEITEM_ORDERS)
    li = li.sort_by("l_orderkey")
    _write(li, f"{out}/lineitem.parquet", row_group_size=LINEITEM_ROW_GROUP)
    li_keys = np.unique(li.column("l_orderkey").to_numpy())

    base = np.arange(RW_BASE_ROWS)
    app = np.arange(RW_BASE_ROWS, RW_BASE_ROWS + RW_APPEND_ROWS)
    for name, keys in (("rw_base", base), ("rw_append", app)):
        _write(pa.table({
            "k": pa.array(keys, pa.int64()),
            "v": pa.array(rng.integers(0, 10**9, len(keys)), pa.int64()),
            "note": _strings("row_", keys),
        }), f"{out}/{name}.parquet")

    shape = rng.permutation(np.arange(n_ops) % len(SHAPES))
    present = rng.random(n_ops) >= ABSENT_SHARE
    key = np.empty(n_ops, np.int64)
    pools = {0: ids, 1: np.arange(KEYED_ROWS), 2: li_keys}
    tops = {0: USERS_ROWS, 1: KEYED_ROWS, 2: LINEITEM_ORDERS}
    for s in range(len(SHAPES)):
        m = shape == s
        hit = m & present
        miss = m & ~present
        key[hit] = rng.choice(pools[s], hit.sum())
        key[miss] = _absent(rng, tops[s], miss.sum())
    with open(f"{out}/ops.csv", "w") as f:
        for s, k in zip(shape.tolist(), key.tolist()):
            f.write(f"{SHAPES[s]},{k}\n")


WORDS = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan batch").split()


def gen_batch(seed, out, sf=0.1):
    """The ten tables of the repository's synthetic test data, scaled by sf."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], pa.string()),
    }), f"{out}/region.parquet")
    nk = np.arange(25)
    _write(pa.table({
        "n_nationkey": pa.array(nk, pa.int32()),
        "n_name": _strings("NATION_", nk),
        "n_regionkey": pa.array(nk % 5, pa.int32()),
    }), f"{out}/nation.parquet")
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    ck = np.arange(n_cust)
    _write(pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck.tolist()], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), pa.float64()),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)], pa.string()),
    }), f"{out}/customer.parquet")
    sk = np.arange(n_supp)
    _write(pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk.tolist()], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), pa.float64()),
    }), f"{out}/supplier.parquet")
    adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "green"])
    noun = np.array(["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"])
    types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part)
    names = np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)])
    _write(pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(names, pa.string()),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(0, 25, n_part).astype(str)), pa.string()),
        "p_type": pa.array(types[rng.integers(0, 6, n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1), pa.float64()),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_orders)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_orders), 2), pa.float64()),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_orders) * 86_400_000_000),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_orders)],
            pa.string()),
    }), f"{out}/orders.parquet")
    _write(lineitem_table(rng, n_orders), f"{out}/lineitem.parquet")

    span = 30 * 86_400_000_000
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.integers(0, span, n_events))),
        "user_id": pa.array(rng.integers(0, 1500, n_events), pa.int64()),
        "event_type": pa.array(np.array(
            ["signup", "click", "error", "view", "purchase"])[rng.integers(0, 5, n_events)], pa.string()),
        "value": pa.array(np.round(rng.exponential(80.0, n_events), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events).tolist()], pa.string()),
    }), f"{out}/events.parquet")

    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 81))]) for _ in range(n_docs)]
    # a twentieth of the documents are near-duplicates: another document's
    # original text plus " dup" (two of them copying one source are exact twins)
    originals = list(texts)
    for i in rng.choice(n_docs, n_docs // 20, replace=False).tolist():
        src = int(rng.integers(0, n_docs - 1))
        texts[i] = originals[src + (src >= i)] + " dup"
    langs = np.array(["en", "en", "zh", "de", "fr", "es"])
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.integers(0, 6, n_docs)], pa.string()),
        "source": pa.array(np.char.add("src", (np.arange(n_docs) % 20).astype(str)), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")

    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centers[label] + rng.normal(0, 1.2, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), f"{out}/embeddings.parquet")
