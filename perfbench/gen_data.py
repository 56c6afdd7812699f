"""Deterministic TPC-H-ish tables for the query workloads.

The tables have the schema and value ranges the engine's declared queries
are written against (a star schema, an `events` stream table, `documents`
with exact and near-duplicate copies, unit-norm `embeddings`). Row counts scale with
`sf` the same way: lineitem ~6M*sf, events 1M*sf.

The data seed is fixed (DATA_SEED), so every run of a workload reads the same
tables and the per-query result checksums in `expected.json` stay valid; the
benchmark's --seed varies the order the queries run in, not the data.

`events.parquet` is written as a directory holding one part file: the
streaming queries then read the directory in place instead of building a
symlink directory of their own.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
FORMAT_VERSION = "2"

ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "purchase", "view"]
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _date_us(rng, n, start, end):
    """Whole days between two ISO dates, as epoch microseconds."""
    d0 = np.datetime64(start, "D").astype(np.int64)
    d1 = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(d0, d1 + 1, n) * 86_400_000_000).astype(np.int64)


def generate(sf, out):
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out, exist_ok=True)
    n_cust = max(1, int(round(150_000 * sf)))
    n_supp = max(1, int(round(10_000 * sf)))
    n_part = max(1, int(round(200_000 * sf)))
    n_ord = max(1, int(round(1_500_000 * sf)))
    n_li = max(1, int(round(6_000_000 * sf)))
    n_ev = max(1, int(round(1_000_000 * sf)))
    n_users = max(1, int(round(15_000 * sf)))
    n_doc = max(500, int(round(50_000 * sf)))
    n_emb = max(500, int(round(20_000 * sf)))
    ts_type = pa.timestamp("us")

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-1000, 10000, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-1000, 10000, n_supp),
    }), f"{out}/supplier.parquet")
    keys = np.arange(n_part, dtype=np.int64)
    _write(pa.table({
        "p_partkey": keys,
        "p_name": np.char.add(np.char.add(np.array(ADJ)[rng.integers(0, 8, n_part)], " "),
                              np.array(NOUN)[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    }), f"{out}/part.parquet")

    odate = _date_us(rng, n_ord, "1995-01-01", "2001-08-01")
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": pa.array(odate, ts_type),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out}/orders.parquet")

    lok = rng.integers(0, n_ord, n_li).astype(np.int64)
    ship = odate[lok] + rng.integers(1, 95, n_li) * 86_400_000_000
    _write(pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship, ts_type),
    }), f"{out}/lineitem.parquet")

    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ev_dir = f"{out}/events.parquet"
    os.makedirs(ev_dir, exist_ok=True)
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.sort(t0 + rng.integers(0, span, n_ev)), ts_type),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{ev_dir}/part-00000.parquet")

    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 0 and r < 0.07:  # 2% exact copies, 5% near copies
            src = texts[int(rng.integers(max(0, i - 50), i))]
            texts.append(src if r < 0.02 else src + " dup" * int(rng.integers(1, 4)))
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n_words)]))
    _write(pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out}/documents.parquet")

    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    }), f"{out}/embeddings.parquet")


def ensure(sf, root):
    """Generate the tables for `sf` under `root` once; return their dir."""
    out = os.path.join(root, f"sf{sf}-v{FORMAT_VERSION}")
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        tmp = out + ".tmp"
        if os.path.exists(tmp):
            import shutil
            shutil.rmtree(tmp)
        generate(sf, tmp)
        if os.path.exists(out):
            import shutil
            shutil.rmtree(out)
        os.rename(tmp, out)
        open(done, "w").close()
    return out


if __name__ == "__main__":
    print(ensure(float(sys.argv[1]), sys.argv[2]))
