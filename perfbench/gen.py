"""Seeded input generators for the benchmark workloads.

Every table is a pure function of its arguments (numpy's PCG64 seeded
from them), so the same seed gives byte-identical parquet files.

- ``query_tables``: the ten tables the declared queries read, in the
  schema of the engine's star-schema fixture at scale factor 0.001. They
  are generated from a fixed seed, so the golden query digests stored
  beside the benchmark apply to them; the run seed only orders queries.
- ``rollup_documents``: the ``documents`` table ``RollupJob`` reads. Only
  ``doc_id``, ``source`` and ``n_chars`` matter to it: the engine derives
  each document's token array from its id and length.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "the a data row column table scan filter join hash merge sort group agg "
    "window stream batch spark query key value order line customer part big "
    "small fast slow vector"
).split()
N_SOURCES = 20
SOURCES = np.array([f"src{i}" for i in range(N_SOURCES)], dtype=object)
LANGS = np.array(["en", "zh", "es", "de", "fr"], dtype=object)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _ts(base, seconds):
    """Microsecond timestamps ``base + seconds``."""
    micros = np.round(np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(epoch + micros, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n, dup_rate, lo_words=10, hi_words=90):
    """Random word sequences; a ``dup_rate`` share copies an earlier text
    and appends one word, so it is a near-duplicate of that text."""
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < dup_rate:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(lo_words, hi_words))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def _documents(rng, n, dup_rate):
    text = _texts(rng, n, dup_rate)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), n)], type=pa.string()),
        "source": pa.array(SOURCES[rng.integers(0, N_SOURCES, n)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })


def query_tables(out_dir, seed=42):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part, n_ord, n_li, n_ev, n_doc = 150, 10, 200, 1500, 6000, 1000, 500
    i32, i64 = np.int32, np.int64

    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
    }), f"{out_dir}/nation.parquet")
    segments = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], dtype=object)
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)], type=pa.string()),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    }), f"{out_dir}/supplier.parquet")
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    ptypes = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], dtype=object)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=i64)),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(ptypes[rng.integers(0, len(ptypes), n_part)], type=pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)),
    }), f"{out_dir}/part.parquet")
    base = dt.datetime(1995, 1, 1)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=i64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(i64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)], type=pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(base, rng.integers(0, 2400, n_ord) * 86400),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)], type=pa.string()),
    }), f"{out_dir}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(i64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(i64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(i64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(i32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)], type=pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)], type=pa.string()),
        "l_shipdate": _ts(base, rng.integers(1, 2500, n_li) * 86400),
    }), f"{out_dir}/lineitem.parquet")
    etypes = np.array(["error", "click", "view", "signup", "purchase"], dtype=object)
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=i64)),
        "ts": _ts(dt.datetime(2024, 1, 1), np.sort(rng.uniform(0, 30 * 86400, n_ev))),
        "user_id": pa.array(rng.integers(0, n_cust, n_ev).astype(i64)),
        "event_type": pa.array(etypes[rng.integers(0, 5, n_ev)], type=pa.string()),
        "value": pa.array(_money(rng, 0.01, 490.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }), f"{out_dir}/events.parquet")
    _write(_documents(rng, n_doc, dup_rate=0.05), f"{out_dir}/documents.parquet")
    vec = rng.normal(0.0, 1.0, (n_doc, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_doc, dtype=i64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc).astype(i32)),
    }), f"{out_dir}/embeddings.parquet")


def rollup_documents(out_dir, seed, n_docs, n_tokens, skew=1.1, spread=1.0):
    """``n_docs`` documents holding exactly ``n_tokens`` tokens in total.

    ``source`` is Zipf-distributed with exponent ``skew`` over the twenty
    labels (the hottest source shifts with the seed). ``n_chars`` is
    log-normal with sigma ``spread``, rescaled to the token total; the seed
    changes which document gets which length, never the total."""
    rng = np.random.default_rng([seed, 1])
    weights = 1.0 / np.arange(1, N_SOURCES + 1) ** skew
    labels = rng.permutation(SOURCES)
    source = labels[rng.choice(N_SOURCES, n_docs, p=weights / weights.sum())]
    raw = rng.lognormal(0.0, spread, n_docs)
    n_chars = np.maximum(1, np.floor(raw / raw.sum() * n_tokens)).astype(np.int64)
    rest = n_tokens - int(n_chars.sum())
    n_chars[rng.choice(n_docs, abs(rest), replace=False)] += np.sign(rest)
    assert int(n_chars.sum()) == n_tokens and n_chars.min() >= 1
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "source": pa.array(source, type=pa.string()),
        "n_chars": pa.array(n_chars),
    }), f"{out_dir}/documents.parquet")
