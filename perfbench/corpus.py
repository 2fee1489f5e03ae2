"""Seeded corpus tables for the corpus_ops workload, and the DuckDB
oracle check of its results.

The tables carry the columns the six corpus entries and their oracle SQL
read, under the names of the repo's testdata (documents, embeddings,
lineitem), so the program loads them through its own `graft.Tables`.
Their shape is the testdata's, as measured on its sf0.01 and sf0.1
tables (perfbench/README.md, "Corpus shape"): the same row counts per
scale factor, the same 30-word vocabulary drawn uniformly, lengths
uniform over 10-99 tokens, 5% of documents a copy of another one with
" dup" appended, and embeddings without cluster structure.
"""
import json
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check_oracle import table_digest  # noqa: E402

VERSION = 2

WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)


def generate(out_dir, seed, sf):
    """Write documents/embeddings/lineitem parquet for one seed."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_docs = max(500, round(50000 * sf))
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(n))])
             for n in rng.integers(10, 100, n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        j = (i + int(rng.integers(1, n_docs))) % n_docs
        texts[i] = texts[j] + " dup"
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)].tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(out_dir, "documents.parquet"))

    n_vec = max(500, round(20000 * sf))
    vec = rng.normal(size=(n_vec, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    }), os.path.join(out_dir, "embeddings.parquet"))

    n_li = max(6000, round(6000000 * sf))
    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_li // 4, n_li)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90000, 10500000, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_li)].tolist()),
    }), os.path.join(out_dir, "lineitem.parquet"))


def digest(rows, cols):
    """Column names, row count and the repo's canonical table digest."""
    return f"{sorted(cols)}:{len(rows)}:{table_digest(rows, cols)}"


def oracle_digests(data_dir, sqls):
    """DuckDB digest per entry, cached next to the inputs by SQL text."""
    cache = os.path.join(data_dir, "oracle.json")
    key = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode()).hexdigest()
    if os.path.exists(cache):
        with open(cache) as f:
            got = json.load(f)
        if got.get("key") == key:
            return got["digests"]
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ("documents", "embeddings", "lineitem"):
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in sorted(sqls.items()):
        res = con.execute(sql)
        out[name] = digest(res.fetchall(), [d[0] for d in res.description])
    con.close()
    with open(cache, "w") as f:
        json.dump({"key": key, "digests": out}, f)
    return out


def result_digests(results_dir, names):
    out = {}
    for name in names:
        t = pq.read_table(os.path.join(results_dir, name))
        rows = [tuple(r[c] for c in t.column_names) for r in t.to_pylist()]
        out[name] = digest(rows, t.column_names)
    return out
