"""Seeded input generator for the front-door benchmark.

Writes one parquet file per table under ``--out``, in the layout
``impala_spark.session.register_tables`` reads (``<dir>/<table>.parquet``):
TPC-H-style ``region nation customer supplier part orders lineitem`` at
sf0.1 row counts, an ``events`` stream table, and a ``documents`` /
``embeddings`` corpus with a seeded share of planted duplicates.

The same ``--seed`` always writes byte-identical tables. Run as a child
process so its memory never counts toward the benchmarked process:

    python3 perfbench/gen.py --seed 7 --out /some/dir --tables tpch,events

With ``--expect FILE`` it then computes the llm_dedup pipelines' DuckDB
oracle results over those tables, so the check after the timed region
only compares.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = 0.1
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "hot", "large", "ring", "bolt", "steel", "green", "small"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EMB_DIM = 64

#: corpus size: the DuckDB oracles of the dedup pipelines grow roughly
#: quadratically in it, so it stays near the sf0.01 fixture corpus
N_DOCS = 300
#: share of the corpus that is a planted copy of an earlier document
PLANTED_NEAR_DUP_SHARE = 0.08
PLANTED_EXACT_DUP_SHARE = 0.03

EPOCH = dt.datetime(1970, 1, 1)
DAY_US = 86_400_000_000


def _ts(days_since_epoch: np.ndarray) -> pa.Array:
    return pa.array(days_since_epoch.astype("int64") * DAY_US, pa.timestamp("us"))


def _days(y: int, m: int, d: int) -> int:
    return (dt.datetime(y, m, d) - EPOCH).days


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li = int(1_500_000 * SF), int(6_000_000 * SF)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    w = np.array(PART_WORDS)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(w[rng.integers(0, 8, n_part)], " "),
                              w[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    d0, d1 = _days(1995, 1, 1), _days(2001, 8, 1)
    odate = rng.integers(d0, d1 + 1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lok = rng.integers(0, n_ord, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_li)),
    })
    return t


def events_table(rng: np.random.Generator, n: int = 100_000) -> pa.Table:
    start = (dt.datetime(2024, 1, 1) - EPOCH).days * DAY_US
    span = 30 * DAY_US
    ts = start + np.sort(rng.integers(0, span, n))
    late = rng.random(n) < 0.05  # ~5% late rows, up to 10 minutes
    ts = ts - np.where(late, rng.integers(0, 600_000_000, n), 0)
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _money(rng, 0.0, 560.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def corpus_tables(rng: np.random.Generator) -> tuple[dict[str, pa.Table], dict]:
    """Documents + embeddings. Base documents are random word sequences;
    planted near-duplicates append one word to an earlier document (word
    3-shingle Jaccard >= 0.96, so banded LSH recall is 1.0 and the exact
    oracles agree), planted exact duplicates re-case and re-space one.
    A planted copy's embedding is its source's plus small noise."""
    vocab = np.array(VOCAB)
    n_near = int(round(N_DOCS * PLANTED_NEAR_DUP_SHARE))
    n_exact = int(round(N_DOCS * PLANTED_EXACT_DUP_SHARE))
    n_base = N_DOCS - n_near - n_exact
    texts: list[str] = []
    vecs = rng.normal(0.0, 0.125, (N_DOCS, EMB_DIM)).astype("float32")
    for _ in range(n_base):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    # plant copies only of documents long enough for the Jaccard floor
    sources = [i for i, s in enumerate(texts) if s.count(" ") >= 29]
    for j in range(n_near + n_exact):
        src = int(sources[rng.integers(0, len(sources))])
        if j < n_near:
            texts.append(texts[src] + " " + str(vocab[rng.integers(0, len(vocab))]))
        else:
            texts.append("  " + texts[src].upper().replace(" ", "   ") + " ")
        vecs[len(texts) - 1] = vecs[src] + rng.normal(0, 0.002, EMB_DIM)
    # shuffle positions so planted copies are spread over the id range
    perm = rng.permutation(N_DOCS)
    texts = [texts[i] for i in perm]
    vecs = vecs[perm]
    docs = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), N_DOCS)],
        "source": np.char.add("src", rng.integers(0, 20, N_DOCS).astype(str)),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    emb = pa.table({
        "vec_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_DOCS), pa.int32()),
    })
    info = {
        "docs": N_DOCS,
        "planted_near_dup_share": n_near / N_DOCS,
        "planted_exact_dup_share": n_exact / N_DOCS,
    }
    return {"documents": docs, "embeddings": emb}, info


def generate(seed: int, out: str, groups: list[str]) -> dict:
    """Write the requested table groups (``tpch``, ``events``, ``corpus``)
    under ``out``; returns a small description of what was planted."""
    os.makedirs(out, exist_ok=True)
    info: dict = {"seed": seed}
    tables: dict[str, pa.Table] = {}
    # one independent stream per group: asking for fewer groups never
    # changes the tables of the others
    streams = np.random.SeedSequence(seed).spawn(3)
    if "tpch" in groups:
        tables.update(tpch_tables(np.random.default_rng(streams[0])))
    if "events" in groups:
        tables["events"] = events_table(np.random.default_rng(streams[1]))
    if "corpus" in groups:
        corpus, cinfo = corpus_tables(np.random.default_rng(streams[2]))
        tables.update(corpus)
        info.update(cinfo)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    info["rows"] = {k: v.num_rows for k, v in tables.items()}
    return info


def expected_results(inputs: str, queries: dict[str, str], out: str) -> None:
    """Run each DuckDB text over the generated tables and pickle
    {name: (columns, rows, seconds)} to ``out``."""
    import pickle
    import time

    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(inputs)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{inputs}/{f}')")
    res = {}
    for name, sql in queries.items():
        t = time.perf_counter()
        cur = con.execute(sql)
        rows = cur.fetchall()
        res[name] = ([d[0] for d in cur.description], rows, time.perf_counter() - t)
    with open(out, "wb") as f:
        pickle.dump(res, f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tables", default="tpch,events,corpus")
    ap.add_argument("--expect", help="also pickle the llm_dedup pipelines' DuckDB "
                    "oracle results over the written tables to this file")
    a = ap.parse_args()
    info = generate(a.seed, a.out, a.tables.split(","))
    if a.expect:
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from impala_spark.queries import ORACLE_SQL
        from workloads import PIPELINES

        expected_results(a.out, {p: ORACLE_SQL[o] for p, (_f, o) in PIPELINES.items()},
                         a.expect)
    print(json.dumps(info))


if __name__ == "__main__":
    main()
