"""Seeded generator for the star-schema + text + vector tables that
`SparkEntry.queries` read (region nation customer supplier part orders
lineitem events documents embeddings), one parquet file per table.

Row counts, key ranges and value distributions follow the repository's
shipped test tables (TESTDATA.md): fact tables scale with `sf`,
documents/embeddings keep a 500-row floor. tablecmp.py prints the comparison
with those tables; perfbench/README.md records it. Money columns are whole
cents divided by 100 so both engines read back the same doubles.
"""
import os

import numpy as np
import pandas as pd

WORDS = ("join hash row batch scan column customer filter small slow merge order "
         "vector line table data agg value key stream window a spark part group "
         "big sort query fast the").split()
ADJ = "blue hot small old red new cold large".split()
NOUN = "bolt gear anvil widget rod plate ring gizmo".split()
TYPES = "ECONOMY STANDARD LARGE SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENTS = "signup click error purchase view".split()
LANGS = ["en", "de", "fr", "es", "zh"]


def _cents(rng, lo, hi, n):
    return rng.integers(lo, hi + 1, n) / 100.0


def _days(rng, start, span_days, n):
    return pd.Timestamp(start) + pd.to_timedelta(rng.integers(0, span_days, n), unit="D")


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate: an earlier doc with one word appended
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k)))
    lang = rng.choice(LANGS, size=n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n, dim=64, labels=10):
    # isotropic unit vectors; the label carries no direction
    label = rng.integers(0, labels, n).astype(np.int32)
    v = rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [row.astype(np.float32) for row in v],
        "label": label,
    })


def generate(out_dir, sf, seed):
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_docs, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32 = np.int32
    tables = {
        "region": pd.DataFrame({
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32)}),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _cents(rng, -99999, 999999, n_supp)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _cents(rng, -99999, 999999, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)}),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": (9000 + np.arange(n_part) % 1000) / 10.0}),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, 100000, 50000000, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord)}),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, 90000, 10500000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["N", "A", "R"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)}),
        "events": pd.DataFrame({
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(
                np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)), unit="us"),
            "user_id": rng.integers(0, max(15, int(15000 * sf)), n_ev).astype(np.int64),
            "event_type": rng.choice(EVENTS, n_ev),
            "value": np.maximum(1, np.round(rng.exponential(5000, n_ev))) / 100.0,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_emb),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False,
                      coerce_timestamps="us")
    return {name: len(df) for name, df in tables.items()}


if __name__ == "__main__":
    import sys
    print(generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3])))
