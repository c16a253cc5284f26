#!/usr/bin/env python3
"""Compares the distributions of two or more sets of query tables, such as
the repository's shipped sf 0.01 test tables and tablegen.py's output for a
few seeds. Prints one markdown table per statistic group, one column per
table set.

    python3 perfbench/tablecmp.py NAME=DIR [NAME=DIR ...]
    python3 perfbench/tablecmp.py shipped=<tables> gen0=<dir> gen1=<dir>

With --outputs, each DIR is instead a directory of query results (one parquet
directory per query, as a queries pass writes them) and the table lists each
query's output row count.
"""
import glob
import os
import sys

import numpy as np
import pandas as pd


def _shingles(text, k=3):
    w = text.split()
    return {tuple(w[i:i + k]) for i in range(len(w) - k + 1)}


def documents(df):
    words = [t.split() for t in df.text]
    lens = np.array([len(w) for w in words])
    sh = [_shingles(t) for t in df.text]
    near = 0
    for i in range(len(sh)):
        for j in range(i):
            u = len(sh[i] | sh[j])
            if u and len(sh[i] & sh[j]) / u >= 0.8:
                near += 1
                break
    shares = df.lang.value_counts(normalize=True)
    return {
        "docs": len(df),
        "vocabulary": len({x for w in words for x in w}),
        "words/doc min": lens.min(),
        "words/doc median": float(np.median(lens)),
        "words/doc mean": round(lens.mean(), 1),
        "words/doc max": lens.max(),
        "near-dup share (3-shingle J >= 0.8 to an earlier doc)": round(near / len(df), 3),
        "lang en share": round(shares.get("en", 0.0), 3),
        "sources": df.source.nunique(),
    }


def embeddings(df):
    v = np.stack(df.embedding.values).astype(np.float64)
    lab = df.label.values
    c = v @ v.T
    same = lab[:, None] == lab[None, :]
    off = ~np.eye(len(v), dtype=bool)
    return {
        "vectors": len(v),
        "dim": v.shape[1],
        "labels": len(set(lab)),
        "mean norm": round(float(np.linalg.norm(v, axis=1).mean()), 4),
        "mean cos, same label": round(float(c[same & off].mean()), 4),
        "mean cos, other label": round(float(c[~same].mean()), 4),
        "max cos between two vectors": round(float(c[off].max()), 4),
    }


def columns(d):
    out = {}
    for path in sorted(glob.glob(os.path.join(d, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        df = pd.read_parquet(path)
        out[f"{name} rows"] = len(df)
        for col in df.columns:
            s = df[col]
            if s.dtype == object and len(s) and not isinstance(s.iloc[0], str):
                continue
            out[f"{name}.{col} distinct"] = s.nunique()
            if pd.api.types.is_numeric_dtype(s) or pd.api.types.is_datetime64_any_dtype(s):
                lo, hi = s.min(), s.max()
                out[f"{name}.{col} range"] = (f"{lo.date()}..{hi.date()}"
                                             if hasattr(lo, "date") else f"{lo:g}..{hi:g}")
            if pd.api.types.is_float_dtype(s):
                out[f"{name}.{col} mean"] = round(float(s.mean()), 2)
    return out


def outputs(d):
    return {os.path.basename(q): len(pd.read_parquet(q))
            for q in sorted(glob.glob(os.path.join(d, "q*"))) if os.path.isdir(q)}


def table(title, sets, stat):
    rows = [stat(d) for _, d in sets]
    keys = list(dict.fromkeys(k for r in rows for k in r))
    print(f"\n### {title}\n")
    print("| | " + " | ".join(n for n, _ in sets) + " |")
    print("|---" * (len(sets) + 1) + "|")
    for k in keys:
        print(f"| {k} | " + " | ".join(str(r.get(k, "-")) for r in rows) + " |")


def main(argv):
    outs = "--outputs" in argv
    sets = [tuple(x.split("=", 1)) for x in argv if x != "--outputs"]
    if not sets or any(len(s) != 2 for s in sets):
        sys.exit(__doc__)
    if outs:
        table("query output rows", sets, outputs)
        return
    table("documents", sets, lambda d: documents(pd.read_parquet(f"{d}/documents.parquet")))
    table("embeddings", sets, lambda d: embeddings(pd.read_parquet(f"{d}/embeddings.parquet")))
    table("columns", sets, columns)


if __name__ == "__main__":
    main(sys.argv[1:])
