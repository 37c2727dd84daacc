"""Compares the fixture tables `gen_data.py` writes with another set of
fixture tables of the same scale, table by table and column by column.

    python3 perfbench/compare_fixtures.py <reference_dir> <generated_dir>

For every table it prints the row count; for every column the distinct
count and, for numbers and timestamps, the 0/25/50/75/100th percentiles, or
for strings the token-count percentiles and vocabulary size. It ends with
the document features the curation queries are sensitive to: how many
documents are another document plus one word, and the most common words.
The generator's parameters are set so these match; the script exits 1 if a
row count or a column's distinct count differs by more than 5 %.
"""
import collections
import sys

import numpy as np
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
TOLERANCE = 0.05


def column_summary(s):
    out = {"distinct": int(s.astype(str).nunique()) if s.dtype == object else int(s.nunique())}
    if s.dtype == object and isinstance(s.iloc[0], str):
        toks = s.str.split().map(len)
        out["tokens_pct"] = np.percentile(toks, [0, 25, 50, 75, 100]).round(1).tolist()
        out["vocab"] = len({w for t in s for w in t.split()})
    elif s.dtype != object:
        v = s.astype("int64") if str(s.dtype).startswith("datetime") else s
        out["pct"] = np.percentile(v, [0, 25, 50, 75, 100]).round(3).tolist()
    return out


def summary(d):
    res = {}
    for t in TABLES:
        df = pq.read_table(f"{d}/{t}.parquet").to_pandas()
        res[t] = {"rows": len(df),
                  "cols": {c: column_summary(df[c]) for c in df.columns if c != "embedding"}}
    doc = pq.read_table(f"{d}/documents.parquet").to_pandas()
    texts = set(doc.text)
    res["near_dup_docs"] = sum(1 for t in doc.text if " " in t and t.rsplit(" ", 1)[0] in texts)
    res["top_words"] = collections.Counter(w for t in doc.text for w in t.split()).most_common(5)
    return res


def main():
    if len(sys.argv) != 3:
        sys.exit("usage: compare_fixtures.py <reference_dir> <generated_dir>")
    a, b = summary(sys.argv[1]), summary(sys.argv[2])
    bad = []
    for t in TABLES:
        print(f"{t}: rows {a[t]['rows']} vs {b[t]['rows']}")
        if abs(a[t]["rows"] - b[t]["rows"]) > TOLERANCE * a[t]["rows"]:
            bad.append(f"{t} rows")
        for c, sa in a[t]["cols"].items():
            sb = b[t]["cols"].get(c)
            print(f"  {c}: {sa}\n  {' ' * len(c)}  {sb}")
            if sb is None or abs(sa["distinct"] - sb["distinct"]) > TOLERANCE * sa["distinct"]:
                bad.append(f"{t}.{c} distinct")
    print(f"near-duplicate documents: {a['near_dup_docs']} vs {b['near_dup_docs']}")
    print(f"top words: {a['top_words']}\n           {b['top_words']}")
    for m in bad:
        print(f"MISMATCH {m}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
