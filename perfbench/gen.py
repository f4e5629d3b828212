"""Seeded input generator for the benchmark workloads.

Every table has the schema and value ranges of the repository's test
table of the same name (orders, documents). Values are drawn from the seed
alone, so the same seed always gives the same parquet files.

The scaled workloads follow the key-shift replication recipe of the
repository's `ScaleGen` dev tool: copy i shifts every identifier column by
i * 10**10 and suffixes every text token with the copy index (so copies
share no shingles), one parquet file per copy. On top of that the seed
adds near-duplicate text edits to the base corpus.
"""
import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SHIFT = 10_000_000_000
US_PER_DAY = 86_400_000_000
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# Row counts per unit scale factor (sf 1.0), as in the test tables.
ROWS = {"customer": 150_000, "orders": 1_500_000, "documents": 50_000}

# Workload inputs: base scale factor, replica count, and tables. Base
# tables are drawn at `sf`; `copies` > 1 replicates them by key shift.
WORKLOADS = {
    "profile": {"sf": 0.03, "copies": 1, "tables": ["orders"]},
    "curate_x10": {"sf": 0.01, "copies": 10, "near_dup_share": 0.05,
                   "tables": ["documents"]},
}


def _take(values, idx):
    return pc.take(pa.array(values, pa.string()), pa.array(idx))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates(rng, start_day, n_days, n):
    base = np.datetime64("1995-01-01", "us").astype(np.int64)
    days = start_day + rng.integers(0, n_days, n)
    return pa.array(base + days * US_PER_DAY, pa.timestamp("us"))


def _texts(rng, n):
    # the same spread of lengths, 10 to 100 words, in a seeded order: every
    # seed draws the same number of words, so the work per run is the same
    lens = rng.permutation(10 + np.arange(n) * 91 // n)
    toks = rng.integers(0, len(WORDS), int(lens.sum()))
    words = np.array(WORDS, dtype=object)[toks]
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(words[pos:pos + k]))
        pos += k
    return out


def base_table(name, sf, rng):
    """One table at scale factor `sf`, drawn from `rng`."""
    n = max(1, int(round(ROWS.get(name, 0) * sf)))
    if name == "orders":
        return pa.table({
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, ROWS["customer"] * sf, n),
            "o_orderstatus": _take(["F", "O", "P"], rng.integers(0, 3, n)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _dates(rng, 0, 2404, n),
            "o_orderpriority": _take(PRIORITIES, rng.integers(0, 5, n))})
    if name == "documents":
        text = _texts(rng, n)
        return pa.table({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(text),
            "lang": _take(LANGS, rng.choice(5, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    raise ValueError(f"unknown table {name}")


def near_duplicates(docs, share, rng):
    """Overwrite `share` of the documents with an edited copy of another
    document: 2 words replaced, so each pair sits above typical
    near-duplicate thresholds without being an exact duplicate. Sources
    and targets are distinct documents, so every seed makes the same
    number of two-document clusters."""
    text = docs.column("text").to_pylist()
    n = len(text)
    k = int(n * share)
    picked = rng.choice(n, 2 * k, replace=False)
    for d, s in zip(picked[:k], picked[k:]):
        words = text[s].split(" ")
        for p in rng.choice(len(words), 2, replace=False):
            words[p] = WORDS[rng.integers(0, len(WORDS))]
        text[d] = " ".join(words)
    return docs.set_column(docs.schema.get_field_index("text"), "text",
                           pa.array(text)).set_column(
        docs.schema.get_field_index("n_chars"), "n_chars",
        pa.array([len(t) for t in text], pa.int64()))


def replica(t, i):
    """Copy `i` of table `t` (ScaleGen's key-shift recipe): identifiers
    shift by i * SHIFT and every text token gets the suffix `·i`."""
    if i == 0:
        return t
    cols = {f.name: t.column(f.name) for f in t.schema}
    for name, c in cols.items():
        if name.endswith("_id") or name.endswith("key"):
            cols[name] = pc.add(c, pa.scalar(i * SHIFT, c.type))
    if "text" in cols:
        cols["text"] = pc.replace_substring_regex(cols["text"], r"(\S+)",
                                                  rf"\1·{i}")
        cols["n_chars"] = pc.utf8_length(cols["text"]).cast(pa.int64())
    return pa.table(cols)


def generate(workload, seed, out_dir):
    """Write the workload's tables for `seed` under `out_dir`; return the
    manifest (rows and bytes per table, generation seconds)."""
    spec = WORKLOADS[workload]
    t0 = time.perf_counter()
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = {"workload": workload, "seed": seed, "sf": spec["sf"],
                "copies": spec["copies"], "tables": {}}
    for ti, name in enumerate(spec["tables"]):
        rng = np.random.default_rng([seed, ti])
        t = base_table(name, spec["sf"], rng)
        if name == "documents" and spec.get("near_dup_share"):
            t = near_duplicates(t, spec["near_dup_share"], rng)
        path = os.path.join(tmp, f"{name}.parquet")
        if spec["copies"] == 1:
            pq.write_table(t, path)
            size = os.path.getsize(path)
        else:
            # one file per replica, as a Spark write of the union would
            # leave them, so scans split across cores
            copies = [replica(t, i) for i in range(spec["copies"])]
            os.makedirs(path)
            size = 0
            for i, c in enumerate(copies):
                f = os.path.join(path, f"part-{i:05d}.parquet")
                pq.write_table(c, f)
                size += os.path.getsize(f)
            t = pa.concat_tables(copies)
        manifest["tables"][name] = {"rows": t.num_rows, "bytes": size}
    manifest["gen_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return manifest


def digest():
    """Content hash of this generator, so cached inputs are redrawn when
    the recipe changes."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


if __name__ == "__main__":
    wl, sd, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(wl, sd, out)))
