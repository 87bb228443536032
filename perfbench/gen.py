#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

The same seed writes byte-identical files; another seed writes the same
row counts in another order (and, for catalog_large, other key offsets
and perturbations). On success the last stdout line is a JSON object
{file: {"rows": n, "bytes": n, "sha256": hex}} for every file written.

Workloads:
  catalog_small   the sf0.01 corpus in perfbench/corpus, every table's rows
                  permuted by the seed;
  catalog_large   ten key-offset copies of that corpus (10x rows). Copy
                  offsets come from the seed, rows are permuted, and each
                  copy's document tokens and embedding components get a
                  seeded perturbation so the copies are not exact duplicates;
  pipeline_lines  a synthetic 30-token line corpus with planted exact and
                  near duplicates, e-mail addresses and phone numbers,
                  written as text and NDJSON, plus the gasket.json that
                  declares the benchmark's pipelines.
"""
import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "corpus", "sf0.01")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Key columns shifted per copy in catalog_large (tools/gen_sf1.py's map);
# region and nation are fixed-size dimensions and are copied once.
KEYS = {
    "customer": ["c_custkey"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "events": ["event_id", "user_id"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "region": [],
    "nation": [],
}
COPIES = 10


def rng_for(seed, *names):
    """Independent, reproducible stream per (seed, purpose)."""
    h = hashlib.sha256(("%d/" % seed + "/".join(names)).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def write_parquet(table, path):
    # fixed writer options: the bytes depend on the data alone
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def permute(table, rng):
    return table.take(pa.array(rng.permutation(table.num_rows)))


def gen_catalog_small(seed, out):
    for name in TABLES:
        t = pq.read_table(os.path.join(BASE, name + ".parquet"))
        write_parquet(permute(t, rng_for(seed, "perm", name)), os.path.join(out, name + ".parquet"))


def perturb_text(texts, rng):
    """Replace one token per document with another token of the corpus
    vocabulary, at a seeded position."""
    vocab = sorted({w for t in texts for w in t.split(" ") if w})
    picks = rng.integers(0, len(vocab), size=len(texts))
    where = rng.random(size=len(texts))
    out = []
    for t, p, u in zip(texts, picks, where):
        toks = t.split(" ")
        toks[int(u * len(toks))] = vocab[p]
        out.append(" ".join(toks))
    return out


def perturb_embeddings(col, rng):
    vecs = np.stack(col.to_numpy(zero_copy_only=False)).astype(np.float64)
    vecs += rng.normal(0.0, 0.02, size=vecs.shape)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat).cast(col.type)


def gen_catalog_large(seed, out):
    # one offset unit above every key of the base corpus (max ~60 k),
    # scaled by the seed so key values differ between seeds
    unit = 1_000_000 * (1 + seed % 9)
    for name in TABLES:
        base = pq.read_table(os.path.join(BASE, name + ".parquet"))
        keys = KEYS[name]
        parts = [base] if not keys else []
        for i in range(COPIES if keys else 0):
            c = base
            for k in keys:
                idx = c.schema.get_field_index(k)
                c = c.set_column(idx, k, pc.add(c.column(k), pa.scalar(i * unit, pa.int64())))
            if name == "documents" and i > 0:
                rng = rng_for(seed, "text", str(i))
                texts = perturb_text(c.column("text").to_pylist(), rng)
                c = c.set_column(c.schema.get_field_index("text"), "text", pa.array(texts, pa.string()))
                c = c.set_column(c.schema.get_field_index("n_chars"), "n_chars",
                                 pa.array([len(t) for t in texts], pa.int64()))
            if name == "embeddings" and i > 0:
                rng = rng_for(seed, "vec", str(i))
                c = c.set_column(c.schema.get_field_index("embedding"), "embedding",
                                 perturb_embeddings(c.column("embedding").combine_chunks(), rng))
            parts.append(c)
        t = pa.concat_tables(parts).combine_chunks()
        write_parquet(permute(t, rng_for(seed, "perm", name)), os.path.join(out, name + ".parquet"))


# ------------------------------------------------------------ pipeline_lines

LINES = 50_000
TOKENS = 30
WORDS = ["alpha", "Bravo", "charlie", "DELTA", "echo", "foxtrot", "golf", "Hotel",
         "india", "juliet", "kilo", "lima", "mike", "November", "oscar", "papa",
         "quebec", "romeo", "sierra", "tango", "uniform", "victor", "whiskey",
         "xray", "yankee", "zulu", "spark", "stream", "batch", "join", "merge",
         "window", "filter", "scan", "shuffle", "stage", "task", "job", "pipe",
         "module", "command", "record", "line", "token", "corpus", "index"]

# Every pipeline the workload runs. Modules named here that are not
# built into the engine (count-source, src-*, tokens) are registered by
# the benchmark harness.
GASKET = {
    "modules": [{"module": "normalize"}, {"module": "redact"}, {"module": "uppercase"}],
    "tr": ["tr a-z A-Z"],
    "ndjson": [{"module": "tokens", "json": True}],
    "fork": [{"module": "uppercase", "type": "fork"}, {"module": "lowercase", "type": "fork"}],
    "tee": [{"module": "count-source", "type": "map"},
            {"module": "uppercase", "type": "map"},
            {"module": "normalize", "type": "map"}],
    "reduce": [{"module": "dedup-lines", "type": "reduce"},
               {"module": "src-lines", "type": "reduce"},
               {"module": "src-ndjson-text", "type": "reduce"}],
    "multiseg": [{"module": "normalize"},
                 {"module": "src-lines", "type": "run"},
                 {"module": "src-ndjson-text", "type": "run"}],
}


def gen_pipeline_lines(seed, out):
    rng = rng_for(seed, "lines")
    # Zipf-like token frequencies over a small vocabulary plus a long tail
    # of numbered words, so dedup and hashing see realistic skew
    vocab = WORDS + ["w%04d" % i for i in range(2000)]
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    weights /= weights.sum()
    toks = rng.choice(len(vocab), size=(LINES, TOKENS), p=weights)
    kind = rng.random(LINES)
    lines = []
    for i in range(LINES):
        words = [vocab[j] for j in toks[i]]
        k = kind[i]
        if k < 0.05 and i > 0:            # exact duplicate of an earlier line
            lines.append(lines[int(rng.integers(0, i))])
            continue
        if k < 0.10 and i > 0:            # near duplicate: one token changed
            words = lines[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
        elif k < 0.15:                    # e-mail address for redact
            words[int(rng.integers(0, TOKENS))] = "user%d@mail%d.example.com" % (
                rng.integers(0, 10_000), rng.integers(0, 50))
        elif k < 0.20:                    # phone number for redact
            words[int(rng.integers(0, TOKENS))] = "%010d" % rng.integers(0, 10**10)
        elif k < 0.25:                    # runs of spaces for normalize
            words[int(rng.integers(0, TOKENS))] += "   "
        lines.append(" ".join(words))
    with open(os.path.join(out, "lines.txt"), "w", encoding="utf-8", newline="\n") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(out, "lines.ndjson"), "w", encoding="utf-8", newline="\n") as f:
        for i, line in enumerate(lines):
            f.write(json.dumps({"id": i, "text": line}, separators=(",", ":")) + "\n")
    with open(os.path.join(out, "gasket.json"), "w", encoding="utf-8") as f:
        json.dump(GASKET, f, indent=2, sort_keys=True)
        f.write("\n")


GENERATORS = {
    "catalog_small": gen_catalog_small,
    "catalog_large": gen_catalog_large,
    "pipeline_lines": gen_pipeline_lines,
}


def manifest(out):
    m = {}
    for name in sorted(os.listdir(out)):
        p = os.path.join(out, name)
        with open(p, "rb") as f:
            data = f.read()
        if name.endswith(".parquet"):
            rows = pq.ParquetFile(p).metadata.num_rows
        else:
            rows = data.count(b"\n")
        m[name] = {"rows": rows, "bytes": len(data), "sha256": hashlib.sha256(data).hexdigest()}
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    os.makedirs(a.out, exist_ok=True)
    GENERATORS[a.workload](a.seed, a.out)
    print(json.dumps(manifest(a.out), sort_keys=True))


if __name__ == "__main__":
    sys.exit(main())
