"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical inputs, and every seed writes inputs of the same size
(rows, bytes within a few percent, distinct keys), so runs with
different seeds measure the same amount of work.

    python3 perfbench/gen.py <workload> <seed> <outdir>

writes the workload's inputs under <outdir> and prints one JSON line
describing them (bytes, rows, distinct keys per input).
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64  # embedding width the engine's vector kernels expect

# Vocabulary of the documents table in the repository's test corpus
# (TESTDATA.md).
DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch").split()
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

# Sizes per workload. A seed changes content, never size.
SIZES = {
    "sql_mix": {"sf": 0.02},
    "corpus_curate": {"docs": 300, "vecs": 300, "replicas": 2},
    "mr_dfs": {"text_lines": 25000, "vocab": 20000, "dialog_lines": 30000,
               "characters": 2000},
    "index_refresh": {"base": 300, "batches": 20, "batch_rows": 50,
                      "clusters": 16},
}


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _stats(path, table, keys):
    return {"bytes": os.path.getsize(path), "rows": table.num_rows,
            "distinct_keys": {k: len(pa.compute.unique(table[k])) for k in keys}}


def documents(rng, n, replicas=1):
    """Documents like the test corpus: uniform words from DOC_WORDS,
    5% near-duplicates (an earlier doc plus a trailing "dup" word).
    With replicas > 1, each replica i >= 1 renames every word w to
    w + "x<i>" (the distinct-replica bijection of the repo's scale-up
    tool), so replicas share no shingles while each keeps its internal
    structure; replica 0 keeps the original words, so queries that look
    for particular words still find them.
    """
    words = np.array(DOC_WORDS)
    # exactly 5% near-duplicates, so every seed does the same dedup work
    dups = set(rng.choice(np.arange(21, n), n // 20, replace=False).tolist())
    texts = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    langs = LANGS[rng.choice(len(LANGS), n, p=LANG_P)]
    ids, out_text, out_lang, out_src = [], [], [], []
    for r in range(replicas):
        for i, t in enumerate(texts):
            ids.append(i + r * 10_000_000)
            out_text.append(t if r == 0 else
                            " ".join(w + f"x{r}" for w in t.split(" ")))
            out_lang.append(langs[i])
            out_src.append(f"src{i % 20}")
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(out_text, pa.string()),
        "lang": pa.array(out_lang, pa.string()),
        "source": pa.array(out_src, pa.string()),
        "n_chars": pa.array([len(t) for t in out_text], pa.int64()),
    })


def clustered_vectors(rng, n, clusters, spread=0.35):
    """Unit vectors around `clusters` random centres; returns (vecs, labels)."""
    centres = rng.standard_normal((clusters, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, clusters, n)
    v = centres[labels] + spread * rng.standard_normal((n, DIM)) / np.sqrt(DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels.astype(np.int32)


def vec_table(ids, vecs, labels=None):
    cols = {"vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}
    if labels is not None:
        cols["label"] = pa.array(labels, pa.int32())
    return pa.table(cols)


def embeddings(rng, n, replicas=1):
    """Embeddings like the test corpus: 10 labelled clusters. Replica i
    circular-shifts the dims by i and flips signs by a fixed per-(i, dim)
    pattern, an orthogonal map that keeps within-replica cosines exact.
    """
    v, labels = clustered_vectors(rng, n, 10)
    ids, vecs, labs = [], [], []
    for r in range(replicas):
        signs = np.where(np.random.default_rng(1000 + r).random(DIM) < 0.5,
                         -1.0, 1.0).astype(np.float32)
        rv = v if r == 0 else np.roll(v, -r, axis=1) * signs
        ids.extend(range(r * 10_000_000, r * 10_000_000 + n))
        vecs.extend(rv)
        labs.extend(labels)
    return vec_table(ids, vecs, labs)


def tpch(rng, sf):
    """The TPC-H-ish star schema plus the events stream table, with the
    test corpus's column names, types and value ranges. Keys are dense
    and unique, every foreign key matches a dimension row.
    """
    n_cust, n_supp, n_part = int(15000 * sf), max(10, int(1000 * sf)), int(20000 * sf)
    n_ord, n_ev = int(150000 * sf), int(1_000_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    seg = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": seg[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    colours = np.array(["small", "red", "blue", "green", "large", "shiny", "tiny", "old"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "panel", "valve", "pipe", "spring"])
    ptype = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(colours[rng.integers(0, 8, n_part)], " "),
                              nouns[rng.integers(0, 8, n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    day95, day2001 = 9131, 11535  # 1995-01-01, 2001-08-01
    odays = day95 + rng.integers(0, day2001 - day95 + 1, n_ord)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": pa.array(odays.astype("int64") * 86_400_000_000, pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    pkey = rng.integers(0, n_part, n_li)
    price = 900 + (pkey % 1000) / 10.0
    ship = odays[okey] + rng.integers(1, 122, n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price, 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship.astype("int64") * 86_400_000_000, pa.timestamp("us"))})
    jan24 = 19723 * 86_400_000_000  # 2024-01-01 in microseconds
    ts = np.sort(jan24 + rng.integers(0, 30 * 86_400_000_000, n_ev))
    etype = np.array(["click", "error", "purchase", "signup", "view"])
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_cust, n_ev), pa.int64()),
        "event_type": etype[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev).clip(0, 560), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = documents(rng, int(50000 * sf))
    t["embeddings"] = embeddings(rng, max(500, int(20000 * sf)))
    return t


KEYS = {"customer": ["c_custkey"], "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_partkey"], "documents": ["doc_id", "text"],
        "embeddings": ["vec_id"], "events": ["user_id"]}


def write_tables(tables, out):
    os.makedirs(out, exist_ok=True)
    info = {}
    for name, table in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        _write(table, path)
        info[name] = _stats(path, table, KEYS.get(name, []))
    return info


def gen_sql_mix(seed, out):
    rng = np.random.default_rng(seed)
    return {"tables": write_tables(tpch(rng, SIZES["sql_mix"]["sf"]), out)}


def gen_corpus_curate(seed, out):
    s = SIZES["corpus_curate"]
    rng = np.random.default_rng(seed)
    tables = tpch(rng, 0.001)  # the curation families read only docs + vecs
    tables["documents"] = documents(rng, s["docs"], s["replicas"])
    tables["embeddings"] = embeddings(rng, s["vecs"], s["replicas"])
    return {"tables": write_tables(tables, out)}


def _zipf_words(rng, vocab, n):
    ranks = rng.zipf(1.2, n)
    return np.where(ranks <= vocab, ranks, rng.integers(1, vocab + 1, n))


def gen_mr_dfs(seed, out):
    """Zipf-vocabulary text and Cornell movie-dialog lines."""
    s = SIZES["mr_dfs"]
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    # a seed-dependent bijection from Zipf rank to word spelling, so the
    # hot keys differ between seeds
    spell = rng.permutation(s["vocab"])
    per_line = rng.integers(0, 16, s["text_lines"])
    ranks = _zipf_words(rng, s["vocab"], int(per_line.sum()))
    words = np.char.add("w", spell[ranks - 1].astype(str))
    seps = np.array([" ", "  ", "\t"])[rng.choice(3, len(words), p=[0.9, 0.05, 0.05])]
    text_lines, i = [], 0
    for k in per_line:
        parts = []
        for j in range(i, i + k):
            parts.append(words[j])
            parts.append(seps[j])
        text_lines.append("".join(parts[:-1]) if parts else "")
        i += k
    text_path = os.path.join(out, "text.txt")
    with open(text_path, "w") as f:
        f.write("\n".join(text_lines) + "\n")
    n, chars = s["dialog_lines"], s["characters"]
    who = rng.integers(0, chars, n)
    utter_words = np.array(["well", "they", "do", "not", "can", "we", "make",
                            "this", "quick", "forget", "it", "start", "with"])
    dialog_lines = []
    for i in range(n):
        k = int(rng.integers(1, 9))
        u = " ".join(utter_words[rng.integers(0, len(utter_words), k)])
        u += "?" if rng.random() < 0.3 else "."
        c = int(who[i])
        dialog_lines.append(f"L{i} +++$+++ u{c} +++$+++ m{c % 97} +++$+++ "
                            f"NAME{c % 501} +++$+++ {u}")
    dialog_path = os.path.join(out, "dialogs.txt")
    with open(dialog_path, "w") as f:
        f.write("\n".join(dialog_lines) + "\n")
    return {"text": {"bytes": os.path.getsize(text_path), "rows": len(text_lines),
                     "distinct_keys": {"word": int(len(np.unique(words)))}},
            "dialogs": {"bytes": os.path.getsize(dialog_path), "rows": n,
                        "distinct_keys": {"character": int(len(np.unique(who)))}}}


def gen_index_refresh(seed, out):
    """A base corpus and delta batches of clustered 64-d unit vectors,
    one parquet file per delta batch (the stream's input files)."""
    s = SIZES["index_refresh"]
    rng = np.random.default_rng(seed)
    n = s["base"] + s["batches"] * s["batch_rows"]
    vecs, _ = clustered_vectors(rng, n, s["clusters"])
    ids = rng.permutation(n).astype(np.int64) + 1
    os.makedirs(os.path.join(out, "deltas"), exist_ok=True)
    base = vec_table(ids[:s["base"]], vecs[:s["base"]])
    _write(base, os.path.join(out, "base.parquet"))
    total = os.path.getsize(os.path.join(out, "base.parquet"))
    for b in range(s["batches"]):
        lo = s["base"] + b * s["batch_rows"]
        hi = lo + s["batch_rows"]
        p = os.path.join(out, "deltas", f"{b:04d}.parquet")
        _write(vec_table(ids[lo:hi], vecs[lo:hi]), p)
        total += os.path.getsize(p)
    return {"vectors": {"bytes": total, "rows": n,
                        "distinct_keys": {"vec_id": n}},
            "batches": s["batches"], "batch_rows": s["batch_rows"]}


GENERATORS = {"sql_mix": gen_sql_mix, "corpus_curate": gen_corpus_curate,
              "mr_dfs": gen_mr_dfs, "index_refresh": gen_index_refresh}


def generate(workload, seed, out):
    return GENERATORS[workload](seed, out)


if __name__ == "__main__":
    wl, seed, out = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(generate(wl, seed, out)))
