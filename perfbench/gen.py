"""Seeded input generator for the benchmark.

    python3 perfbench/gen.py --workload curate --seed 7 --out <dir> [--scale 1]

Writes the workload's Parquet inputs under <dir> (several files per input,
one row group each) and <dir>/expect.json: what the program must answer on
them, computed here from the generator's own bookkeeping. The same seed
gives the same files and the same expectations.
"""
import argparse
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86400 * 1_000_000
EPOCH_1992_US = 694224000 * 1_000_000
SUPPLIERS = 1000

BULK_ROWS = 200_000
TINY_ROWS = 1_000
CURATE_DOCS = 5_000
TINY_DOCS = 800

# The curate corpus follows the reference corpus, the test data's
# documents table at scale factor 0.1 (5,000 documents), as measured
# with the pipeline's own operators (README.md, "Inputs"):
# - vocabulary: these 32 words, each about equally frequent;
VOCAB = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query big key window row table stream merge "
         "data join vector customer the a").split()
# - 10 to 99 words per document, uniform; no punctuation;
WORDS_PER_DOC = (10, 99)
# - languages, by document count;
LANG_DOCS = {"en": 2059, "zh": 753, "es": 744, "fr": 742, "de": 702}
# - exact copies: 8 of 5,000 documents repeat another's text;
COPY_SHARE = 8 / 5000
# - near duplicates: 241 pairs at word-3-shingle Jaccard >= 0.6 per
#   5,000 documents, each a document plus one appended word "dup"
#   (Jaccard 0.89-0.99); no pair lies between Jaccard 0.2 and 0.8, and
#   every LSH candidate pair verifies (241 candidates, 241 pairs);
NEAR_DUP_SHARE = 241 / 5000
# - quality: none below the 0.4 cut (lowest score 0.419); a generated
#   text scoring below QUALITY_FLOOR is drawn again.
QUALITY_FLOOR = 0.41
# Like the scale-trend synthesis, the corpus is REPLICAS copies of a
# reference-shaped corpus; copy k > 0 suffixes every word with `_r<k>`
# and adds k * (documents per copy) to the ids, so copies share no
# shingles.
REPLICAS = 2
EN_STOPS = set("the a and of to in is it that for".split())


def line_table(seed, stream, n, key_base):
    """`n` lineitem rows of one stream; orders carry four lines each."""
    r = np.random.default_rng([seed, stream])
    i = np.arange(n)
    partkey = r.integers(1, 20001, n)
    suppkey = r.integers(1, SUPPLIERS + 1, n)
    qty = r.integers(1, 51, n)
    discount = r.integers(0, 11, n)
    tax = r.integers(0, 9, n)
    flag = np.array(["R", "A", "N"], dtype=object)[r.integers(0, 3, n)]
    status = np.where(r.integers(0, 2, n) == 1, "O", "F").astype(object)
    day = r.integers(0, 2500, n)
    return pa.table({
        "l_orderkey": pa.array(key_base + i // 4, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(suppkey, pa.int64()),
        "l_linenumber": pa.array(i % 4 + 1, pa.int32()),
        "l_quantity": pa.array(qty.astype(np.float64)),
        "l_extendedprice": pa.array(qty * (900.0 + partkey % 1000) / 10.0),
        "l_discount": pa.array(discount / 100.0),
        "l_tax": pa.array(tax / 100.0),
        "l_returnflag": pa.array(flag, pa.string()),
        "l_linestatus": pa.array(status, pa.string()),
        "l_shipdate": pa.array(EPOCH_1992_US + day * DAY_US,
                               pa.timestamp("us", tz="UTC")),
    })


def totals(t):
    """Exact column checksums (integral sums only)."""
    c = {k: t.column(k).to_numpy() for k in
         ("l_orderkey", "l_partkey", "l_quantity", "l_discount", "l_returnflag")}
    ship = t.column("l_shipdate").cast(pa.int64()).to_numpy()
    return {
        "rows": int(t.num_rows),
        "orderkey": int(c["l_orderkey"].sum()),
        "partkey": int(c["l_partkey"].sum()),
        "quantity": int(c["l_quantity"].astype(np.int64).sum()),
        "discount_cents": int(np.rint(c["l_discount"] * 100).astype(np.int64).sum()),
        "returned": int((c["l_returnflag"] == "R").sum()),
        "ship_days": int((ship // DAY_US).sum()),
    }


def add(a, b):
    return {k: a[k] + b[k] for k in a}


def write_files(out, name, tables):
    d = os.path.join(out, name)
    os.makedirs(d, exist_ok=True)
    for i, t in enumerate(tables):
        pq.write_table(t, os.path.join(d, f"part-{i:05d}.parquet"))
    size = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
    return d, size


def lines(out, name, seed, stream0, files, per_file, key_base):
    """One lineitem input of `files` files; returns its expectations."""
    ts = [line_table(seed, stream0 + f, per_file, key_base + f * per_file)
          for f in range(files)]
    d, size = write_files(out, name, ts)
    tot = totals(ts[0])
    for t in ts[1:]:
        tot = add(tot, totals(t))
    return {"dir": d, "bytes": size, "totals": tot}


def quality(text):
    """`TextFunctions.qualityScore` of a text without punctuation."""
    tk = text.lower().split()
    stops = sum(w in EN_STOPS for w in tk) / len(tk)
    mean_len = sum(len(w) for w in tk) / len(tk)
    return (min(len(tk) / 50, 1.0) * 0.25 + 0.25 + min(stops * 5, 1.0) * 0.25
            + min(mean_len / 8, 1.0) * 0.25)


def shingles(text):
    w = text.split()
    return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}


def corpus(seed, n):
    """Documents shaped like the reference corpus, and the row count
    every curation stage must produce on them.

    Each of REPLICAS copies holds n / REPLICAS documents: unique texts,
    exact copies of some (COPY_SHARE) and near-duplicate variants of
    others (NEAR_DUP_SHARE: the text plus " dup"). Ids within a copy are
    a seeded permutation, so a variant's id may be below or above its
    base's; row order across files is seeded too.
    """
    r = random.Random(seed * 1_000_003 + 7)
    langs = [l for l, c in LANG_DOCS.items() for _ in range(c)]
    m = n // REPLICAS

    def text():
        while True:
            t = " ".join(r.choice(VOCAB) for _ in range(r.randint(*WORDS_PER_DOC)))
            if quality(t) >= QUALITY_FLOOR:
                return t

    n_copies = round(m * COPY_SHARE)
    n_variants = round(m * NEAR_DUP_SHARE)
    base = [text() for _ in range(m - n_copies - n_variants)]
    texts = base + [r.choice(base) for _ in range(n_copies)]
    picked = r.sample(range(len(base)), n_variants)
    texts += [base[b] + " dup" for b in picked]
    ids = list(range(m))
    r.shuffle(ids)
    one = [(ids[i], t, r.choice(langs)) for i, t in enumerate(texts)]
    planted = [(base[b], base[b] + " dup") for b in picked]

    docs, variants = [], []
    for k in range(REPLICAS):
        def sfx(t):
            return t if k == 0 else " ".join(f"{w}_r{k}" for w in t.split())
        docs += [(i + k * m, sfx(t), lang) for i, t, lang in one]
        variants += [(sfx(t), sfx(v)) for t, v in planted]
    r.shuffle(docs)

    survivor = {}
    for d in docs:
        if d[1] not in survivor or d[0] < survivor[d[1]][0]:
            survivor[d[1]] = d
    pairs = set()
    for t, v in variants:
        a, b = shingles(t), shingles(v)
        if len(a & b) >= 0.6 * len(a | b):
            i, j = survivor[t][0], survivor[v][0]
            pairs.add((min(i, j), max(i, j)))
    dropped = {p[1] for p in pairs}
    rep_bytes = {}
    for i, t, lang in survivor.values():
        if i not in dropped:
            rep_bytes[lang] = rep_bytes.get(lang, 0) + len(t.encode())
    truth = {"docs": len(docs), "exact": len(survivor), "quality": len(survivor),
             "pairs": len(pairs), "cluster_nodes": len({i for p in pairs for i in p}),
             "reps": len(survivor) - len(dropped), "rep_bytes_by_lang": rep_bytes}
    return docs, truth


def write_corpus(out, name, docs, files):
    tables = []
    for f in range(files):
        part = docs[f::files]
        tables.append(pa.table({
            "doc_id": pa.array([d[0] for d in part], pa.int64()),
            "text": pa.array([d[1] for d in part], pa.string()),
            "lang": pa.array([d[2] for d in part], pa.string()),
            "source": pa.array([f"src{d[0] % 20}" for d in part], pa.string()),
            "n_chars": pa.array([len(d[1]) for d in part], pa.int64()),
        }))
    return write_files(out, name, tables)


def generate(workload, seed, out, cpus, scale=1.0):
    files = 2 * cpus
    exp = {"workload": workload, "seed": seed}
    if workload == "bulk_load":
        per_file = int(BULK_ROWS * scale) // files
        exp["bulk"] = lines(out, "bulk", seed, 0, files, per_file, 0)
        exp["tiny"] = lines(out, "bulk_tiny", seed, 100, cpus, TINY_ROWS, 0)
    elif workload == "curate":
        docs, exp["corpus_truth"] = corpus(seed, int(CURATE_DOCS * scale))
        exp["corpus"], exp["corpus_bytes"] = write_corpus(out, "corpus", docs, files)
        tdocs, exp["tiny_truth"] = corpus(seed + 1, TINY_DOCS)
        exp["tiny_corpus"], _ = write_corpus(out, "corpus_tiny", tdocs, cpus)
    else:
        raise SystemExit(f"unknown workload {workload}")
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(exp, f)
    return exp


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--out", required=True)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out, len(os.sched_getaffinity(0)), a.scale)
