"""Seeded input generator for the benchmark.

Two families of inputs, both a pure function of (seed, size):

* `tables(dir, seed, sf)` writes the ten parquet tables the registry reads
  (the TPC-H-ish star schema plus `events`, `documents` and `embeddings`),
  with the schemas, value domains and 2-decimal doubles the registry and its
  DuckDB oracles expect. Row counts scale with `sf` like the reference
  testdata: lineitem is 6,000,000 x sf rows.
* `corpus(dir, seed, lines)` writes a text corpus for the MapReduce jobs:
  `<line id>\t<words>` per line over a Zipf-distributed vocabulary, split
  into four files, and returns the fingerprint each MapReduce job's output
  must have.
"""
import collections
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the query row stream batch sort value hash filter big data part "
         "column order scan slow agg key window table merge vector join "
         "spark line small fast group customer").split()
LANGS = (["en"] * 41) + (["zh"] * 15) + (["es"] * 15) + (["fr"] * 15) + \
    (["de"] * 14)
ADJ = "red new hot small big old cold blue".split()
NOUN = "bolt anvil ring rod plate widget gear nut".split()
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    """Uniform doubles with at most two decimals (the oracle's exact-sum rule)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(d, name, cols):
    pq.write_table(pa.table(cols), os.path.join(d, f"{name}.parquet"))


def tables(d, seed, sf):
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(d, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(d, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(d, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust)})
    _write(d, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    _write(d, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": (90_000 + pk % 1000 * 10) / 100.0})
    _write(d, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": pa.array(
            EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US, pa.timestamp("us")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(d, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(
            EPOCH_1995 + rng.integers(1, 2500, n_li) * DAY_US, pa.timestamp("us"))})
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    _write(d, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(EPOCH_2024 + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.minimum(np.round(rng.exponential(50.0, n_ev), 2), 9999.99),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.002:                  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:                 # near duplicate: a few words edited
            w = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(w), 2):
                w[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(w + ["dup"]))
        else:
            w = rng.integers(0, len(WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(WORDS[j] for j in w))
    _write(d, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(d, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def _vocab(n, rng):
    """`n` distinct pseudo-words of 2..12 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    seen, out = set(), []
    while len(out) < n:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(2, 13)))])
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _crc_sum(rows):
    """(row count, sum of CRC32 over `key\tvalue`): the harness's MapReduce
    output fingerprint, computed independently of the engine."""
    rows = list(rows)
    return len(rows), sum(zlib.crc32(f"{k}\t{v}".encode()) for k, v in rows)


def corpus(d, seed, lines, vocab=50_000, files=4):
    """Zipf(1.1) text corpus. Returns the expected fingerprint of each
    MapReduce job the benchmark runs over it."""
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    words = np.array(_vocab(vocab, rng))
    p = 1.0 / np.arange(1, vocab + 1) ** 1.1
    lens = rng.integers(4, 17, lines)
    toks = words[rng.choice(vocab, int(lens.sum()), p=p / p.sum())].tolist()
    counts = collections.Counter(toks)
    postings = collections.defaultdict(list)
    bounds = np.concatenate([[0], np.cumsum(lens)]).tolist()
    per_file = -(-lines // files)
    for f in range(files):
        with open(os.path.join(d, f"part-{f}.txt"), "w") as out:
            for i in range(f * per_file, min(lines, (f + 1) * per_file)):
                line = toks[bounds[i]:bounds[i + 1]]
                for w in dict.fromkeys(line):
                    postings[w].append(i)
                out.write(f"{i}\t{' '.join(line)}\n")
    lengths = collections.Counter()
    for w, c in counts.items():
        lengths[len(w)] += c
    wordcount = _crc_sum(counts.items())
    return {
        "wordcount": wordcount,
        "wordcount_chunks": wordcount,
        "wordcount_tsv": wordcount,
        "wordlength": _crc_sum(lengths.items()),
        "inverted_index": _crc_sum(
            (w, ",".join(map(str, ids))) for w, ids in postings.items()),
    }
