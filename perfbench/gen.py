"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed): the same seed writes
byte-identical files, and `manifest.json` records a SHA-256 digest over all
of them so two commits can be shown to have measured the same data.

Workload inputs:
  mj_text         text.txt  - words with Zipf frequencies, 20 words a line
                  links.txt - `source,target` lines, power-law in-degree
                  plus the generator's own word and link tallies, the
                  independent expectation for the Maple/Juice outputs
  sql_mix,        the TPC-H-like star schema graft's queries read
  sql_all,        (region, nation, customer, supplier, part, orders,
  graph_fixpoint, lineitem, events, documents, embeddings), one parquet
  dedup_lsh       file each, in the physical schema of the repository's
                  test tables.
                  region and nation are fixed; the rest is drawn from the
                  seed at the workload's row counts (sql_all gets the
                  tables of sql_mix). dedup_lsh documents follow
                  graft.ScaleGen: 1 % planted near-duplicate twins
                  plus one identical-copy cluster at the tail.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per workload. sf0.1 of the repository's test tables is 600 k
# lineitems, 5 k documents and 2 k embeddings; these are sized so that one
# pass of a workload takes a few seconds on 4 cores (see perfbench/README.md).
SIZES = {
    "mj_text": {"text_mb": 6.0, "links_mb": 3.0},
    "sql_mix": {"lineitem": 60_000, "orders": 15_000, "customer": 1_500,
                "supplier": 100, "part": 2_000, "events": 10_000,
                "documents": 500, "embeddings": 200},
    # 30 lineitems a part, as in the test tables: the co-purchase graph
    # then sits well above the percolation threshold, so the HashMin
    # component rounds converge
    "graph_fixpoint": {"lineitem": 20_000, "orders": 5_000, "customer": 500,
                       "supplier": 50, "part": 700, "events": 2_000,
                       "documents": 500, "embeddings": 200},
    # sf0.01's 500 documents and embeddings: the output check's exact
    # all-pairs DuckDB oracles grow with the square of the corpus, and at
    # 500 documents the dedup_minhash_lsh oracle alone takes 30 s
    "dedup_lsh": {"lineitem": 6_000, "orders": 1_500, "customer": 150,
                  "supplier": 10, "part": 200, "events": 1_000,
                  "documents": 500, "embeddings": 500},
}
# sql_all runs every query on the tables sql_mix gets for the same seed
SIZES["sql_all"] = SIZES["sql_mix"]
SAME_INPUTS = {"sql_all": "sql_mix"}
WORKLOADS = tuple(SIZES)

ALNUM = np.frombuffer(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789", dtype="S1")
LOWER = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype="S1")


def _words(rng, n, lo, hi, alphabet=LOWER):
    """n distinct random strings of length lo..hi over `alphabet`."""
    out, seen = [], set()
    while len(out) < n:
        ln = int(rng.integers(lo, hi + 1))
        w = alphabet[rng.integers(0, len(alphabet), ln)].tobytes().decode()
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _ranked_words(rng, n):
    """n distinct lowercase words; the word of rank r has 3 + r % 8 letters."""
    out, seen = [], set()
    for r in range(n):
        while True:
            w = LOWER[rng.integers(0, len(LOWER), 3 + r % 8)].tobytes().decode()
            if w not in seen:
                break
        seen.add(w)
        out.append(w)
    return out


def _zipf_probs(n, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _sha_lines(lines):
    h = hashlib.sha256()
    h.update("\n".join(lines).encode())
    return h.hexdigest()


def gen_mj_text(rng, out, sizes):
    """Zipf text corpus and power-law link list, plus their tallies.

    The expected Juice outputs follow the builtin apps: word count sums a
    `word,1` pair per whitespace token; the reverse link graph lists each
    target's distinct sources, sorted and comma-joined. The sorted sink
    writes `key<TAB>value` lines sorted as whole strings."""
    # word length follows the frequency rank, not the seed, so every seed
    # writes about the same number of bytes for the same number of tokens
    vocab = np.array(_ranked_words(rng, 20_000))
    probs = _zipf_probs(len(vocab), 1.1)
    avg = float(probs @ np.array([len(w) + 1 for w in vocab]))
    n_tok = int(sizes["text_mb"] * 1e6 / avg) // 20 * 20
    idx = rng.choice(len(vocab), size=n_tok, p=probs)
    toks = vocab[idx].reshape(-1, 20)
    with open(os.path.join(out, "text.txt"), "w") as f:
        for row in toks:
            f.write(" ".join(row))
            f.write("\n")
    words, counts = np.unique(idx, return_counts=True)
    wc = sorted(f"{vocab[w]}\t{c}" for w, c in zip(words, counts))

    n_targets = 20_000
    targets = np.array([f"{t:06d}" for t in
                        rng.choice(1_000_000, size=n_targets, replace=False)])
    n_edges = int(sizes["links_mb"] * 1e6 / 18)
    sources = np.array(_words(rng, n_edges // 2, 10, 10, ALNUM))
    src = sources[rng.integers(0, len(sources), n_edges)]
    tgt_idx = rng.choice(n_targets, size=n_edges, p=_zipf_probs(n_targets, 1.0))
    with open(os.path.join(out, "links.txt"), "w") as f:
        for s, t in zip(src, targets[tgt_idx]):
            f.write(f"{s},{t}\n")
    by_target = {}
    for s, t in zip(src.tolist(), tgt_idx.tolist()):
        by_target.setdefault(t, set()).add(s)
    rwlg = sorted(f"{targets[t]}\t{','.join(sorted(ss))}"
                  for t, ss in by_target.items())
    return {
        "wc": {"inter_pairs": int(n_tok), "out_lines": len(wc),
               "digest": _sha_lines(wc)},
        "rwlg": {"inter_pairs": int(n_edges), "out_lines": len(rwlg),
                 "digest": _sha_lines(rwlg)},
    }


EPOCH = np.datetime64("1970-01-01")


def _days(rng, n, lo, hi):
    """n midnight timestamps (µs) uniform over [lo, hi] dates."""
    lo_d = (np.datetime64(lo) - EPOCH).astype(int)
    hi_d = (np.datetime64(hi) - EPOCH).astype(int)
    d = rng.integers(lo_d, hi_d + 1, n)
    return pa.array(d.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _pick(rng, values, n):
    return pa.array(np.array(values)[rng.integers(0, len(values), n)].tolist(),
                    pa.string())


def gen_tables(rng, out, sz):
    """The star schema plus events, documents and embeddings."""
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = sz["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})
    n = sz["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})
    n = sz["part"]
    colours = ["red", "blue", "green", "small", "large", "steel", "brass"]
    nouns = ["widget", "bolt", "ring", "gear", "valve", "panel"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{colours[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, len(colours), n),
                       rng.integers(0, len(nouns), n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, ["ECONOMY", "SMALL", "STANDARD", "MEDIUM",
                              "LARGE", "PROMO"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2)})
    n = sz["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        # a tenth of the customers place no order (anti-join rows)
        "o_custkey": pa.array(rng.integers(0, sz["customer"] * 9 // 10, n),
                              pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})
    n = sz["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, sz["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, sz["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, sz["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, n, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")})
    n = sz["events"]
    start = (np.datetime64("2024-01-01") - EPOCH).astype("timedelta64[us]").astype(int)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + start
    _write(out, "events", {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n // 66, 2), n), pa.int64()),
        "event_type": _pick(rng, ["click", "view", "purchase", "signup",
                                  "error"], n),
        "value": np.round(rng.exponential(40.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    gen_documents(rng, out, sz["documents"])
    n = sz["embeddings"]
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(
            list(rng.uniform(-1.0, 1.0, (n, 64)).astype("float32")),
            pa.list_(pa.float32())),
        "label": pa.array(np.arange(n) % 10, pa.int32())})


def gen_documents(rng, out, n):
    """graft.ScaleGen's construction: 20-79 tokens per doc from a 2 000-word
    vocabulary; every doc with id % 100 == 1 is the previous doc plus one
    token (a planted near-duplicate twin); the last n/50 docs are one
    identical-copy cluster."""
    vocab = np.array(_words(rng, 2000, 3, 10))
    cluster = max(n // 50, 2)
    texts, base_text = [], {}
    for i in range(n):
        base = n - cluster if i >= n - cluster else (i - 1 if i % 100 == 1 else i)
        if base not in base_text:
            k = int(rng.integers(20, 80))
            base_text[base] = " ".join(vocab[rng.integers(0, len(vocab), k)])
        t = base_text[base]
        texts.append(t + " twintoken" if i % 100 == 1 and i < n - cluster else t)
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, ["en", "en", "en", "fr", "es", "de", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def digest_dir(d):
    """SHA-256 over every input file's name and bytes, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        if name == "manifest.json":
            continue
        h.update(name.encode() + b"\0")
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def input_mb(d):
    return sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
               if f != "manifest.json") / 1e6


def _generator_digest():
    with open(os.path.abspath(__file__), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into `out` and return the
    manifest. Cached: an existing manifest written by this same generator
    source is reused."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}; one of {WORKLOADS}")
    mf = os.path.join(out, "manifest.json")
    if os.path.exists(mf):
        with open(mf) as f:
            manifest = json.load(f)
        if manifest.get("generator") == _generator_digest():
            return manifest
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # one stream per workload and seed, independent of the other workloads
    rng = np.random.default_rng([seed, WORKLOADS.index(SAME_INPUTS.get(workload, workload))])
    expect = (gen_mj_text(rng, tmp, SIZES[workload]) if workload == "mj_text"
              else gen_tables(rng, tmp, SIZES[workload]))
    manifest = {"workload": workload, "seed": seed, "generator": _generator_digest(),
                "sizes": SIZES[workload],
                "digest": digest_dir(tmp), "input_mb": input_mb(tmp),
                "expect": expect or {}}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return manifest

