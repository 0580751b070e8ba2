"""Seeded input generator for the graft benchmark.

Every input the benchmark feeds the program is written here, from the
workload seed alone:

  * ``write_fixture``: the TESTDATA tables (TPC-H-ish star schema plus
    ``documents``, ``embeddings`` and ``events``) with the same schemas,
    value domains and row-count scaling as the fixture the repository's
    oracle gates were built on. query_mix reads them.
  * ``write_corpus``: an LLM-pipeline corpus for corpus_pipeline -- a
    Zipf-skewed vocabulary, a wide document-length spread, a share of
    exact copies and a share of one-word near-duplicate clones, plus 64-d
    embeddings with a share of perturbed near-duplicate pairs. The planted
    ground truth (copy groups, clone pairs with their true shingle
    Jaccard, vector pairs with their true cosine, token totals) goes to
    ``truth/`` as plain text, which the checks read.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Domains observed in the TESTDATA fixture (FIXTURES.md).
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _days(rng, n, start, end):
    """n random midnights in [start, end] as timestamp[us] values."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _unit_vectors(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _vector_column(v):
    flat = pa.array(v.astype(np.float32).ravel())
    return pa.ListArray.from_arrays(pa.array(np.arange(0, v.size + 1, v.shape[1], dtype=np.int32)), flat)


def write_fixture(out, sf, seed):
    """TESTDATA-schema tables at scale factor ``sf``; returns row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_docs, n_vec, n_ev = max(500, int(50000 * sf)), max(500, int(20000 * sf)), int(1000000 * sf)
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    pick = lambda xs, n: pa.array(np.array(xs, dtype=object)[rng.integers(0, len(xs), n)].tolist(), pa.string())

    _write(f"{out}/region.parquet", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _days(rng, n_ord, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": money(0, 0.1, n_line),
        "l_tax": money(0, 0.08, n_line),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4))})

    # Documents: uniform words, 10-100 tokens; 5 % are an earlier doc + " dup".
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]))
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)].tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": _vector_column(_unit_vectors(rng, n_vec)),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]")
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return {"customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
            "lineitem": n_line, "documents": n_docs, "embeddings": n_vec, "events": n_ev}


def _shingles(tokens):
    return {tuple(tokens[i:i + 3]) for i in range(len(tokens) - 2)}


def _jaccard(a, b):
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


# Corpus shape: the properties the dedup cost depends on.
#  * Length: lognormal with a mean of 150 tokens, the mean of the corpus
#    the program's dedup costs were first measured on (100k documents,
#    ~15M tokens); the spread (sigma 0.8, clipped to [8, 2000]) is this
#    benchmark's choice.
#  * Vocabulary: Zipf's law with exponent 1 over a vocabulary sized by
#    Heaps' law, M = k * T**b, with the Reuters-RCV1 fit k = 44, b = 0.49
#    (Manning, Raghavan and Schuetze, Introduction to Information
#    Retrieval, 2008, sections 5.1.1-5.1.2) at that corpus's T = 15M
#    tokens: ~144k words. A smaller corpus drawn from it sees fewer.
MEAN_TOKENS, LENGTH_SIGMA = 150, 0.8
ZIPF_S = 1.0
VOCAB = int(44 * 15e6 ** 0.49)
COPY_SHARE, CLONE_SHARE = 0.05, 0.30  # exact copies, one-word near-dup clones
VEC_PAIR_SHARE = 0.05               # vectors that perturb an earlier one
N_PROBES = 3                        # cosine top-k probe vectors


def write_corpus(out, n_docs, n_vec, seed):
    """The corpus_pipeline input plus its planted ground truth."""
    os.makedirs(f"{out}/truth", exist_ok=True)
    rng = np.random.default_rng(seed)
    # Random lowercase words of 2-9 letters; a random one takes each rank.
    chars = (rng.integers(0, 26, (VOCAB * 2, 9)) + ord("a")).astype(np.uint8)
    words = sorted({bytes(c[:n]).decode() for c, n in zip(chars, rng.integers(2, 10, VOCAB * 2))})
    words = np.array(words)[rng.permutation(len(words))[:VOCAB]]
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    cdf = np.cumsum(p) / p.sum()
    zipf = lambda n: words[np.minimum(np.searchsorted(cdf, rng.random(n)), VOCAB - 1)]

    mu = np.log(MEAN_TOKENS) - LENGTH_SIGMA ** 2 / 2  # lognormal mean = exp(mu + sigma^2 / 2)
    docs = []          # token lists
    kinds = []         # "base", "copy" or "clone", per doc
    clones = []        # (original, clone) doc indexes
    for i in range(n_docs):
        r = rng.random()
        long_enough = [j for j in range(max(0, i - 200), i) if kinds[j] == "base" and len(docs[j]) >= 40]
        if i > 50 and r < COPY_SHARE:
            j = int(rng.integers(0, i))
            docs.append(list(docs[j]))
            kinds.append("copy")
        elif i > 50 and r < COPY_SHARE + CLONE_SHARE and long_enough:
            j = long_enough[int(rng.integers(0, len(long_enough)))]
            toks = list(docs[j])
            pos = int(rng.integers(0, len(toks)))
            toks[pos] = zipf(1)[0]
            docs.append(toks)
            kinds.append("clone")
            clones.append((j, i))
        else:
            n = int(np.clip(rng.lognormal(mu, LENGTH_SIGMA), 8, 2000))
            docs.append(zipf(n).tolist())
            kinds.append("base")
    texts = [" ".join(t) for t in docs]
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()), "text": texts})

    groups = {}
    for i, t in enumerate(texts):
        groups.setdefault(t, []).append(i)
    copy_groups = sorted(g for g in groups.values() if len(g) > 1)
    with open(f"{out}/truth/exact_groups.txt", "w") as f:
        f.writelines(" ".join(map(str, g)) + "\n" for g in copy_groups)
    with open(f"{out}/truth/clone_pairs.txt", "w") as f:
        for a, b in clones:
            if texts[a] != texts[b]:
                f.write(f"{a} {b} {_jaccard(docs[a], docs[b]):.6f}\n")

    # Embeddings: random unit vectors; a share are perturbed copies of an
    # earlier vector (cosine ~0.995), far above any chance pair in 64-d.
    v = _unit_vectors(rng, n_vec)
    pairs = []
    for i in range(1, n_vec):
        if rng.random() < VEC_PAIR_SHARE:
            j = int(rng.integers(0, i))
            w = v[j] + rng.standard_normal(64) * (0.1 / np.sqrt(64))  # noise of norm ~0.1
            v[i] = w / np.linalg.norm(w)
            pairs.append((j, i))
    v32 = v.astype(np.float32).astype(np.float64)
    v32 /= np.linalg.norm(v32, axis=1, keepdims=True)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()), "embedding": _vector_column(v)})
    with open(f"{out}/truth/vector_pairs.txt", "w") as f:
        f.writelines(f"{a} {b} {float(v32[a] @ v32[b]):.6f}\n" for a, b in pairs)

    probes = sorted(rng.choice(n_vec, N_PROBES, replace=False).tolist())
    meta = {"documents": n_docs, "tokens": int(sum(len(t) for t in docs)),
            "distinct_words": int(len({w for t in docs for w in t})),
            "copy_groups": len(copy_groups), "clone_pairs": len(clones),
            "embeddings": n_vec, "vector_pairs": len(pairs), "probes": probes,
            "bytes": int(sum(os.path.getsize(f"{out}/{n}.parquet") for n in ("documents", "embeddings")))}
    with open(f"{out}/truth/meta.json", "w") as f:
        json.dump(meta, f)
    with open(f"{out}/truth/probes.txt", "w") as f:
        f.write(" ".join(map(str, probes)) + "\n")
    return meta
