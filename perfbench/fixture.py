"""Seeded generator for the batch workloads' parquet tables.

The tables have the names, column types and value domains of the repo's
test fixture (FIXTURES.md): a TPC-H-shaped star schema plus the `events`,
`documents` and `embeddings` tables. Every value is drawn from one numpy
PCG64 stream from a fixed seed, so every run reads the same rows.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
ADJ = "blue old red small new hot large cold".split()
NOUN = "widget gizmo ring gear bolt plate anvil rod".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
US_PER_DAY = 86_400_000_000
DERIVED_SHARE = 0.1  # documents and vectors derived from an earlier one

# The one shape both batch workloads read. The seed is fixed so that the
# result hashes in expected.json hold for every run seed. Scale 0.01 gives
# 60k lineitem rows, so a warm batch_sql pass takes a few seconds. The
# dedup rows' pair work grows with the square of documents and vectors;
# 200 of each keep an llm_dedup pass within one run.
SEED = 42
SCALE = 0.01
DOCUMENTS = 200
EMBEDDINGS = 200


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, days, n):
    """Midnight timestamps, uniform over `days` days from `start`."""
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days + 1, n) * np.timedelta64(1, "D")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables():
    """Returns {name: pyarrow.Table}. Row counts follow the fixture
    (lineitem = 6e6 * scale); documents and embeddings are set apart,
    since the pair work of the dedup rows grows with their square."""
    scale = SCALE
    rng = np.random.Generator(np.random.PCG64(SEED))
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = DOCUMENTS, EMBEDDINGS
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                              "r_name": REGIONS})
    out["nation"] = pa.table({"n_nationkey": pa.array(range(25), i32),
                              "n_name": [f"NATION_{k}" for k in range(25)],
                              "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, n_part), _pick(rng, NOUN, n_part))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    ev_us = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * scale)), n_ev), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(10, 101, n_doc)
    words = _pick(rng, VOCAB, int(lens.sum()))
    cuts = np.concatenate([[0], np.cumsum(lens)])
    docs = [list(words[cuts[k]:cuts[k + 1]]) for k in range(n_doc)]
    # Real corpora repeat themselves: a share of documents quote a span of
    # an original one, some with one word changed, so the dedup rows find
    # near-duplicate and containment pairs to verify and cluster. Copies
    # are only taken of originals, so clusters stay shallow stars.
    derived = rng.random(n_doc) < DERIVED_SHARE
    derived[0] = False
    originals = np.flatnonzero(~derived)
    for k in np.flatnonzero(derived):
        src = docs[originals[rng.integers(0, np.searchsorted(originals, k))]]
        span = int(rng.integers(max(10, (len(src) * 3) // 5), len(src) + 1))
        start = int(rng.integers(0, len(src) - span + 1))
        docs[k] = list(src[start:start + span])
        if rng.random() < 0.5:
            docs[k][rng.integers(0, span)] = VOCAB[rng.integers(0, len(VOCAB))]
    texts = [" ".join(d) for d in docs]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{k % 20}" for k in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    # Likewise a share of vectors are noisy copies of an original one.
    derived = rng.random(n_emb) < DERIVED_SHARE
    derived[0] = False
    originals = np.flatnonzero(~derived)
    for k in np.flatnonzero(derived):
        v = vecs[originals[rng.integers(0, np.searchsorted(originals, k))]] + rng.normal(0.0, 0.02, 64)
        vecs[k] = v / np.linalg.norm(v)
    vecs = vecs.astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return out


def ensure(directory):
    """Writes the tables once into `directory`; a marker file records the
    generator they came from, so a change to it regenerates them."""
    marker = os.path.join(directory, "GENERATED")
    with open(__file__, "rb") as f:
        stamp = hashlib.sha256(f.read()).hexdigest() + "\n"
    if os.path.exists(marker) and open(marker).read() == stamp:
        return directory
    os.makedirs(directory, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(stamp)
    return directory
