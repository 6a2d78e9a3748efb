"""Seeded inputs for the benchmark.

Two kinds of input:

* the corpus: the TPC-H-ish star schema plus the `events`, `documents` and
  `embeddings` tables every query reads. `write_corpus` reproduces the
  repository's seed-42 test tables (TESTDATA.md) value for value at sf
  0.001, 0.01 and 0.1: the same draws from `default_rng(42)` in the same
  order. The corpus never changes, so the pinned per-query counts in
  `expected.json` hold for every run.
* the per-run plan: what `--seed` chooses. The build_cold order, the DAG
  cutoff and the revised GDP rows. The same seed always yields the same
  plan.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
# Rows per table at sf 1; `documents` and `embeddings` never drop below
# MIN_ROWS.
ROWS_AT_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 20_000,
}
MIN_ROWS = {"documents": 500, "embeddings": 500}
# Category lists, in the order the draws index them.
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
WORDS = ("the a spark query table join group filter window data order customer part line "
         "fast slow big small hash sort merge scan agg stream batch vector key value row "
         "column").split()
PART_ADJ = "red blue small large hot cold old new".split()
PART_NOUN = "anvil widget gizmo bolt gear plate rod ring".split()
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
DUP_SHARE = 0.05  # documents that repeat another one's text plus " dup"
EMBED_DIM = 64
N_LABELS = 10

# build_cold: corpus-fitted and iterative queries whose first call in a
# session builds the memos: a BPE fit, dedup clustering, a Lloyd fit, a
# PageRank loop, and PQ codebooks checked against exact top-k.
BUILD_SET = ["q210_bpe_fit_batched", "q67_dedup_clusters", "q246_davies_bouldin",
             "q90_pagerank", "q180_pq_recall"]

# Order dates run from FIRST_DAY to LAST_DAY; ship dates, drawn apart from
# their order's date, from a day after FIRST_DAY to LAST_SHIP_DAY days after.
FIRST_DAY = np.datetime64("1995-01-01")
LAST_DAY = np.datetime64("2001-08-01")
LAST_SHIP_DAY = 2499


def _days(rng, n, lo=0, hi=None):
    hi = int((LAST_DAY - FIRST_DAY).astype(int)) if hi is None else hi
    return FIRST_DAY + rng.integers(lo, hi + 1, n).astype("timedelta64[D]")


def _ts(days):
    return pa.array(days.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _rows(name, sf):
    return max(MIN_ROWS.get(name, 1), int(round(ROWS_AT_SF1[name] * sf)))


def write_corpus(out_dir, sf):
    """Writes the corpus parquet files for scale factor `sf` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    nk = np.arange(N_NATIONS, dtype=np.int32)
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(nk),
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5)})

    nc = _rows("customer", sf)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, N_NATIONS, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": list(rng.choice(SEGMENTS, nc))})

    ns = _rows("supplier", sf)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, ns).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2))})

    npart = _rows("part", sf)
    pk = np.arange(npart, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                               rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": list(rng.choice(PART_TYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2))})

    no = _rows("orders", sf)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": list(rng.choice(["O", "F", "P"], no)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2)),
        "o_orderdate": _ts(_days(rng, no)),
        "o_orderpriority": list(rng.choice(PRIORITIES, no))})

    nl = _rows("lineitem", sf)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, nl), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, nl), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, nl), 2)),
        "l_returnflag": list(rng.choice(["R", "A", "N"], nl)),
        "l_linestatus": list(rng.choice(["O", "F"], nl)),
        "l_shipdate": _ts(_days(rng, nl, 1, LAST_SHIP_DAY))})

    ne = _rows("events", sf)
    n_users = max(1, int(round(15_000 * sf)))
    # Seconds into a 30-day window, truncated to ns and then to µs.
    secs = np.sort(rng.uniform(0, 30 * 86_400, ne))
    offs_us = (secs * 1e9).astype(np.int64) // 1000
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + offs_us.astype("timedelta64[us]"), type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, ne).astype(np.int64)),
        "event_type": list(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = _rows("documents", sf)
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(nd)]
    for i in rng.choice(nd, int(nd * DUP_SHARE), replace=False):  # near-duplicates
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": list(rng.choice(LANGS, nd)),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    # Isotropic unit vectors (normalised in float32); labels are drawn
    # apart from them, so the corpus has no label clusters.
    nv = _rows("embeddings", sf)
    vecs = rng.normal(0.0, 1.0, (nv, EMBED_DIM)).astype(np.float32)
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, nv)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


def run_plan(seed, n_revisions, years, max_holdback):
    """Everything the seed decides, as plain JSON-ready values."""
    rng = np.random.default_rng(seed)
    # The first query of a JVM pays its JIT warm-up (a few seconds), so the
    # first stays fixed and the seed orders the rest: that cost then lands
    # on the same query in every run.
    build = BUILD_SET[:1] + [BUILD_SET[1:][i] for i in rng.permutation(len(BUILD_SET) - 1)]
    holdback = int(rng.integers(1, max_holdback + 1))
    cells = [(f"NATION_{n}", str(y)) for n in range(N_NATIONS) for y in years]
    picks = rng.choice(len(cells), n_revisions, replace=False)
    revisions = [{"geo_code": cells[i][0], "time_code": cells[i][1],
                  "factor": round(float(rng.uniform(1.01, 1.03)), 4)}
                 for i in sorted(picks)]
    return {"seed": seed, "build": build,
            "holdback_months": holdback, "revisions": revisions}


def compare(tables_dir, sf):
    """Names the tables in `tables_dir` that differ from the corpus at `sf`."""
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        write_corpus(d, sf)
        return [n for n in sorted(os.listdir(d))
                if not pq.read_table(os.path.join(d, n)).equals(
                    pq.read_table(os.path.join(tables_dir, n)))]


if __name__ == "__main__":
    # python3 perfbench/gen.py <tables-dir> <sf>: checks that the corpus
    # equals the seed-42 test tables of that scale.
    import sys
    bad = compare(sys.argv[1], float(sys.argv[2]))
    print("corpus equals the tables" if not bad else f"tables differ: {', '.join(bad)}")
    sys.exit(1 if bad else 0)
