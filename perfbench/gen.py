"""Seeded input generator for the graft benchmark.

Everything a run feeds the library comes from here: the corpus (the ten
source tables, with the same schema and value distributions as the
reference test data), the request stream, and the new versions of
`events`, `documents` and `embeddings` that the `serve_refresh` workload
writes over the corpus while it serves. The corpus is the same for every
run, like a fixed test corpus; the workload seed fixes the request stream
and the refresh versions.

The same seed gives the same request stream and byte-identical parquet
files (tests/test_gen.py checks both).
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Corpus size: the reference "sf0.01" shape (60k lineitems, 500 documents,
# 500 embeddings). A run sets up cold, and the cold artifact builds of the
# serving set already take 30-50 s at this size on a 4-core host.
SCALE = 0.01
CORPUS_SEED = 0

WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter",
         "small", "slow", "merge", "order", "vector", "line", "data", "table",
         "agg", "value", "key", "stream", "window", "a", "spark", "part", "group",
         "big", "sort", "query", "fast", "the"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJS = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
NOUNS = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
DIM = 64
EPOCH_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00

# The serving set: the reference's per-call tools (memory get/list/stats,
# RAG search and fetch, ANN top-k). No source records how often callers
# use each tool, so every query is asked once per round: the mix is
# unverified. Left out because their cold builds and calls do not fit the
# per-run time budget: the hybrid r15, the routed a21 and the reranked a22
# (about 12 s a run), the BM25 r14 (9 s) and the IVF a2 (6 s); a13 covers
# the ANN layer with the slowest serving request.
SERVE = ["m2_get", "m3_list_filtered", "m3b_list_by_keys", "m4_stats", "m9_exists",
         "r3_search_topk", "r4_search_filtered", "r7_search_by_metadata",
         "r11_get_document", "r6s_context_assembly", "a13_ivfpq_topk"]
# The curation batch: large-output passes over the whole corpus, one call
# of each query per round, one query per module the batch uses. Most need
# no stored artifact, so their time is execution; d12 stores its
# duplicate-span index, so the batch also has stored bytes. Left out for
# the per-run time budget: the artifact-heavy d2, d13, t8, p1 and p8 (4-12 s
# each to build cold), and d5 and q21 (about 6 s a run each). r17 is left
# out too: with an even number of queries the median request falls in the
# gap between two queries' latencies and jumps from run to run.
BATCH = ["r9_embed_text", "t10_pii_scrub", "d12_dup_spans", "p7_token_budget", "q1_agg"]
# One cheap query per module; a traced run calls those of the modules the
# workload's set does not use, after its window, so that every module's
# per-layer counters are live on every workload.
COVER = ["m4_stats", "r7_search_by_metadata", "a4_knn_ivf_kmeans", "d1_exact_dup",
        "t1_langid", "p3_sequence_packing", "q6_revenue"]
REFRESHED = ["events", "documents", "embeddings"]
# Calls of each query per round. A batch round is two passes, so that its
# rounds last about twice as long as a serving round's and the same
# `--seconds` measures whole rounds of both without landing near a round
# boundary, where the number of rounds would change from run to run.
PER_ROUND = {"batch_curation": 2}

WORKLOADS = ["serve_steady", "batch_curation", "serve_refresh"]
ROUNDS = 40


def rng(seed, *tags):
    """An independent generator per (seed, purpose)."""
    h = hashlib.sha256(repr((seed,) + tags).encode()).digest()
    return np.random.default_rng(int.from_bytes(h[:8], "little"))


def write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


# ------------------------------------------------------------------ tables

def region():
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS)})


def nation():
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def customer(r, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, n)),
    })


def supplier(r, n):
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(np.round(r.uniform(-999.99, 9999.99, n), 2)),
    })


def part(r, n):
    keys = np.arange(n)
    return pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(r.choice(ADJS, n), r.choice(NOUNS, n))]),
        "p_brand": pa.array([f"Brand#{i}" for i in r.integers(1, 26, n)]),
        "p_type": pa.array(r.choice(TYPES, n)),
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1)),
    })


DAY_US = 86_400_000_000
ORDER_D0 = 9131    # 1995-01-01 in days since the epoch
ORDER_DAYS = 2404  # .. 2001-08-01
SHIP_D0 = 9132     # 1995-01-02
SHIP_DAYS = 2498   # .. 2001-11-04


def orders(r, n, customers):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, customers, n), pa.int64()),
        "o_orderstatus": pa.array(r.choice(["P", "O", "F"], n)),
        "o_totalprice": pa.array(np.round(r.uniform(1000.0, 500000.0, n), 2)),
        "o_orderdate": pa.array((ORDER_D0 + r.integers(0, ORDER_DAYS + 1, n)) * DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, n)),
    })


def lineitem(r, n, n_orders, n_parts, n_supp):
    return pa.table({
        "l_orderkey": pa.array(r.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(r.uniform(900.0, 105000.0, n), 2)),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(r.choice(["O", "F"], n)),
        "l_shipdate": pa.array((SHIP_D0 + r.integers(0, SHIP_DAYS + 1, n)) * DAY_US,
                               pa.timestamp("us")),
    })


def events(r, n, users, first_id=0, t0_us=EPOCH_US):
    gaps = r.exponential(30 * DAY_US / max(n, 1), n)
    ts = t0_us + np.floor(np.cumsum(gaps)).astype(np.int64)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, n), pa.int64()),
        "event_type": pa.array(r.choice(EVENT_TYPES, n)),
        "value": pa.array(np.maximum(0.01, np.round(r.exponential(50.0, n), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
    })


def doc_texts(r, n):
    lens = r.integers(10, 100, n)
    words = np.array(WORDS)
    return [" ".join(words[r.integers(0, len(WORDS), k)]) for k in lens]


def documents(r, n, first_id=0):
    texts = doc_texts(r, n)
    # near-duplicates, as in the reference data: 5% of documents repeat
    # another document's text with " dup" appended
    for i in np.flatnonzero(r.random(n) < 0.05) if n > 1 else []:
        j = int(r.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    ids = np.arange(first_id, first_id + n)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(r.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(r, n, first_id=0):
    v = r.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })


def sizes(scale=SCALE):
    return {
        "customer": int(150_000 * scale), "supplier": int(10_000 * scale),
        "part": int(200_000 * scale), "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale), "events": int(1_000_000 * scale),
        "users": int(15_000 * scale), "documents": int(50_000 * scale),
        "embeddings": max(500, int(20_000 * scale)),
    }


def corpus(seed, out_dir, scale=SCALE):
    """Write the ten source tables for `seed` into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(scale)
    tables = {
        "region": region(),
        "nation": nation(),
        "customer": customer(rng(seed, "customer"), n["customer"]),
        "supplier": supplier(rng(seed, "supplier"), n["supplier"]),
        "part": part(rng(seed, "part"), n["part"]),
        "orders": orders(rng(seed, "orders"), n["orders"], n["customer"]),
        "lineitem": lineitem(rng(seed, "lineitem"), n["lineitem"], n["orders"],
                             n["part"], n["supplier"]),
        "events": events(rng(seed, "events"), n["events"], n["users"]),
        "documents": documents(rng(seed, "documents"), n["documents"]),
        "embeddings": embeddings(rng(seed, "embeddings"), n["embeddings"]),
    }
    for name, t in tables.items():
        write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: os.path.join(out_dir, f"{name}.parquet") for name in tables}


def mutate(seed, table, version, prev):
    """Version `version` of a refreshed table from version `version - 1`:
    a seeded 5% of rows get new content under the same ids, and 2% new
    rows are appended after the current largest id."""
    r = rng(seed, "refresh", table, version)
    n = prev.num_rows
    k = max(1, n // 20)
    a = max(1, n // 50)
    id_col = {"events": "event_id", "documents": "doc_id", "embeddings": "vec_id"}[table]
    ids = prev.column(id_col).to_numpy()
    last = int(ids.max()) + 1
    if table == "events":
        users = int(prev.column("user_id").to_numpy().max()) + 1
        fresh = events(r, k + a, users, first_id=0)
        t_end = int(prev.column("ts").cast(pa.int64()).to_numpy().max())
        appended = events(r, a, users, first_id=last, t0_us=t_end)
    elif table == "documents":
        fresh = documents(r, k + a)
        appended = documents(r, a, first_id=last)
    else:
        fresh = embeddings(r, k + a)
        appended = embeddings(r, a, first_id=last)
    rows = np.sort(r.choice(n, k, replace=False))
    cols = {}
    for name in prev.column_names:
        col = prev.column(name).to_pylist()
        new = fresh.column(name).to_pylist()
        if name not in (id_col, "ts", "source"):
            for i, row in enumerate(rows):
                col[row] = new[i]
        cols[name] = pa.array(col + appended.column(name).to_pylist(),
                              prev.schema.field(name).type)
    return pa.table(cols)


# ------------------------------------------------------------------ plans

def stream(seed, workload):
    """The seeded request stream: a list of rounds, each a list of
    ("call", query) and ("refresh", table, version) steps.

    A round holds every query of the workload's set PER_ROUND times (once
    by default), in a seeded order, so that every window of whole rounds
    asks the same mix whatever the seed. A `serve_refresh` round starts with a write of a new version
    of a seeded source table."""
    r = rng(seed, "stream", workload)
    bag = queries(workload) * PER_ROUND.get(workload, 1)
    rounds, version = [], {t: 0 for t in REFRESHED}
    for i in range(ROUNDS):
        steps = []
        if workload == "serve_refresh":
            t = REFRESHED[int(r.integers(0, len(REFRESHED)))]
            version[t] += 1
            steps.append(("refresh", t, version[t]))
        steps += [("call", bag[j]) for j in r.permutation(len(bag))]
        rounds.append(steps)
    return rounds


def queries(workload):
    return list(BATCH if workload == "batch_curation" else SERVE)


def prepare(seed, workload, work_dir, scale=SCALE):
    """Write the corpus, the staged table versions and the plan file for one
    run into `work_dir`. Returns the plan path, the corpus directory, its
    files, and the parquet file of every (table, version) the run can see."""
    base = os.path.join(work_dir, "corpus")
    files = corpus(CORPUS_SEED, base, scale)
    versions = {(t, 0): p for t, p in files.items()}
    staged = os.path.join(work_dir, "staged")
    lines = [f"workload {workload}"]
    lines += [f"cover {q}" for q in COVER]
    lines += [f"query {q}" for q in queries(workload)]
    for steps in stream(seed, workload):
        lines.append("round")
        for s in steps:
            if s[0] == "call":
                lines.append(f"call {s[1]}")
                continue
            _, t, v = s
            os.makedirs(staged, exist_ok=True)
            path = os.path.abspath(os.path.join(staged, f"{t}_v{v}.parquet"))
            write(mutate(seed, t, v, pq.read_table(versions[(t, v - 1)])), path)
            versions[(t, v)] = path
            lines.append(f"refresh {t} {v} {path}")
    plan = os.path.join(work_dir, "plan.txt")
    with open(plan, "w") as f:
        f.write("\n".join(lines) + "\n")
    return plan, base, files, versions
