"""Seeded input generation for the benchmark workloads.

Every input the engine sees is made here from the `--seed` argument: the
TPC-H-like star schema plus `events`/`documents`/`embeddings` tables (the
same schemas and value domains as the repository's test data), the
streaming drops, the artifact delta batches, query vectors, search terms
and KV mutations. The same seed gives byte-identical inputs.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
# "dup" only ever appears as the near-duplicate marker suffix
TEXT_WORDS = [w for w in WORDS if w != "dup"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.41, 0.15, 0.14, 0.15]
DIM = 64
DAY_US = 86_400_000_000
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
ORDERS_T0_US = 788_918_400_000_000    # 1995-01-01T00:00:00Z
ORDER_DAYS = 2404                     # through 2001-08-01


def _write(path, cols):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path, compression="snappy")


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def events_columns(rng, n, first_id, t0_us, span_us):
    """`n` events with ids from `first_id`, timestamps ascending with the
    id over [t0_us, t0_us + span_us) (as in the repository's data)."""
    ts = np.sort(rng.integers(t0_us, t0_us + span_us, n))
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n) + 0.01, 2)),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, n)], type=pa.string()),
    }


def documents_columns(rng, n, first_id=0):
    texts = []
    for i in range(n):
        if texts and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.asarray(TEXT_WORDS)[rng.integers(0, len(TEXT_WORDS), k)]))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts, type=pa.string()),
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def unit_vectors(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def embeddings_columns(rng, n, first_id=0):
    vecs = unit_vectors(rng, n)
    return {
        "vec_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    }


def star_schema(out_dir, seed, sf):
    """The ten corpus tables at scale factor `sf` (sf 0.1 = 600 k
    lineitem rows), written as `<out_dir>/<table>.parquet`."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    n_emb = 2000 if sf >= 0.1 else 500
    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, type=pa.string())})
    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], type=pa.string()),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], type=pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust)})
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], type=pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _choice(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], type=pa.string()),
        "p_type": _choice(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10, 1))})
    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _ts(ORDERS_T0_US + rng.integers(0, ORDER_DAYS, n_ord) * DAY_US),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord)})
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(ORDERS_T0_US + rng.integers(1, ORDER_DAYS + 95, n_line) * DAY_US)})
    _write(f"{out_dir}/events.parquet",
           events_columns(rng, n_ev, 0, EVENTS_T0_US, 30 * DAY_US))
    _write(f"{out_dir}/documents.parquet", documents_columns(rng, n_doc))
    _write(f"{out_dir}/embeddings.parquet", embeddings_columns(rng, n_emb))


def stream_drops(out_dir, seed, n_drops=7, small=100, large=3000):
    """Chronological `events` drops for the drip workload: each covers its
    own time slice (so no row is behind the watermark), sizes mix small
    and large drops, and some events are replayed verbatim inside their
    drop (the at-least-once duplicates `dedupEvents` removes). The first
    drop primes the queries of a timed round; the other data drops are
    half large, half small. Two flush
    sentinels (user -1, event type `zz_flush`) push the watermark past
    every window and session. Returns the drop manifest."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    # a fixed mix (first large, last small, the middle in seeded order), so
    # every seed drips the same amount of data
    middle = [large] * ((n_drops - 1) // 2) + [small] * (n_drops - 2 - (n_drops - 1) // 2)
    sizes = [large, *rng.permutation(middle).tolist(), small]
    span = 30 * DAY_US // n_drops
    drops, next_id = [], 0
    for i, n in enumerate(sizes):
        cols = events_columns(rng, n, next_id, EVENTS_T0_US + i * span, span)
        next_id += n
        dup = rng.choice(n, max(1, n // 50), replace=False)
        t = pa.table(cols)
        t = pa.concat_tables([t, t.take(pa.array(np.sort(dup)))])
        name = f"drop_{i:03d}.parquet"
        pq.write_table(t, f"{out_dir}/{name}", compression="snappy")
        drops.append({"file": name, "rows": t.num_rows, "kind": "data"})
    flush_us = EVENTS_T0_US + 60 * DAY_US
    for j, name in enumerate(["flush_a.parquet", "flush_b.parquet"]):
        pq.write_table(pa.table({
            "event_id": pa.array([-1 - j], type=pa.int64()), "ts": _ts([flush_us + j]),
            "user_id": pa.array([-1], type=pa.int64()),
            "event_type": pa.array(["zz_flush"]), "value": pa.array([0.0]),
            "props": pa.array([""])}), f"{out_dir}/{name}")
        drops.append({"file": name, "rows": 1, "kind": "flush"})
    with open(f"{out_dir}/drops.tsv", "w") as f:
        f.writelines(f"{d['file']}\t{d['rows']}\t{d['kind']}\n" for d in drops)
    return drops


def artifact_inputs(out_dir, seed, n_docs=1200, n_vecs=1200, n_deltas=8):
    """Inputs of the persisted-artifact workload: a base corpus plus
    doc-disjoint delta batches for each artifact, probe vectors, search
    term lists, a scoring batch and KV mutation batches."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    # base: 60% of the corpus; the rest splits into n_deltas equal batches
    base = n_docs * 6 // 10
    bounds = [base + i * (n_docs - base) // n_deltas for i in range(n_deltas + 1)]
    bounds = [0, *bounds]
    docs = pa.table(documents_columns(rng, n_docs))
    vecs = pa.table(embeddings_columns(rng, n_vecs))
    parts = []
    for i in range(len(bounds) - 1):
        lo, hi = bounds[i], bounds[i + 1]
        tag = "base" if i == 0 else f"delta{i}"
        pq.write_table(docs.slice(lo, hi - lo), f"{out_dir}/docs_{tag}.parquet")
        vlo, vhi = lo * n_vecs // n_docs, hi * n_vecs // n_docs
        pq.write_table(vecs.slice(vlo, vhi - vlo), f"{out_dir}/vecs_{tag}.parquet")
        parts.append(tag)
    q = unit_vectors(rng, 8)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(1_000_000, 1_000_008, dtype=np.int64)),
        "embedding": pa.array(list(q), type=pa.list_(pa.float32()))}),
        f"{out_dir}/probe_vecs.parquet")
    pq.write_table(pa.table(documents_columns(rng, 200, first_id=2_000_000)),
                   f"{out_dir}/score_docs.parquet")
    terms = [sorted(set(np.asarray(TEXT_WORDS)[rng.choice(len(TEXT_WORDS), 3, replace=False)]))
             for _ in range(8)]
    # KV store over orders-shaped rows: k LONG, v LONG, s STRING
    n_kv = 10_000
    pq.write_table(pa.table({
        "k": pa.array(np.arange(n_kv, dtype=np.int64)),
        "v": pa.array(rng.integers(0, 1_000_000, n_kv, dtype=np.int64)),
        "s": _choice(rng, ["F", "O", "P"], n_kv)}), f"{out_dir}/kv_base.parquet")
    merges = []
    for i in range(n_deltas):
        keys = np.sort(rng.choice(n_kv + 2000, 200, replace=False)).astype(np.int64)
        pq.write_table(pa.table({
            "k": pa.array(keys), "v": pa.array(rng.integers(0, 1_000_000, len(keys), dtype=np.int64)),
            "s": _choice(rng, ["F", "O", "P"], len(keys))}), f"{out_dir}/kv_merge{i}.parquet")
        lo = int(rng.integers(0, n_kv - 500))
        merges.append({"file": f"kv_merge{i}.parquet", "delete_lo": lo, "delete_hi": lo + 200})
    scans = []
    for _ in range(8):
        lo = int(rng.integers(0, n_kv))
        scans.append([lo, lo + int(rng.integers(100, 3000))])
    def tsv(name, rows):
        with open(f"{out_dir}/{name}", "w") as f:
            f.writelines("\t".join(map(str, r)) + "\n" for r in rows)
    tsv("parts.txt", [[p] for p in parts])
    tsv("terms.txt", terms)
    tsv("kv_merges.tsv", [[m["file"], m["delete_lo"], m["delete_hi"]] for m in merges])
    tsv("kv_scans.tsv", scans)
