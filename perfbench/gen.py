"""Seeded input generator for the graft benchmark.

Writes parquet tables with the schema, key layout and value ranges of the
sf tables the engine is developed against (TPC-H-ish star schema, an events
stream, a document corpus and an embeddings table), sized by a scale factor
and drawn from one seed: the same seed gives byte-identical inputs.

Every value is drawn from the seed; on top of that, embeddings get a
seed-chosen dimension rotation (the ScaleProbe replica device) and each
night's slices get fresh id ranges. Document words are not alphabet-rotated:
rotation moves the n-gram language guess that curation admits on, so the
admitted volume (and with it the work) would change with the seed. Row ids
stay 0-based in the base tables because the engine derives slices from id
residues (doc_id % 10 incoming feed, vec_id % 100 IVF centroids).

Usage: python3 gen.py OUT_DIR SEED WORKLOAD   (prints the table sizes as JSON)
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD"]
PART_ADJ = "blue cold hot red small new old large".split()
PART_NOUN = "ring plate gear rod bolt anvil widget gizmo".split()
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DIM = 64
N_LABELS = 10
DAY_US = 86_400_000_000

# Workload sizes. Every workload is sized so one run (JVM start, set-up,
# the measured loop and the output checks) fits the benchmark's time budget
# on a 4-core box; see README.md for the calibration behind each number.
SIZES = {
    "etl_sync": {"sf": 0.01, "docs": 5000, "warehouse": True},
    "store_nightly": {"sf": 0.1, "docs": 5000, "vecs": 2000,
                      "nights": 2, "day_events": 10000, "day_docs": 1000,
                      "day_vecs": 500},
}


def _us(date):
    return np.datetime64(date, "us").astype(np.int64)


def _ts(values_us):
    return pa.array(values_us, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, table, sizes):
    """Write `name`.parquet under `out`; record its rows and bytes under
    the key "<dir>/<name>" (e.g. "base/orders", "night00/events")."""
    path = os.path.join(out, name + ".parquet")
    pq.write_table(table, path)
    key = os.path.basename(out) + "/" + name
    sizes[key] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def star(out, rng, sf, sizes):
    n_cust, n_supp, n_part = int(150000 * sf), max(int(10000 * sf), 10), int(200000 * sf)
    n_ord, n_li, n_users = int(1500000 * sf), int(6000000 * sf), max(int(15000 * sf), 10)
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}), sizes)
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}), sizes)
    _write(out, "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}), sizes)
    _write(out, "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}), sizes)
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                             rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)}), sizes)
    day0, days = _us("1995-01-01"), 2404  # 1995-01-01 .. 2001-08-01
    _write(out, "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(day0 + rng.integers(0, days + 1, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)}), sizes)
    _write(out, "lineitem", pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "A", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts(_us("1995-01-02") + rng.integers(0, 2498, n_li) * DAY_US)}), sizes)
    n_ev = int(1000000 * sf)
    _write(out, "events", events(rng, 0, n_ev, _us("2024-01-01"), 30 * DAY_US, n_users), sizes)


def events(rng, first_id, n, start_us, span_us, n_users):
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": _ts(np.sort(start_us + rng.integers(0, span_us, n))),
        "user_id": rng.integers(0, n_users, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(60.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, first_id, n):
    """Random texts over a 31-word vocabulary; 5% are a near-duplicate of an
    earlier doc (its text plus one marker word) and 0.2% an exact copy.
    Shares are exact, not sampled, so the work a corpus causes (admission
    by language, duplicate clusters) does not drift with the seed."""
    later = rng.permutation(np.arange(21, n))
    n_near, n_exact = round(0.05 * n), round(0.002 * n)
    near, exact = set(later[:n_near]), set(later[n_near:n_near + n_exact])
    texts = []
    for i in range(n):
        if i in near:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i in exact:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(VOCAB, rng.integers(10, 101))))
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.permutation(exact_shares(LANGS, LANG_P, n)),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def warehouse(base, out):
    """The warehouse table the etl_sync window merges into: orders in the
    sync schema, partitioned by order year (hive layout), with every fifth
    key not yet loaded."""
    o = pq.read_table(os.path.join(base, "orders.parquet"))
    o = o.filter(pa.array(o["o_orderkey"].to_numpy() % 5 != 0))
    t = pa.table({
        "o_orderkey": o["o_orderkey"], "o_custkey": o["o_custkey"],
        "o_orderdate": pc.cast(o["o_orderdate"], pa.date32()),
        "o_totalprice": o["o_totalprice"], "o_orderstatus": o["o_orderstatus"]})
    years = pc.year(o["o_orderdate"])
    for y in sorted(set(years.to_pylist())):
        d = os.path.join(out, f"o_year={y}")
        os.makedirs(d)
        pq.write_table(t.filter(pc.equal(years, y)), os.path.join(d, "part-0.parquet"))


def exact_shares(values, shares, n):
    """n values in the given shares (largest remainder), unshuffled."""
    counts = [int(p * n) for p in shares]
    for i in sorted(range(len(values)), key=lambda i: int(shares[i] * n) - shares[i] * n)[:n - sum(counts)]:
        counts[i] += 1
    return np.repeat(values, counts)


def embeddings(rng, seed, first_id, n, centroids):
    labels = rng.permutation(np.arange(n) % N_LABELS)
    v = centroids[labels] + rng.normal(0.0, 0.12, (n, DIM))
    v = np.roll(v, (seed * 5) % DIM, axis=1)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def generate(out, seed, workload):
    """Write the workload's inputs under `out`; return {table: {rows, bytes}}."""
    size = SIZES[workload]
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    base = os.path.join(out, "base")
    os.makedirs(base, exist_ok=True)
    sizes = {}
    star(base, rng, size["sf"], sizes)
    centroids = rng.normal(0.0, 0.2, (N_LABELS, DIM))
    if "docs" in size:
        _write(base, "documents", documents(rng, 0, size["docs"]), sizes)
    if "vecs" in size:
        _write(base, "embeddings", embeddings(rng, seed, 0, size["vecs"], centroids), sizes)
    if size.get("warehouse"):
        warehouse(base, os.path.join(out, "warehouse", "orders"))
    # store_nightly: one slice per simulated night, with ids no earlier
    # night or the base tables use (the appendDay contract)
    for night in range(size.get("nights", 0)):
        d = os.path.join(out, f"night{night:02d}")
        os.makedirs(d, exist_ok=True)
        first = 1_000_000 * (night + 1)
        day_us = (19800 + night) * DAY_US  # the day StoreNightly appends it as
        _write(d, "events", events(rng, first, size["day_events"], day_us, DAY_US, 150), sizes)
        _write(d, "documents", documents(rng, first, size["day_docs"]), sizes)
        _write(d, "embeddings", embeddings(rng, seed, first, size["day_vecs"], centroids), sizes)
    return sizes


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), sort_keys=True))
