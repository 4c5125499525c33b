"""Seeded input generation for the engine benchmark.

Two kinds of input:

* the *database*: the ten TPC-H-ish tables the engine reads
  (``region nation customer supplier part orders lineitem events
  documents embeddings``), one parquet file each, with the same column
  names and physical types as the engine's ``schemas.TESTDATA_SCHEMAS``.
  It is generated once per checkout from a fixed seed and scale factor
  and reused by every run, like a warehouse that exists before the job
  starts. ``documents`` carries planted exact re-posts and
  near-duplicates whose shares and pairs are recorded in the
  database's ``manifest.json``.
* the *run inputs*, derived from the run's ``--seed``: the hourly
  ``loaded_ts`` schedule and the late-correction samples of
  ``mart_hourly``, and the query order of ``analyst_mix``.

Everything is plain numpy/pyarrow, so no Spark session is needed.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DB_SEED = 42
# Bump when the generator changes so stale databases are rebuilt.
DB_VERSION = 1

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Planted duplicate shares of the documents table (share of all docs).
EXACT_REPOST_SHARE = 0.02
NEAR_DUP_SHARE = 0.10
# Share of a near-duplicate's tokens replaced by seeded edits.
NEAR_DUP_EDIT_SHARE = 0.05

EMB_DIM = 64
EMB_LABELS = 10
EMB_CLUSTER_WEIGHT = 0.6

# The reference DAG loads 16 snapshots a day (dags/yougile_etl_dag.py:341):
# hourly from 06:00 to 21:00.
LOADS_PER_DAY = 16
FIRST_LOAD_HOUR = 6
# Share of mart task rows a late correction rewrites.
CORRECTION_SHARE = 0.01
# Cycles CORRECTION_OFFSET, CORRECTION_OFFSET + CORRECTION_EVERY, ...
# end with a late correction: four per 16-load day, the first of them
# right after the cold cycle 0, so every timed run holds one.
CORRECTION_EVERY = 4
CORRECTION_OFFSET = 1


def table_sizes(sf: float) -> dict[str, int]:
    """Row counts per table; the TPC-H-ish tables scale with ``sf``, the
    corpus tables have a floor so the text and vector operators always
    see a few hundred rows."""
    return {
        "region": 5, "nation": 25,
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "events": max(1000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, lo: str, n_days: int, size: int) -> np.ndarray:
    d = np.datetime64(lo, "D") + rng.integers(0, n_days, size)
    return d.astype("datetime64[us]")


def _money(x: np.ndarray) -> np.ndarray:
    # exact 2-decimal doubles, the registry's DECIMAL-aggregation contract
    return np.round(x, 2)


def _strings(fmt: str, ids: np.ndarray) -> pa.Array:
    return pa.array([fmt % i for i in ids], pa.string())


def _gen_tpch(rng, n: dict[str, int]) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    nk = np.arange(25)
    t["nation"] = pa.table({
        "n_nationkey": pa.array(nk, pa.int32()),
        "n_name": _strings("NATION_%d", nk),
        "n_regionkey": pa.array(nk % 5, pa.int32())})

    ck = np.arange(n["customer"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": _strings("Customer#%09d", ck),
        "c_nationkey": pa.array(rng.integers(0, 25, ck.size), pa.int32()),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, ck.size)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, ck.size), pa.string())})

    sk = np.arange(n["supplier"])
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": _strings("Supplier#%09d", sk),
        "s_nationkey": pa.array(rng.integers(0, 25, sk.size), pa.int32()),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, sk.size))})

    pk = np.arange(n["part"])
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    retail = 900.0 + (pk % 1000) / 10.0
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(rng.choice(names, pk.size), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, pk.size)], pa.string()),
        "p_type": pa.array(rng.choice(PART_TYPES, pk.size), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, pk.size), pa.int32()),
        "p_retailprice": _money(retail)})

    ok = np.arange(n["orders"])
    odate = _days(rng, "1995-01-01", 2405, ok.size)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ck.size, ok.size), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["P", "O", "F"], ok.size),
                                  pa.string()),
        "o_totalprice": _money(rng.uniform(1000.0, 500000.0, ok.size)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, ok.size),
                                    pa.string())})

    # 0..7 lines per order, line numbers 1..n: (l_orderkey, l_linenumber)
    # is a true key, and ~2% of orders have no lines (child-less parents).
    per = np.minimum(rng.poisson(4.0, ok.size), 7)
    lok = np.repeat(ok, per)
    starts = np.repeat(np.cumsum(per) - per, per)
    lnum = np.arange(lok.size) - starts + 1
    order = rng.permutation(lok.size)   # scan order is not key order
    lok, lnum = lok[order], lnum[order]
    m = lok.size
    lpk = rng.integers(0, pk.size, m)
    qty = rng.integers(1, 51, m).astype(np.float64)
    ship = odate[lok] + rng.integers(1, 122, m).astype("timedelta64[D]")
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(lpk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, sk.size, m), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * retail[lpk]
                                  * rng.uniform(0.05, 1.0, m)),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": pa.array(rng.choice(["N", "R", "A"], m), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], m), pa.string()),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"),
                               pa.timestamp("us"))})

    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, e)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(50, e // 66), e), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, e), pa.string()),
        "value": _money(rng.exponential(50.0, e)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
                          pa.string())})
    return t


def _gen_documents(rng, n_docs: int) -> tuple[pa.Table, dict]:
    """Random word documents with planted exact re-posts and
    near-duplicates of earlier documents; returns the table and the
    planted pairs (original id, copy id)."""
    vocab = np.array(WORDS)
    toks = [list(vocab[rng.integers(0, vocab.size, rng.integers(10, 101))])
            for _ in range(n_docs)]
    kind = rng.choice(3, n_docs, p=[1 - EXACT_REPOST_SHARE - NEAR_DUP_SHARE,
                                    EXACT_REPOST_SHARE, NEAR_DUP_SHARE])
    kind[0] = 0
    originals = np.flatnonzero(kind == 0)
    exact, near = [], []
    for i in np.flatnonzero(kind != 0):
        src = int(rng.choice(originals[originals < i]))
        copy = list(toks[src])
        if kind[i] == 2:
            n_edit = max(1, int(round(NEAR_DUP_EDIT_SHARE * len(copy))))
            for pos in rng.choice(len(copy), n_edit, replace=False):
                copy[pos] = "dup"   # never in the vocabulary
            near.append([src, int(i)])
        else:
            exact.append([src, int(i)])
        toks[i] = copy
    text = [" ".join(t) for t in toks]
    ids = np.arange(n_docs)
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
        "source": _strings("src%d", ids % 20),
        "n_chars": pa.array([len(s) for s in text], pa.int64())})
    planted = {"exact_repost_share": EXACT_REPOST_SHARE,
               "near_dup_share": NEAR_DUP_SHARE,
               "near_dup_edit_share": NEAR_DUP_EDIT_SHARE,
               "exact_pairs": exact, "near_pairs": near}
    return table, planted


def _gen_embeddings(rng, n_vec: int) -> pa.Table:
    centers = rng.normal(size=(EMB_LABELS, EMB_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, EMB_LABELS, n_vec)
    noise = rng.normal(size=(n_vec, EMB_DIM)) / np.sqrt(EMB_DIM)
    v = EMB_CLUSTER_WEIGHT * centers[label] + noise
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def ensure_database(out_dir: str, sf: float) -> dict:
    """Generate the database under ``out_dir`` unless an identical one is
    already there; returns its manifest (row counts, planted pairs)."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    want = {"version": DB_VERSION, "seed": DB_SEED, "sf": sf}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if {k: manifest.get(k) for k in want} == want:
            return manifest
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DB_SEED)
    sizes = table_sizes(sf)
    tables = _gen_tpch(rng, sizes)
    tables["documents"], planted = _gen_documents(rng, sizes["documents"])
    tables["embeddings"] = _gen_embeddings(rng, sizes["embeddings"])
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    manifest = dict(want, rows={k: v.num_rows for k, v in tables.items()},
                    planted=planted)
    # written last: its presence marks a complete database
    with open(manifest_path, "w") as f:
        json.dump(manifest, f)
    return manifest


def load_schedule(seed: int, n: int) -> list[dt.datetime]:
    """``n`` consecutive hourly ``loaded_ts`` stamps of the reference
    schedule (16 loads a day), starting at a seeded day and slot."""
    rng = np.random.default_rng([seed, 1])
    day0 = dt.datetime(2026, 1, 1) + dt.timedelta(days=int(rng.integers(0, 365)))
    slot0 = int(rng.integers(0, LOADS_PER_DAY))
    out = []
    for i in range(slot0, slot0 + n):
        day, slot = divmod(i, LOADS_PER_DAY)
        out.append(day0 + dt.timedelta(days=day,
                                       hours=FIRST_LOAD_HOUR + slot))
    return out


def correction_rows(seed: int, cycle: int, n_rows: int) -> np.ndarray:
    """Seeded row positions (into the mart's rows sorted by business key)
    that the correction after ``cycle`` rewrites."""
    rng = np.random.default_rng([seed, 2, cycle])
    k = max(1, int(round(CORRECTION_SHARE * n_rows)))
    return np.sort(rng.choice(n_rows, k, replace=False))


def query_order(seed: int, names: list[str], passes: int) -> list[str]:
    """Closed-loop request stream for ``analyst_mix``: ``passes``
    back-to-back seeded permutations of ``names``, so every query runs
    equally often and the order differs per seed."""
    rng = np.random.default_rng([seed, 3])
    out: list[str] = []
    for _ in range(passes):
        out.extend(names[i] for i in rng.permutation(len(names)))
    return out
