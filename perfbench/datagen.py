"""Seeded inputs.  The same seed gives byte-identical files; the
program under test sees only these files and the requests made from
them.
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = 1704067200  # 2024-01-01T00:00:00Z

# ------------------------------------------------------------------ fleet

FLEET_HOSTS = 32
FLEET_DAYS = 30
FLEET_STEP = 60  # seconds between points of one host
FLEET_FILES = 4
FLEET_DCS = 4


def _fleet_values(rng, hosts: np.ndarray, ts: np.ndarray):
    phase = (hosts * 0.7) % (2 * math.pi)
    day = 2 * math.pi * (ts - EPOCH) / 86400.0
    cpu = 40.0 + 20.0 * np.sin(day + phase) + rng.normal(0, 5.0, ts.size)
    # rare spikes give the detectors something to flag
    spikes = rng.random(ts.size) < 0.001
    cpu = np.clip(np.where(spikes, cpu + 45.0, cpu), 0.0, 100.0)
    mem = 30.0 + 0.4 * cpu + rng.normal(0, 3.0, ts.size)
    return np.round(cpu, 3), np.round(mem, 3)


def fleet_table(seed: int, hosts: int = FLEET_HOSTS, days: int = FLEET_DAYS,
                step: int = FLEET_STEP) -> pa.Table:
    """``hosts × days × 86400/step`` points: ts (epoch s, int64), host,
    dc, cpu, mem."""
    rng = np.random.default_rng([seed, 1])
    per_host = days * 86400 // step
    h = np.repeat(np.arange(hosts), per_host)
    ts = np.tile(EPOCH + np.arange(per_host, dtype=np.int64) * step, hosts)
    cpu, mem = _fleet_values(rng, h, ts)
    return pa.table({
        "ts": pa.array(ts, pa.int64()),
        "host": _labels(h, [f"h{i:02d}" for i in range(hosts)]),
        "dc": _labels(h % FLEET_DCS, [f"dc{i}" for i in range(FLEET_DCS)]),
        "cpu": pa.array(cpu, pa.float64()),
        "mem": pa.array(mem, pa.float64()),
    })


def _labels(codes: np.ndarray, names: list[str]) -> pa.Array:
    """Plain string column from integer codes (built in C, not a list
    of a million Python strings)."""
    return pa.DictionaryArray.from_arrays(
        pa.array(codes, pa.int32()), pa.array(names)).cast(pa.string())


def write_fleet(table: pa.Table, path: str, files: int = FLEET_FILES) -> None:
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def fleet_slice_rows(seed: int, slot: int, start: int, minutes: int,
                     hosts: int = FLEET_HOSTS) -> list[dict]:
    """Points for one ``_write``: every host, one point a minute over
    ``[start, start + minutes·60)``, as the JSON rows the route takes."""
    rng = np.random.default_rng([seed, 2, slot])
    per_host = minutes
    h = np.repeat(np.arange(hosts), per_host)
    ts = np.tile(start + np.arange(per_host, dtype=np.int64) * FLEET_STEP,
                 hosts)
    cpu, mem = _fleet_values(rng, h, ts)
    return [{"ts": int(t), "host": f"h{i:02d}", "dc": f"dc{i % FLEET_DCS}",
             "cpu": float(c), "mem": float(m)}
            for t, i, c, m in zip(ts, h, cpu, mem)]


# ---------------------------------------------------------------- catalog

_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
VOCAB = 400
NEAR_DUP = 0.15  # share of documents rewritten as near-copies of another
_LANGS = (("en", 0.43), ("zh", 0.15), ("es", 0.15), ("de", 0.14),
          ("fr", 0.13))
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_DAY = 86400 * 1_000_000  # microseconds
_D1995 = 788918400 * 1_000_000  # 1995-01-01 in microseconds


def _ts_us(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int64), pa.timestamp("us"))


def catalog_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    """TPC-H-like star schema plus events, documents and embeddings with
    the schemas the catalog reads; ``scale`` 0.01 gives 60 k lineitems."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = (int(150_000 * scale), int(10_000 * scale),
                              int(200_000 * scale))
    n_ord, n_ev = int(1_500_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), int(50_000 * scale)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    odate = _D1995 + rng.integers(0, 2404, n_ord) * _DAY
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts_us(odate),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = okey.size
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), n_li),
        "l_linestatus": rng.choice(("F", "O"), n_li),
        "l_shipdate": _ts_us(np.repeat(odate, lines)
                             + rng.integers(1, 122, n_li) * _DAY)})
    ev_ts = np.sort(EPOCH * 1_000_000
                    + rng.integers(0, 30 * _DAY, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts_us(ev_ts),
        "user_id": pa.array(rng.integers(0, max(15, n_ev // 66), n_ev),
                            pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _documents(rng, n: int) -> pa.Table:
    # a Zipf-weighted vocabulary: the common words keep random documents
    # loosely similar, and near-duplicate families (a few words swapped)
    # give dedup and the similarity graph real clusters
    vocab = np.array(_WORDS + [f"w{i:03d}" for i in range(VOCAB - len(_WORDS))])
    weights = 1.0 / np.arange(1, VOCAB + 1)
    weights /= weights.sum()
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(vocab, k, p=weights)) for k in lens]
    for i in rng.choice(n, int(n * NEAR_DUP), replace=False):
        words = texts[int(rng.integers(0, n))].split()
        for j in rng.integers(0, len(words), 2):
            words[j] = str(rng.choice(vocab, p=weights))
        texts[i] = " ".join(words)
    langs, probs = zip(*_LANGS)
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(langs, n, p=probs),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(0, 1, (labels, dim))
    lab = rng.integers(0, labels, n)
    x = centers[lab] + rng.normal(0, 1.5, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(lab, pa.int32())})


def write_catalog(seed: int, out_dir: str, scale: float = 0.01) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in catalog_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
