"""Seeded input generator for the benchmark.

Reproduces the distributions of ``scripts/gen_scale.py`` (row counts
linear in ``sf``, the same categorical domains, value ranges, fan-out,
document vocabulary and duplicate fractions, and the same embedding
cluster shape) but draws every value from the seed it is given instead
of a fixed 42. It also writes the ingest batches: one parquet file per day of
hourly ``(window_start, event_type)`` aggregates, plus a seeded share
of late rows that re-touch earlier days, and the state an upsert per
day leaves after the first ``base_days`` of them.

Output is cached per (seed, sizes): a directory that already holds a
``DONE`` marker is reused as is.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["MACHINERY", "BUILDING", "FURNITURE", "AUTOMOBILE", "HOUSEHOLD"]
STATUSES = ["P", "O", "F"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURNFLAGS = ["A", "N", "R"]
LINESTATUSES = ["O", "F"]
PTYPES = ["ECONOMY", "MEDIUM", "SMALL", "PROMO", "STANDARD", "LARGE"]
PCOLORS = ["red", "blue", "green", "small", "large", "shiny"]
PNOUNS = ["widget", "bolt", "ring", "gear", "plate", "valve"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400_000_000
EVENTS_PER_DAY_AT_SF1 = 1_000_000 / 30  # gen_scale spreads events over 30 days
# earlier days a batch's late rows re-touch: fixed, because the bytes
# and time of an upsert follow the number of partitions it rewrites
DAYS_TOUCHED = 2


def _ts(arr_us: np.ndarray) -> pa.Array:
    return pa.array(arr_us, type=pa.timestamp("us"))


def _write(out: str, name: str, table: pa.Table) -> int:
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return table.num_rows


def tables(rng: np.random.Generator, sf: float, doc_sf: float) -> dict[str, pa.Table]:
    """The ten driver tables at scale ``sf`` (documents and embeddings at
    ``doc_sf``), in gen_scale.py's distributions."""
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_li = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_doc = max(100, int(50_000 * doc_sf))
    n_emb = max(100, int(20_000 * doc_sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000.0, 10000.0, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000.0, 10000.0, n_supp), 2),
    })
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{PCOLORS[a]} {PNOUNS[b]}"
            for a, b in zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))
        ],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 21)])[
            rng.integers(0, 20, n_part)
        ],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900.0, 1000.0, n_part), 2),
    })
    d0 = np.datetime64("1995-01-01").astype("datetime64[us]").astype(np.int64)
    d1 = np.datetime64("2001-08-01").astype("datetime64[us]").astype(np.int64)
    n_days = (d1 - d0) // DAY_US
    odate_us = d0 + rng.integers(0, n_days + 1, n_ord) * DAY_US
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(odate_us),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lok = np.sort(rng.integers(0, n_ord, n_li).astype(np.int64))
    change = np.r_[True, lok[1:] != lok[:-1]]
    run_starts = np.flatnonzero(change)
    lineno = np.arange(n_li) - np.repeat(run_starts, np.diff(np.r_[run_starts, n_li])) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    unit = rng.uniform(900.0, 2100.0, n_li)
    ship_us = odate_us[lok] + rng.integers(1, 96, n_li) * DAY_US
    out["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * unit, 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(RETURNFLAGS)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(LINESTATUSES)[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship_us),
    })
    e0 = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    ev_ts = e0 + rng.integers(0, 30 * DAY_US, n_ev)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(ev_ts)),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    vocab = np.array(DOC_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), k)])
        for k in rng.integers(8, 106, n_doc)
    ]
    n_exact = max(1, int(0.0016 * n_doc))
    n_near = max(1, int(0.005 * n_doc))
    for i in range(n_exact):
        texts[n_doc - 1 - i] = texts[int(rng.integers(0, n_doc - n_exact - n_near))]
    for i in range(n_near):
        src = texts[int(rng.integers(0, n_doc - n_exact - n_near))].split()
        src[int(rng.integers(0, len(src)))] = str(vocab[int(rng.integers(0, len(vocab)))])
        texts[n_doc - 1 - n_exact - i] = " ".join(src)
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": np.array([f"src{i}" for i in range(20)])[rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    dim = 64
    centers = rng.normal(0, 0.07 / np.sqrt(dim), (10, dim))
    labels = rng.integers(0, 10, n_emb)
    X = centers[labels] + rng.normal(0, 0.125, (n_emb, dim))
    X = X / np.linalg.norm(X, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(X.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def ingest_batches(
    rng: np.random.Generator, sf: float, n_days: int, base_days: int
) -> tuple[list[pa.Table], pa.Table, dict]:
    """One batch per day of hourly ``(window_start, event_type)``
    aggregates over ``sf``-sized events (gen_scale's exponential(50)
    values, uniform hours and types). Each batch after the first also
    carries a seeded share of late events for ``DAYS_TOUCHED`` seeded
    days of the seven before it, each in a few consecutive hours: those keys reappear with the re-aggregated
    totals, so the upsert replaces them. Keys are unique within a
    batch. Also returns the base: every key with its totals after the
    first ``base_days`` batches, which is what upserting those batches
    one by one leaves (last writer wins)."""
    late_share = float(rng.uniform(0.05, 0.15))
    days_touched = DAYS_TOUCHED
    per_day = max(24, int(EVENTS_PER_DAY_AT_SF1 * sf))
    n_types = len(EVENT_TYPES)
    counts = np.zeros((n_days, 24, n_types), dtype=np.int64)
    cents = np.zeros((n_days, 24, n_types), dtype=np.int64)

    def add(day: int, n: int, hours: np.ndarray) -> set:
        hour = rng.choice(hours, n)
        et = rng.integers(0, n_types, n)
        val = np.round(rng.exponential(50.0, n) * 100).astype(np.int64)
        np.add.at(counts[day], (hour, et), 1)
        np.add.at(cents[day], (hour, et), val)
        return set(zip(hour.tolist(), et.tolist()))

    d0 = np.datetime64("2024-01-01", "D")

    def table(keys: dict[int, set]) -> pa.Table:
        ws, et, n, tv = [], [], [], []
        for d in sorted(keys):
            date = str(d0 + d)
            for h, t in sorted(keys[d]):
                ws.append(f"{date} {h:02d}:00:00")
                et.append(EVENT_TYPES[t])
                n.append(int(counts[d, h, t]))
                tv.append(int(cents[d, h, t]) / 100.0)
        return pa.table({
            "window_start": ws,
            "event_type": et,
            "n_events": pa.array(n, pa.int64()),
            "total_value": pa.array(tv, pa.float64()),
        })

    all_hours = np.arange(24)
    batches, base = [], None
    for day in range(n_days):
        if day == base_days:
            base = table({d: {(int(h), int(t)) for h, t in zip(*np.nonzero(counts[d]))}
                          for d in range(day)})
        touched = {day: add(day, per_day, all_hours)}
        if day:
            earlier = rng.choice(
                np.arange(max(0, day - 7), day), min(day, days_touched), replace=False
            )
            for d in (int(x) for x in earlier):
                # a late upstream feed: 1-3 consecutive hours of one day
                h0 = int(rng.integers(0, 22))
                hours = np.arange(h0, h0 + int(rng.integers(1, 4)))
                touched[d] = add(d, max(1, int(per_day * late_share / days_touched)), hours)
        batches.append(table(touched))
    return batches, base, {"late_share": late_share, "days_touched": days_touched}


def generate(out: str, seed: int, sf: float, doc_sf: float, ingest_days: int,
             base_days: int) -> dict:
    """Write every input under ``out`` (reused if already complete) and
    return the manifest: sizes, row counts, the batch paths and the
    base's path."""
    marker = os.path.join(out, "DONE")
    if os.path.exists(marker):
        with open(marker) as f:
            return json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "batches"))
    rng = np.random.default_rng(seed)
    rows = {name: _write(out, name, t) for name, t in tables(rng, sf, doc_sf).items()}
    batches, base, shape = ingest_batches(rng, sf, ingest_days, base_days)
    paths = []
    for i, b in enumerate(batches):
        p = os.path.join(out, "batches", f"day{i:03d}.parquet")
        pq.write_table(b, p)
        paths.append(p)
    base_path = None
    if base is not None:
        base_path = os.path.join(out, "batches", "base.parquet")
        pq.write_table(base, base_path)
    manifest = {
        "seed": seed, "sf": sf, "doc_sf": doc_sf, "rows": rows,
        "batches": paths, "batch_rows": [b.num_rows for b in batches],
        "base": base_path, **shape,
    }
    with open(marker, "w") as f:
        json.dump(manifest, f)
    return manifest

