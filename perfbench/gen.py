"""Seeded input generators: a many-counter event stream, a corpus with
near-duplicate families and TPC-H lineitem/supplier.
``workloads.INPUTS`` says which generators, at which sizes, feed each
workload.

Each generator writes parquet tables with the column names and types
of the engine's fixture tables, plus the flat files the CLI flows read,
into one directory. Only numpy and pyarrow are used, so inputs exist
before any Spark session starts, and the same seed always gives
byte-identical files. Sizes are keyword arguments so the oracle check
can build a smaller instance from the same generator and seed.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="zstd")


# ----------------------------------------------------------------- trend


def trend(out_dir: str, seed: int, counters: int, days: int, events: int) -> dict:
    """Many-counter event stream: per-counter base rate, a diurnal
    cycle with its own phase, and 1-3 injected bursts per counter.
    Writes events.parquet and counts.csv, the 60 s per-counter counts
    of the same events in the reference's CSV layout (interval_start,
    duration_sec, count, counter)."""
    rng = np.random.default_rng([seed, 1])
    minutes = days * 1440
    t = np.arange(minutes)
    base = rng.lognormal(0.0, 0.6, counters)
    amp = rng.uniform(0.2, 0.8, counters)
    phase = rng.uniform(0.0, 2 * np.pi, counters)
    rate = base[:, None] * (
        1.0 + amp[:, None] * np.sin(2 * np.pi * t[None, :] / 1440 + phase[:, None])
    )
    for c in range(counters):
        for _ in range(rng.integers(1, 4)):
            start = rng.integers(0, minutes - 240)
            width = rng.integers(20, 240)
            rate[c, start : start + width] *= rng.uniform(3.0, 8.0)
    lam = rate * (events / rate.sum())
    per_min = rng.poisson(lam)
    # largest count two adjacent minutes can hold: a bound on every
    # 2-minute bin, and so on every Poisson nu, of the trend flows
    max_bin_count = int((per_min[:, :-1] + per_min[:, 1:]).max())
    c_idx, m_idx = np.nonzero(per_min)
    reps = per_min[c_idx, m_idx]
    c_ev = np.repeat(c_idx, reps)
    m_ev = np.repeat(m_idx, reps)
    micros = m_ev.astype(np.int64) * 60_000_000 + rng.integers(
        0, 60_000_000, m_ev.size
    )
    order = np.argsort(micros, kind="stable")
    c_ev, micros = c_ev[order], micros[order]
    n = micros.size
    names = pa.array([f"c{i:03d}" for i in range(counters)], type=pa.string())
    ts = EPOCH_2024 + micros.astype("timedelta64[us]")
    events_tbl = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
            "event_type": names.take(c_ev),
            "value": pa.array(np.round(rng.gamma(2.0, 50.0, n), 2)),
            "props": pc.binary_join_element_wise(
                '{"k": ', pc.cast(pa.array(rng.integers(0, 100, n)), pa.string()), "}", ""
            ),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    _write(events_tbl, os.path.join(out_dir, "events.parquet"))

    # 60 s counts of the same events, one CSV row per non-empty bucket
    bucket = micros // 60_000_000
    key = c_ev.astype(np.int64) * minutes + bucket
    uniq, cnt = np.unique(key, return_counts=True)
    start = EPOCH_2024 + (uniq % minutes * 60).astype("timedelta64[s]")
    stamps = pc.strftime(pa.array(start.astype("datetime64[s]")), "%Y%m%d%H%M%S")
    counts = pc.binary_join_element_wise(pc.cast(pa.array(cnt), pa.string()), ".0", "")
    lines = pc.binary_join_element_wise(
        stamps, "60.0", counts, names.take(uniq // minutes), ","
    )
    with open(os.path.join(out_dir, "counts.csv"), "w") as fh:
        fh.write("\n".join(lines.to_pylist()) + "\n")
    return {"events": n, "counters": counters, "days": days, "counts_rows": len(uniq),
            "max_bin_count": max_bin_count}


# ---------------------------------------------------------------- curate

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _doc_words(rng: np.random.Generator, n_words: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words)]


def curate(out_dir: str, seed: int, docs: int) -> dict:
    """Word-bag corpus with near-duplicate families: a quarter of the
    documents are edited copies (a few words replaced, or the tail
    cut) of an earlier family root, so LSH, clustering and canonical
    selection have real work. Writes documents.parquet and dedup.jsonl,
    the input of the CLI dedup flow: the corpus plus 40-token
    truncations of every 5th document, i.e. the LSH corpus of the
    registry's dedup flows."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    roots: list[list[str]] = []
    for i in range(docs):
        if roots and rng.random() < 0.25:
            w = list(roots[rng.integers(0, len(roots))])
            if rng.random() < 0.5:
                for j in rng.integers(0, len(w), max(1, len(w) // 12)):
                    w[j] = VOCAB[rng.integers(0, len(VOCAB))]
            else:
                w = w[: max(10, int(len(w) * rng.uniform(0.7, 0.95)))]
        else:
            w = _doc_words(rng, int(rng.integers(10, 100)))
            if rng.random() < 0.3:
                roots.append(w)
        texts.append(" ".join(w))
    doc_id = np.arange(docs, dtype=np.int64)
    langs = [LANGS[k] for k in rng.integers(0, len(LANGS), docs)]
    sources = [f"src{k}" for k in rng.integers(0, 20, docs)]
    tbl = pa.table(
        {
            "doc_id": pa.array(doc_id),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(langs, type=pa.string()),
            "source": pa.array(sources, type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    _write(tbl, os.path.join(out_dir, "documents.parquet"))

    rows = list(zip(doc_id, texts, langs, sources))
    twins = [
        (d + 1_000_000, " ".join(t.split()[:40]), lg, s)
        for d, t, lg, s in rows
        if d % 5 == 0
    ]
    with open(os.path.join(out_dir, "dedup.jsonl"), "w") as fh:
        for d, t, lg, s in rows + twins:
            fh.write(json.dumps({"doc_id": int(d), "text": t, "lang": lg,
                                 "source": s}) + "\n")
    return {"docs": docs, "families": len(roots)}


# ------------------------------------------------------------------ olap

def _days(base: str, offsets: np.ndarray) -> pa.Array:
    d = np.datetime64(base, "D") + offsets.astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def olap(out_dir: str, seed: int, orders: int) -> dict:
    """TPC-H lineitem and supplier with the fixture's column types,
    value domains (flags, 1995-2001 dates, prices from a 900.0-999.9
    retail ladder) and sf0.1's ratios: 1 + Poisson(3) lines per order,
    one supplier per 150 orders. Keys are shifted by a seed-derived
    offset so no two seeds share key values."""
    rng = np.random.default_rng([seed, 3])
    shift = int(rng.integers(1, 1_000_000)) * 1000
    n_supp = max(20, orders // 150)
    sk = shift + np.arange(n_supp, dtype=np.int64)
    supplier = {
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{k:012d}" for k in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    }
    lines = rng.poisson(3.0, orders) + 1
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(orders), lines)
    first = np.cumsum(lines) - lines
    linenumber = (np.arange(n_li) - np.repeat(first, lines) + 1).astype(np.int32)
    n_part = max(200, orders * 2 // 15)
    part_i = rng.integers(0, n_part, n_li)
    retail = 900.0 + (part_i % 1000) * 0.1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    odate = rng.integers(0, 2404, orders)  # 1995-01-01 .. 2001-08-01
    ship = np.clip(odate[li_order] + rng.integers(1, 122, n_li), 1, 2499)
    lineitem = {
        "l_orderkey": pa.array(shift + li_order.astype(np.int64)),
        "l_partkey": pa.array(shift + part_i.astype(np.int64)),
        "l_suppkey": pa.array(sk[rng.integers(0, n_supp, n_li)]),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * retail * rng.uniform(0.9, 1.1, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_li)]),
        "l_shipdate": _days("1995-01-01", ship),
    }
    os.makedirs(out_dir, exist_ok=True)
    _write(pa.table(supplier), os.path.join(out_dir, "supplier.parquet"))
    _write(pa.table(lineitem), os.path.join(out_dir, "lineitem.parquet"))
    return {"orders": orders, "lineitem": n_li, "supplier": n_supp, "key_shift": shift}


GENERATORS = {"trend": trend, "curate": curate, "olap": olap}


def generate(parts: dict[str, dict[str, int]], out_dir: str, seed: int) -> dict:
    """Run each named generator with its sizes into one directory."""
    return {name: GENERATORS[name](out_dir, seed, **kw) for name, kw in parts.items()}
