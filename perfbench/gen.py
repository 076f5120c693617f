"""Seeded input generator for the benchmark workloads.

Every table follows the engine's fixture schemas (FIXTURES.md section B)
and the value domains the registered queries hard-code: five event types
over 2024-01, TPC-H-style dates in 1995..2001, the five `lang` values,
sources src0..src19 and 64-dimension float32 embeddings. Each workload
sets the input properties its queries depend on explicitly (see
`PROPS`), and the same seed always yields byte-identical inputs.

Inputs are cached under `<work>/inputs/<workload>-s<seed>-g<GEN_VERSION>`;
bump GEN_VERSION whenever the output of this module changes.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 2

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)  # fixture: en 0.41-0.44, the others 0.13-0.15
VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
BOILERPLATE = "subscribe to our newsletter for more data stream updates today".split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
COLORS = ("red", "blue", "green", "small", "large", "steel", "brass", "ivory")
NOUNS = ("ring", "widget", "bolt", "gear", "panel", "valve", "spring", "clip")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMB_DIM = 64

MONTH_START = dt.datetime(2024, 1, 1)
MONTH_SECONDS = 30 * 86400
STREAM_START = dt.datetime(2024, 1, 5)

# Input properties per workload; every result records them. Where the
# engine's seed-42 test fixture has a property, the value is the one
# fixture_props.py measures on its sf0.01 tables (NOTES.md, "Input
# properties"). Sizes are the fixture's sf0.01 sizes. The streaming
# backlog has no fixture: its sizes are set by the run-time budget and its
# disorder shares are assumptions with no measured source.
PROPS = {
    "query_mix": {
        "scale": 0.01,  # TPC-H-style tables: lineitem 6M * scale rows
        "events": 10_000,  # fixture: 1M * scale, uniform over 30 days
        "users": 150,  # fixture: 66.7 events per user
        "user_zipf_a": 0.0,  # fixture: per-user counts spread as uniform keys do
        "value_mean": 50.0,  # fixture: exponential, mean 49.6, median 34.6
        "documents": 500,
        "near_dup_share": 0.05,  # fixture: 4.8% of docs copy another doc plus "dup"
        "hot_shingle_share": 0.0,  # fixture: no shingle is in more than 1.4% of docs
        "embeddings": 500,
        "embedding_labels": 10,
        "embedding_clusters": 0,  # fixture: labels carry no geometric structure
    },
    "stream_ingest": {
        "event_files": 6,  # one hour of event time each
        "events_per_file": 150,
        "event_files_per_trigger": 2,  # 3 micro-batches per event path
        "users": 100,  # assumption: keys per window (state size)
        "value_mean": 50.0,  # fixture, as for query_mix
        # assumption: this share of each file's events is landed two
        # triggers later, behind the watermark Spark drops late rows by
        # (the previous batch's); the last two triggers' files have none
        "late_share": 0.05,
        "out_of_order_share": 0.2,  # assumption: events shuffled within their file
        "redelivery_share": 0.05,  # assumption: exact duplicate re-deliveries
        "corpus_docs": 300,  # bootstrap corpus (already deduplicated) of the dedup index
        "doc_files": 2,
        "docs_per_file": 40,
        "doc_files_per_trigger": 2,
        "doc_dup_share": 0.05,  # fixture's copy share: landed docs that copy a corpus doc
    },
}


def _ts_us(base: dt.datetime, seconds: np.ndarray) -> np.ndarray:
    """Naive microsecond timestamps `base + seconds`."""
    epoch_us = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return epoch_us + np.round(seconds * 1e6).astype(np.int64)


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> np.ndarray:
    """Uniform midnight timestamps (µs) in [lo, hi]."""
    lo_d = (lo - dt.date(1970, 1, 1)).days
    span = (hi - lo).days
    return (lo_d + rng.integers(0, span + 1, n)).astype(np.int64) * 86_400_000_000


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _ts_col(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _tpch(rng, d: str, scale: float) -> None:
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 200)
    n_line = n_ord * 4

    _write(f"{d}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(f"{d}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(f"{d}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(f"{d}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(f"{d}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{COLORS[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    _write(f"{d}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts_col(_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1))),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    partkey = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(f"{d}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey], 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_col(_days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))),
    })


def _zipf_keys(rng, n: int, n_keys: int, a: float) -> np.ndarray:
    """`n` keys in [0, n_keys) with Zipf(a) popularity over a random key order."""
    w = 1.0 / np.arange(1, n_keys + 1) ** a
    order = rng.permutation(n_keys)
    return order[rng.choice(n_keys, n, p=w / w.sum())].astype(np.int64)


def _values(rng, n: int, mean: float) -> np.ndarray:
    """Exponential metric values rounded to cents, as in the fixture; the
    rounding alone gives the rare zero values."""
    return np.round(rng.exponential(mean, n), 2)


def _events(rng, d: str, p: dict) -> None:
    """Poisson arrivals over 2024-01: empty and one-type 5-minute windows
    (the fallback path) follow from the event rate, as in the fixture."""
    n = p["events"]
    secs = np.sort(rng.uniform(0, MONTH_SECONDS, n))
    value = _values(rng, n, p["value_mean"])
    _write(f"{d}/events.parquet", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts_col(_ts_us(MONTH_START, secs)),
        "user_id": _zipf_keys(rng, n, p["users"], p["user_zipf_a"]),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _soup(rng, n_words: int) -> list[str]:
    return [VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words)]


def _doc_texts(rng, n: int, near_dup_share: float, hot_share: float) -> list[str]:
    """Word-soup documents of 10-100 words, as in the fixture. A share are
    near-duplicates: a copy of an earlier doc plus the word "dup" (the
    fixture's form). A share of the others carry one boilerplate phrase
    (hot, high-document-frequency shingles); those are long enough that the
    phrase alone never makes two of them near-duplicates."""
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < near_dup_share:
            words = texts[rng.integers(0, len(texts))].split() + ["dup"]
        elif rng.random() < hot_share:
            words = _soup(rng, int(rng.integers(40, 101)))
            at = int(rng.integers(0, len(words)))
            words[at:at] = BOILERPLATE
        else:
            words = _soup(rng, int(rng.integers(10, 101)))
        texts.append(" ".join(words))
    return texts


def _documents(rng, d: str, texts: list[str]) -> None:
    n = len(texts)
    _write(f"{d}/documents.parquet", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, d: str, p: dict) -> None:
    """Unit vectors with uniform labels. With no clusters they are
    isotropic and the labels carry no structure, as in the fixture;
    otherwise the label is one of `embedding_clusters` and each vector lies
    near its label's centre."""
    n, k = p["embeddings"], p["embedding_clusters"]
    vecs = rng.normal(0.0, 1.0, (n, EMB_DIM))
    label = rng.integers(0, k or p["embedding_labels"], n)
    if k:
        vecs = 0.35 * vecs + rng.normal(0.0, 1.0, (k, EMB_DIM))[label]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    _write(f"{d}/embeddings.parquet", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def _iso_ms(base: dt.datetime, sec: float) -> str:
    return (base + dt.timedelta(seconds=round(sec, 3))).isoformat(timespec="milliseconds") + "Z"


def _jsonl(path: str, rows: list[dict], order: int) -> None:
    """Write one landed file. The file source orders files by modification
    time, so each file gets its own second, in landing order."""
    with open(path, "w", encoding="utf-8") as fh:
        fh.writelines(json.dumps(r) + "\n" for r in rows)
    stamp = 1_700_000_000 + order
    os.utime(path, (stamp, stamp))


def _stream_backlog(rng, d: str, p: dict) -> None:
    """Land the streaming backlog: event JSON files in arrival order (with
    late, out-of-order and re-delivered events), a bootstrap corpus for the
    dedup index, and document JSON files, some copying corpus docs.

    Spark drops a late row only once it is behind the watermark of the
    previous micro-batch, so late events are landed two triggers after
    their own file; files of the last two triggers have no late events."""
    os.makedirs(f"{d}/landing_events")
    per_file, n_files = p["events_per_file"], p["event_files"]
    lag = 2 * p["event_files_per_trigger"]  # files between an event's own file and its late landing
    span = 3600.0  # each file covers one hour of event time
    files: list[list[dict]] = [[] for _ in range(n_files)]
    for f in range(n_files):
        secs = f * span + np.sort(rng.uniform(0, span, per_file))
        users = rng.integers(0, p["users"], per_file)
        types = rng.integers(0, 5, per_file)
        values = _values(rng, per_file, p["value_mean"])
        is_late = (rng.random(per_file) < p["late_share"]) & (f + lag < n_files)
        for i in range(per_file):
            files[f + lag if is_late[i] else f].append({
                "event_id": f * per_file + i,
                "ts": _iso_ms(STREAM_START, float(secs[i])),
                "user_id": int(users[i]),
                "event_type": EVENT_TYPES[int(types[i])],
                "value": float(values[i]),
            })
    for f, rows in enumerate(files):
        dups = [rows[i] for i in np.flatnonzero(rng.random(len(rows)) < p["redelivery_share"])]
        rows += dups
        n_shuffle = int(len(rows) * p["out_of_order_share"])
        if n_shuffle > 1:
            idx = rng.choice(len(rows), n_shuffle, replace=False)
            moved = [rows[i] for i in rng.permutation(idx)]
            for i, r in zip(idx, moved):
                rows[i] = r
        _jsonl(f"{d}/landing_events/part-{f:04d}.json", rows, f)

    corpus = _doc_texts(rng, p["corpus_docs"], 0.0, 0.0)
    _documents(rng, d, corpus)
    os.makedirs(f"{d}/landing_docs")
    doc_id = p["corpus_docs"]
    for f in range(p["doc_files"]):
        rows = []
        for _ in range(p["docs_per_file"]):
            if rng.random() < p["doc_dup_share"]:
                text = corpus[rng.integers(0, len(corpus))]
            else:
                text = " ".join(_soup(rng, int(rng.integers(10, 101))))
            rows.append({"doc_id": doc_id, "ts": _iso_ms(STREAM_START, f * 60.0), "text": text})
            doc_id += 1
        _jsonl(f"{d}/landing_docs/part-{f:04d}.json", rows, f)


def generate(workload: str, seed: int, root: str) -> str:
    """Write (or reuse) the inputs of `workload` for `seed`; return the dir."""
    d = os.path.join(root, f"{workload}-s{seed}-g{GEN_VERSION}")
    if os.path.exists(os.path.join(d, "_SUCCESS")):
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    rng = np.random.default_rng([GEN_VERSION, seed % 2**64, sorted(PROPS).index(workload)])
    p = PROPS[workload]
    if workload == "query_mix":
        _tpch(rng, d, p["scale"])
        _events(rng, d, p)
        _documents(rng, d, _doc_texts(
            rng, p["documents"], p["near_dup_share"], p["hot_shingle_share"]
        ))
        _embeddings(rng, d, p)
    else:
        _stream_backlog(rng, d, p)
    open(os.path.join(d, "_SUCCESS"), "w").close()
    return d
