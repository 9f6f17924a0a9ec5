"""Seeded input generator for the graft benchmark.

Writes, under one output directory:

  documents.parquet   doc_id, text, lang, source, n_chars
  events.parquet      event_id, ts, user_id, event_type, value, props
  stream/NNNNN.parquet  event-time-ordered event files for stream appends
  params.json         the seeded gateway variant parameters

The schemas are the ones the catalogue's `documents` and `events` tables
have (TESTDATA.md), so the library reads them through the same loaders.
The same seed always yields byte-identical inputs.
"""
import datetime
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
T0 = datetime.datetime(2024, 1, 1)

# Table sizes per workload (README "Inputs").
SIZES = {
    "dashboard_gateway": {"docs": 1000, "events": 50_000},
    "stream_events": {"docs": 0, "events": 0},
}
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.02
STREAM_EVENTS_PER_FILE = 500
STREAM_MEAN_GAP_S = 2.4  # ~20 minutes of event time per 500-event file
N_USERS = 1500


def documents(rng, n):
    """`n` documents over a 30-word vocabulary, 10-100 words each. An
    `EXACT_DUP_SHARE` of them repeat an earlier document with its first
    word upper-cased (equal after the exact-dedup normalisation); a
    `NEAR_DUP_SHARE` copy an earlier document with its last word
    replaced and a `dup` marker appended (near-duplicates at Jaccard
    well above 0.5)."""
    texts = []
    for i in range(n):
        u = rng.random()
        if i > 20 and u < EXACT_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split(" ")
            texts.append(" ".join([words[0].upper()] + words[1:]))
        elif i > 20 and u < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split(" ")
            words = [w for w in words if w != "dup"]
            words[-1] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, 30, k)))
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng, n, first_id, start_us, mean_gap_s):
    """`n` events in strictly increasing event time from `start_us`
    (microseconds since the epoch); returns (table, last ts)."""
    gaps = np.maximum(1, (rng.exponential(mean_gap_s, n) * 1e6)
                      .astype(np.int64))
    ts = start_us + np.cumsum(gaps)
    tbl = pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n,
                                       dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
        "event_type": pa.array(
            [EVENT_TYPES[j] for j in rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
        "props": pa.array(
            ['{"k": %d}' % k for k in rng.integers(0, 100, n)], pa.string()),
    })
    return tbl, int(ts[-1])


def epoch_us(d):
    return int((d - datetime.datetime(1970, 1, 1)).total_seconds() * 1e6)


def gateway_params(rng, n_variants=600, n_fits=200):
    """Seeded variant literals. Every variant filters its table with
    `only !(<key> % m = r)`; distinct (shape, m, r) triples give distinct
    lineage keys, so a variant's first GET never hits a cache."""
    shapes = ["velocity", "group_mean", "pivot", "mttr"]
    seen, variants = set(), []
    while len(variants) < n_variants:
        s = shapes[int(rng.integers(0, 4))]
        m = int(rng.integers(50, 400))
        r = int(rng.integers(0, m))
        if (s, m, r) not in seen:
            seen.add((s, m, r))
            variants.append({"shape": s, "m": m, "r": r})
    seen, fits = set(), []
    while len(fits) < n_fits:
        m = int(rng.integers(20, 200))
        r = int(rng.integers(0, m))
        if (m, r) not in seen:
            seen.add((m, r))
            fits.append({"shape": "dedup_unigram", "m": m, "r": r})
    return {"variants": variants, "fits": fits,
            "schedule_seed": int(rng.integers(0, 2**31 - 1))}


def write(table, path):
    # one row group per ~64k rows, like a writer with default settings
    pq.write_table(table, path, row_group_size=65536)


def generate(workload, seed, out, seconds):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 0x6AF7])
    size = SIZES[workload]
    if size["docs"]:
        write(documents(rng, size["docs"]), f"{out}/documents.parquet")
    if size["events"]:
        tbl, _ = events(rng, size["events"], 0, epoch_us(T0),
                        30 * 86400 / size["events"])
        write(tbl, f"{out}/events.parquet")
    if workload == "dashboard_gateway":
        with open(f"{out}/params.json", "w") as f:
            json.dump(gateway_params(rng), f)
    if workload == "stream_events":
        # enough files for the warm-up plus the fastest plausible run
        n_files = 40 + 12 * max(seconds, 10)
        os.makedirs(f"{out}/stream", exist_ok=True)
        last, first_id = epoch_us(T0), 0
        for i in range(n_files):
            tbl, last = events(rng, STREAM_EVENTS_PER_FILE, first_id, last,
                               STREAM_MEAN_GAP_S)
            first_id += STREAM_EVENTS_PER_FILE
            write(tbl, f"{out}/stream/{i:05d}.parquet")
