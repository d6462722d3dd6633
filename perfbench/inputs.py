"""Seeded input generators for the workloads and their parts.

Everything here is plain NumPy/pyarrow: the engine only ever sees the
files these functions write, and the same seed always gives the same
bytes of data (row content and order), so a run can be replayed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1704067200_000000  # 2024-01-01T00:00:00Z
DAY_US = 86400_000000
TS_TYPE = pa.timestamp("us", tz="UTC")  # TIMESTAMP(MICROS, UTC): the file stream rejects nanos
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])

# query: the sf0.1 events shape (100k rows, 1500 stations, 30 days)
QUERY_ROWS = 100_000
QUERY_STATIONS = 1500
QUERY_DAYS = 30
QUERY_POOL = 4000  # requests drawn per run; a run uses a prefix
# Requests take the four request types of the query service in turn
# (equal weight: the reference records no client mix). Each draws a
# station's popularity rank from a Zipf skew, a dashboard window ending
# at the table's last reading and a bucket width. A request repeats, and
# so hits the result cache, only when these draws coincide; `latest` has
# no parameters, so it hits after its first call. The draws come from
# QUERY_SHAPE_SEED, so every run asks for the same mix with the same
# repeats; the run's seed picks the data and which station holds each
# rank. Per-seed draws made the hit share vary 0.17-0.30 between seeds,
# and request latency with it.
QUERY_SHAPE_SEED = 0
QUERY_KINDS = ("raw", "aggregate", "timeseries", "latest")
QUERY_WINDOW_DAYS = (1, 7)
QUERY_INTERVALS = ("15 minutes", "1 hour", "1 day")
QUERY_PAGE = 50
ZIPF_S = 1.1

# ingest: one micro-batch per file, ~20% verbatim redeliveries
INGEST_FRESH = 1000
INGEST_REDELIVER = 250
INGEST_FILE_STEP_US = 6 * 3600_000000  # file k centres near T0 + k * 6 h
INGEST_DISORDER_US = 2 * DAY_US  # well inside the engine's 30-day watermark
INGEST_STATIONS = 1500
INGEST_MAX_FILES = 999  # keeps ids, hence ts tags, below 10^6

# table_rw: one versioned table, CDC batches of inserts/updates/deletes
TABLE_ROWS = 20_000
TABLE_DAYS = 10
TABLE_STATIONS = 200
CDC_INSERTS = 200
CDC_UPDATES = 150
CDC_DELETES = 50

# near_dup: planted near-duplicate documents and near-neighbour vectors
DOCS = 600
DOC_VOCAB = 2000
DOC_PLANTED = 60
EMBS = 200
EMB_DIM = 64
EMB_PLANTED = 20
EMB_NOISE = 0.25  # planted neighbour cosine ~0.97, far above the 0.45 threshold
EMB_CLIP = 0.6  # the engine's fixed-point dot products assume |x| <= 0.6


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def events_table(rng: np.random.Generator, n: int, stations: int, days: int,
                 first_id: int = 0) -> pa.Table:
    """`n` event rows with distinct ids; `ts` uniform over `days` days."""
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(T0_US + rng.integers(0, days * DAY_US, n), TS_TYPE),
        "user_id": rng.integers(0, stations, n).astype(np.int64),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": np.round(rng.random(n) * 100.0, 2),
    })


# ---------------------------------------------------------------- query

def write_query_inputs(seed: int, sf_dir: str) -> None:
    """events.parquet in the shape `QueryAPI` and the testdata share."""
    rng = np.random.default_rng([seed, 1])
    t = events_table(rng, QUERY_ROWS, QUERY_STATIONS, QUERY_DAYS)
    props = pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, QUERY_ROWS)])
    _write(t.append_column("props", props), os.path.join(sf_dir, "events.parquet"))


def zipf_ranks(rng: np.random.Generator, n_items: int, size: int, s: float = ZIPF_S) -> np.ndarray:
    """`size` draws of item ranks 0..n_items-1 with P(rank r) ~ 1/(r+1)^s."""
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=w / w.sum())


def query_requests(seed: int, n: int = QUERY_POOL) -> list[dict]:
    """The request sequence of one run; see QUERY_KINDS."""
    shape = np.random.default_rng(QUERY_SHAPE_SEED)
    ranks = zipf_ranks(shape, QUERY_STATIONS, n)
    windows = shape.integers(0, len(QUERY_WINDOW_DAYS), n)
    intervals = shape.integers(0, len(QUERY_INTERVALS), n)
    stations = np.random.default_rng([seed, 2]).permutation(QUERY_STATIONS)[ranks]
    end_us = T0_US + QUERY_DAYS * DAY_US
    out: list[dict] = []
    for i in range(n):
        req = {"kind": QUERY_KINDS[i % len(QUERY_KINDS)]}
        if req["kind"] != "latest":
            req.update(station=int(stations[i]), end_us=end_us,
                       start_us=end_us - QUERY_WINDOW_DAYS[windows[i]] * DAY_US)
        if req["kind"] == "raw":
            req.update(limit=QUERY_PAGE, offset=0)
        elif req["kind"] == "timeseries":
            req["interval"] = QUERY_INTERVALS[intervals[i]]
        out.append(req)
    return out


# --------------------------------------------------------------- ingest

class IngestFeed:
    """The consumer's backlog as one parquet file per micro-batch.

    File k holds INGEST_FRESH new readings timed around T0 + k * 6 h
    (out of order by up to two days) plus INGEST_REDELIVER verbatim
    copies of readings from the previous three files. The (user_id, ts)
    key of every fresh reading is unique, so a redelivery is exactly a
    repeated key. Files get strictly increasing mtimes, so the file
    stream replays them in write order.
    """

    def __init__(self, seed: int, feed_dir: str) -> None:
        self.rng = np.random.default_rng([seed, 3])
        self.feed_dir = feed_dir
        self.files = 0
        self.recent: list[pa.Table] = []
        os.makedirs(feed_dir, exist_ok=True)

    def fresh(self, k: int) -> pa.Table:
        rng, n = self.rng, INGEST_FRESH
        ids = np.arange(k * n, (k + 1) * n, dtype=np.int64)
        centre = T0_US + k * INGEST_FILE_STEP_US
        secs = rng.integers(-INGEST_DISORDER_US, INGEST_DISORDER_US, n) // 1_000_000
        # whole seconds plus a microsecond tag from the id: no two fresh
        # readings share a (user_id, ts) key while ids stay below 10^6
        ts = np.maximum(centre + secs * 1_000_000, T0_US) + ids % 1_000_000
        return pa.table({
            "event_id": ids,
            "ts": pa.array(ts, TS_TYPE),
            "user_id": rng.integers(0, INGEST_STATIONS, n).astype(np.int64),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": np.round(rng.random(n) * 100.0, 2),
        })

    def write_next(self) -> str:
        k = self.files
        if k >= INGEST_MAX_FILES:
            raise RuntimeError("ingest feed exhausted")
        fresh = self.fresh(k)
        parts = [fresh]
        if self.recent:
            pool = pa.concat_tables(self.recent)
            pick = self.rng.choice(pool.num_rows, size=INGEST_REDELIVER, replace=False)
            parts.append(pool.take(pa.array(np.sort(pick))))
        t = pa.concat_tables(parts)
        path = os.path.join(self.feed_dir, f"part-{k:05d}.parquet")
        tmp = os.path.join(os.path.dirname(self.feed_dir), f".tmp-{k:05d}.parquet")
        pq.write_table(t, tmp)
        stamp = 1_600_000_000_000_000_000 + k * 1_000_000_000
        os.utime(tmp, ns=(stamp, stamp))
        os.replace(tmp, path)  # the stream never lists a half-written file
        self.recent = (self.recent + [fresh])[-3:]
        self.files += 1
        return path


# ------------------------------------------------------------- table_rw

def table_rw_initial(seed: int) -> pa.Table:
    return events_table(np.random.default_rng([seed, 4]), TABLE_ROWS, TABLE_STATIONS, TABLE_DAYS)


def cdc_batch(rng: np.random.Generator, live_ids: np.ndarray, next_id: int) -> pa.Table:
    """One CDC batch over the live key set: inserts of new ids, update
    postimages and deletes of distinct live ids (MERGE cardinality holds)."""
    picked = rng.choice(live_ids, size=CDC_UPDATES + CDC_DELETES, replace=False)
    upd, dele = picked[:CDC_UPDATES], picked[CDC_UPDATES:]
    ins = events_table(rng, CDC_INSERTS, TABLE_STATIONS, TABLE_DAYS, first_id=next_id)
    upd_t = events_table(rng, CDC_UPDATES, TABLE_STATIONS, TABLE_DAYS)
    upd_t = upd_t.set_column(0, "event_id", pa.array(upd.astype(np.int64)))
    del_t = events_table(rng, CDC_DELETES, TABLE_STATIONS, TABLE_DAYS)
    del_t = del_t.set_column(0, "event_id", pa.array(dele.astype(np.int64)))
    kinds = (["insert"] * CDC_INSERTS + ["update_postimage"] * CDC_UPDATES
             + ["delete"] * CDC_DELETES)
    t = pa.concat_tables([ins, upd_t, del_t])
    return t.append_column("_change_type", pa.array(kinds))


# ------------------------------------------------------------- near_dup

def _mutate(rng: np.random.Generator, words: list[str]) -> list[str]:
    out = list(words)
    for _ in range(int(rng.integers(1, 4))):
        out[int(rng.integers(0, len(out)))] = f"x{int(rng.integers(0, DOC_VOCAB))}"
    return out


def write_near_dup_inputs(seed: int, sf_dir: str) -> dict:
    """documents.parquet and embeddings.parquet with planted pairs.

    Each planted document copies an earlier original with one to three
    words replaced; each planted vector is a small perturbation of an
    earlier original. The copy always has the larger id, so a
    keep-the-smallest-id dedup must drop exactly the copy. Returns the
    planted (original, copy) id pairs.
    """
    rng = np.random.default_rng([seed, 5])
    vocab = np.array([f"w{i}" for i in range(DOC_VOCAB)])
    copy_ids = set(rng.choice(np.arange(DOCS // 2, DOCS), DOC_PLANTED, replace=False).tolist())
    docs: list[list[str]] = []
    originals: list[int] = []
    doc_pairs = []
    for doc_id in range(DOCS):
        if doc_id in copy_ids:
            src = originals[int(rng.integers(0, len(originals)))]
            docs.append(_mutate(rng, docs[src]))
            doc_pairs.append((src, doc_id))
        else:
            docs.append(list(vocab[rng.integers(0, DOC_VOCAB, int(rng.integers(30, 80)))]))
            originals.append(doc_id)
    text = [" ".join(w) for w in docs]
    _write(pa.table({
        "doc_id": np.arange(DOCS, dtype=np.int64),
        "text": text,
        "lang": pa.array(np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, DOCS)]),
        "source": [f"src{i % 20}" for i in range(DOCS)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }), os.path.join(sf_dir, "documents.parquet"))

    emb = rng.standard_normal((EMBS, EMB_DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    emb_pairs = []
    copies = np.sort(rng.choice(np.arange(EMBS // 2, EMBS), EMB_PLANTED, replace=False))
    copy_set = set(copies.tolist())
    for c in copies:
        src = int(rng.integers(0, c))
        while src in copy_set:
            src = int(rng.integers(0, c))
        v = emb[src] + EMB_NOISE * rng.standard_normal(EMB_DIM) / np.sqrt(EMB_DIM)
        emb[c] = v / np.linalg.norm(v)
        emb_pairs.append((src, int(c)))
    emb = np.clip(emb, -EMB_CLIP, EMB_CLIP).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(EMBS, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, EMBS).astype(np.int32),
    }), os.path.join(sf_dir, "embeddings.parquet"))
    return {"doc_pairs": doc_pairs, "emb_pairs": emb_pairs}

