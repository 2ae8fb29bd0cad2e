"""Seeded input generators. graft receives only the parquet written here.

Every generator is a pure function of (seed, size): numpy's PCG64 draws
the values, so the same seed gives the same inputs.

The shapes are measured from the project's own synthetic test tables
(events.parquet and documents.parquet at sf0.01 and sf0.1, seed 42);
DATA_SHAPE below records the figures. Where a generator departs from
them on purpose, the comment at the departure says why.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

DATA_SHAPE = {
    # events: five types in equal shares; the user of each event drawn
    # uniformly (per-user counts Poisson-like: p10 56, median 66, p90 78
    # at sf0.1); timestamps in microseconds, uniform over 30 days, with
    # no same-user ties; value exponential (median 34.77, p90 114,
    # p99 228: mean about 50); props '{"k": N}', N uniform in 0..99
    "event_types": ("signup", "error", "click", "view", "purchase"),
    "events_per_user": 66.7,
    "span_days": 30,
    "value_mean": 50.0,
    # documents: 10..100 words each (uniform), drawn uniformly from a
    # 31-word vocabulary; 9.5% of docs sit in near-dup clusters (96% of
    # clusters are pairs, 4% triples); a near copy is its predecessor
    # with the word "dup" appended (97%) or an exact copy (3%), which
    # puts pair 3-shingle Jaccard at 0.89-0.99
    "doc_words": (10, 100),
    "vocabulary": 31,
    "cluster_start_p": 0.049,
    "triple_p": 0.04,
    "exact_copy_p": 0.03,
}

T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
# Same-user, same-timestamp ties, which the test tables lack: planted on
# purpose, because the examples window and both as-of joins must order
# ties by event_id, and without ties that path is never taken.
TIE_P = 0.01


def _events(rng, n_events):
    """Columns of `n_events` events in event-time order; ids follow it."""
    shape = DATA_SHAPE
    n_users = max(1, round(n_events / shape["events_per_user"]))
    span_us = shape["span_days"] * 86_400_000_000
    user = rng.integers(0, n_users, n_events)
    ts = T0_US + rng.integers(0, span_us, n_events)
    # ties: a share of events take the time of the same user's previous one
    by_user = np.lexsort((ts, user))
    u, t = user[by_user], ts[by_user]
    tie = (rng.random(n_events) < TIE_P) & np.r_[False, u[1:] == u[:-1]]
    for i in np.flatnonzero(tie):  # in order, so chains of ties collapse
        t[i] = t[i - 1]
    ts[by_user] = t
    types = len(shape["event_types"])
    etype = rng.integers(0, types, n_events).astype(np.int8)
    cents = np.round(rng.exponential(shape["value_mean"], n_events) * 100)
    k = rng.integers(0, 100, n_events)
    order = np.lexsort((rng.random(n_events), ts))  # ties in random id order
    return {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": ts[order],
        "user_id": user[order],
        "event_type": etype[order],
        "value": cents[order] / 100.0,
        "props": k[order],
    }


def _table(cols, idx=None):
    pick = (lambda a: a) if idx is None else (lambda a: a[idx])
    types = np.array(DATA_SHAPE["event_types"])
    return pa.table({
        "event_id": pa.array(pick(cols["event_id"]), pa.int64()),
        "ts": pa.array(pick(cols["ts"]), pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(pick(cols["user_id"]), pa.int64()),
        "event_type": pa.array(types[pick(cols["event_type"])], pa.string()),
        "value": pa.array(pick(cols["value"]), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in pick(cols["props"])], pa.string()),
    })


def batch_events(path, seed, n_events, files=8):
    """Backfill input: `files` parquet parts (so the scan splits across
    cores); rows within each part are shuffled, as a log shipped from
    many writers would be."""
    rng = np.random.default_rng([seed, 1])
    cols = _events(rng, n_events)
    os.makedirs(path, exist_ok=True)
    perm = rng.permutation(n_events)
    for i, part in enumerate(np.array_split(perm, files)):
        pq.write_table(_table(cols, part), f"{path}/part-{i:03d}.parquet")
    return n_events


def stream_events(path, seed, n_events, files, jitter_us):
    """Streaming input: `files` parquet files of equal row count whose
    modification times rise in arrival order, so a file source with
    maxFilesPerTrigger=1 reads them in that order.

    Each event arrives up to `jitter_us` after its event time, keeping
    its user's order, as from writers that each own a share of the
    users: events of different users cross file boundaries out of event
    time order, never by more than `jitter_us`, and a user's events
    arrive in event-time order (the per-key order StreamingFlagship's
    contract requires). With a watermark delay above `jitter_us`, no
    event is late. Rows inside a file are shuffled."""
    rng = np.random.default_rng([seed, 2])
    cols = _events(rng, n_events)
    arrival = cols["ts"] + rng.integers(0, jitter_us, n_events)
    by_user = np.lexsort((cols["event_id"], cols["user_id"]))
    u, a = cols["user_id"][by_user], arrival[by_user]
    start = np.r_[True, u[1:] != u[:-1]]
    group = np.cumsum(start) - 1
    # running maximum within each user's run, in event order
    shift = (group * (a.max() - a.min() + 1)).astype(np.int64)
    arrival[by_user] = np.maximum.accumulate(a - a.min() + shift) - shift + a.min()
    order = np.lexsort((cols["event_id"], arrival))
    os.makedirs(path, exist_ok=True)
    mtime0 = 1_700_000_000
    for i, part in enumerate(np.array_split(order, files)):
        f = f"{path}/ev-{i:04d}.parquet"
        pq.write_table(_table(cols, rng.permutation(part)), f)
        os.utime(f, (mtime0 + i, mtime0 + i))
    return n_events


def pit(path, seed, batch, stream):
    """Inputs of the pit workload: `batch` events for the backfill and a
    separate, smaller `stream` of files in arrival order."""
    return (batch_events(f"{path}/batch", seed, **batch)
            + stream_events(f"{path}/stream", seed, **stream))


def _words(rng, n):
    """`n` distinct lowercase words of 1-8 letters, none of them "dup"."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters, int(rng.integers(1, 9)))))
        out.discard("dup")
    return np.array(sorted(out))


def corpus(path, seed, n_docs, dim=64):
    """Near-dup corpus: `documents` (doc_id, text) shaped as DATA_SHAPE
    records, and `vectors` (doc_id, v): gaussian in `dim` dimensions,
    like the test tables' embeddings. The test embeddings hold no
    near-duplicate pair (their highest pair cosine is 0.6), so SRP would
    emit nothing to verify; here, on purpose, each near copy's vector is
    its predecessor's plus small noise (cosine about 0.99)."""
    shape = DATA_SHAPE
    rng = np.random.default_rng([seed, 3])
    plain = _words(rng, shape["vocabulary"] - 1)  # and "dup"
    lo, hi = shape["doc_words"]
    texts, vecs = [], []
    while len(texts) < n_docs:
        words = list(rng.choice(plain, int(rng.integers(lo, hi + 1))))
        vec = rng.standard_normal(dim)
        members = 1
        if rng.random() < shape["cluster_start_p"]:
            members = 3 if rng.random() < shape["triple_p"] else 2
        for m in range(members):
            if m and rng.random() >= shape["exact_copy_p"]:
                words = words + ["dup"]
            texts.append(" ".join(words))
            vecs.append(vec if m == 0 else vecs[-1] + 0.1 * rng.standard_normal(dim))
    texts, vecs = texts[:n_docs], np.array(vecs[:n_docs])
    ids = rng.permutation(n_docs).astype(np.int64)  # clusters not id-contiguous
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({"doc_id": ids, "text": texts}),
                   f"{path}/documents.parquet")
    pq.write_table(pa.table({
        "doc_id": ids,
        "v": pa.array(list(vecs), pa.list_(pa.float64())),
    }), f"{path}/vectors.parquet")
    return n_docs


REGISTRY_TABLES = os.path.join(HERE, "tables")


def registry(path, seed):
    """The registry queries' tables: the project's sf0.01 test tables that
    graftbench.RegistryQueries reads, kept in perfbench/tables, with
    their rows in an order drawn from the seed. Values stay as they are,
    so each query's DuckDB oracle holds; the row order, which no query
    may depend on, changes with the seed."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(path, exist_ok=True)
    rows = 0
    for f in sorted(os.listdir(REGISTRY_TABLES)):
        tab = pq.read_table(os.path.join(REGISTRY_TABLES, f))
        pq.write_table(tab.take(rng.permutation(tab.num_rows)), os.path.join(path, f))
        rows += tab.num_rows
    return rows


def neardup_registry(path, seed, docs):
    """Inputs of the neardup_registry workload: the near-dup corpus and
    the registry queries' tables."""
    return corpus(f"{path}/corpus", seed, **docs) + registry(f"{path}/tables", seed)
