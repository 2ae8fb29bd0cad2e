"""Engine-independent references and exact re-verification.

pit outputs are compared by digest against a DuckDB ASOF JOIN over the
same parquet; near-dup outputs are re-verified pair by pair from the
corpus text and vectors, with no graft code involved; registry outputs
are compared row by row with each query's DuckDB oracle.
"""
import collections
import datetime
import decimal
import hashlib
import math
import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq


def canon(v):
    """Canonical text of one value, as graftbench.Digest.canonValue
    writes it."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return str(math.floor(v * 1e6 + 0.5))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, decimal.Decimal):
        return format(v, "f")
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def digest(rows):
    """Order-independent "count:sum" digest of rows of canonical texts:
    each row adds the first 60 bits of the md5 of its '|'-joined text."""
    total, n = 0, 0
    for r in rows:
        h = hashlib.md5("|".join(r).encode()).hexdigest()
        total += int(h[:15], 16)
        n += 1
    return f"{n}:{total}"


# Columns in name order: the order graftbench.Digest hashes them in.
PIT_SQL = """
WITH ev AS (SELECT * FROM read_parquet('{glob}')),
ex AS (
  SELECT user_id AS e, ts AS pt, ts + INTERVAL 1 HOUR AS lt
  FROM (SELECT user_id, ts,
               count(CASE WHEN event_type = 'error' THEN 1 END)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS streak
        FROM ev)
  WHERE streak = 2),
feat AS (
  SELECT DISTINCT user_id, ts,
         sum(CAST(round(value * 100) AS BIGINT)) OVER (
           PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS err_cents
  FROM ev WHERE event_type = 'error'),
lab AS (
  SELECT DISTINCT user_id, ts,
         count(*) OVER (
           PARTITION BY user_id ORDER BY ts
           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchases
  FROM ev WHERE event_type = 'purchase'),
j1 AS (
  SELECT ex.*, f.err_cents FROM ex
  ASOF LEFT JOIN feat f ON ex.e = f.user_id AND ex.pt >= f.ts),
j2 AS (
  SELECT j1.*, l.purchases FROM j1
  ASOF LEFT JOIN lab l ON j1.e = l.user_id AND j1.lt >= l.ts)
SELECT e, epoch_us(lt), epoch_us(pt), err_cents, purchases FROM j2
{where}
"""


def pit_reference(glob, delay_ms=None):
    """Digest of the training examples over the events in `glob`. With
    `delay_ms`, only the examples a drained stream with that watermark
    delay emits: those whose label time the final watermark has reached.
    Spark keeps the watermark in milliseconds, max event time less the
    delay; StreamingFlagship emits labels <= watermark."""
    where = ""
    if delay_ms is not None:
        where = ("WHERE epoch_us(lt) <= (SELECT (epoch_us(max(ts)) // 1000 - %d) * 1000"
                 " FROM read_parquet('%s'))" % (delay_ms, glob))
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    rows = con.execute(PIT_SQL.format(glob=glob, where=where)).fetchall()
    return digest([canon(x) for x in r] for r in rows)


def registry_wrong(tables_dir, columns, rows, sql):
    """Rows in which a query's output and its DuckDB oracle over the
    tables in `tables_dir` (one view per parquet file) differ (empty: equal as multisets), with columns matched by
    name, as the project's oracle comparison does. A query without an
    oracle is checked only for agreement across iterations."""
    if sql is None:
        return []
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 2")
    for f in sorted(os.listdir(tables_dir)):
        con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS "
                    f"SELECT * FROM read_parquet('{tables_dir}/{f}')")
    res = con.execute(sql)
    names = [d[0] for d in res.description]
    if sorted(names) != list(columns):
        return [("columns", sorted(names), list(columns))]
    order = sorted(range(len(names)), key=lambda i: names[i])
    want = collections.Counter(
        tuple(canon(r[i]) for i in order) for r in res.fetchall())
    got = collections.Counter(tuple(r) for r in rows)
    return ([("missing",) + r for r in (want - got)]
            + [("extra",) + r for r in (got - want)])


# ---- near-dup re-verification -------------------------------------------

def _shingles(text, n=3):
    w = text.split(" ")
    return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}


def _winnow(text, k=8, w=4):
    s = "".join(re.findall("[a-z0-9]+", text.lower()))
    h = [int.from_bytes(hashlib.md5(s[i:i + k].encode()).digest()[:4], "big")
         for i in range(len(s) - k + 1)]
    return {min(h[i:i + w]) for i in range(len(h) - w + 1)}


def _jaccard(a, b):
    return len(a & b) / len(a | b)


class Corpus:
    def __init__(self, path):
        d = pq.read_table(f"{path}/documents.parquet").to_pydict()
        self.text = dict(zip(d["doc_id"], d["text"]))
        v = pq.read_table(f"{path}/vectors.parquet").to_pydict()
        self.vec = {i: np.array(x) for i, x in zip(v["doc_id"], v["v"])}
        self._sh, self._fp = {}, {}

    def sh(self, i):
        if i not in self._sh:
            self._sh[i] = _shingles(self.text[i])
        return self._sh[i]

    def fp(self, i):
        if i not in self._fp:
            self._fp[i] = _winnow(self.text[i])
        return self._fp[i]

    def cos(self, a, b):
        x, y = self.vec[a], self.vec[b]
        return float(x @ y / math.sqrt((x @ x) * (y @ y)))


def _close(reported, exact):
    return abs(int(reported) - math.floor(exact * 1e6 + 0.5)) <= 1


def verify_pairs(op, columns, rows, corpus):
    """Wrong rows of one operator's output (empty: precision 1). Each pair
    must meet its threshold exactly and report its own similarity."""
    col = {c: i for i, c in enumerate(columns)}
    bad = []
    if op == "clusters":
        return _verify_clusters(col, rows, corpus)
    for r in rows:
        a, b = int(r[col["doc_a"]]), int(r[col["doc_b"]])
        if op == "minhash":
            exact, ok_min, score = _jaccard(corpus.sh(a), corpus.sh(b)), 0.7, r[col["jaccard"]]
        elif op == "srp":
            exact, ok_min, score = corpus.cos(a, b), 0.8, r[col["sim"]]
        elif op == "winnow":
            fa, fb = corpus.fp(a), corpus.fp(b)
            exact = len(fa & fb) / min(len(fa), len(fb))
            ok_min, score = 0.7, r[col["overlap"]]
        elif op == "containment":
            sa, sb = corpus.sh(a), corpus.sh(b)
            exact = len(sa & sb) / len(sa)
            ok_min, score = 0.8, r[col["containment"]]
        else:
            raise ValueError(op)
        if a == b or exact < ok_min - 1e-12 or not _close(score, exact):
            bad.append((a, b, score, exact))
    return bad


def _verify_clusters(col, rows, corpus):
    """Each emitted cluster must be connected by exact Jaccard >= 0.7
    edges among its own members, contain its root, and keep one doc."""
    members, kept = {}, {}
    for r in rows:
        root = int(r[col["cluster_root"]])
        members.setdefault(root, []).append(int(r[col["doc_id"]]))
        kept[root] = kept.get(root, 0) + (r[col["keep"]] == "true")
    bad = [(root, "keeps %d" % k) for root, k in kept.items() if k != 1]
    for root, docs in members.items():
        seen, todo = {docs[0]}, [docs[0]]
        while todo:
            a = todo.pop()
            for b in docs:
                if b not in seen and _jaccard(corpus.sh(a), corpus.sh(b)) >= 0.7:
                    seen.add(b)
                    todo.append(b)
        if len(seen) != len(docs) or root not in docs:
            bad.append((root, sorted(docs)))
    return bad
