"""Seeded input generator shared by the four perfbench workloads.

Every input is a pure function of ``(seed, Traffic)``: the same seed gives
byte-identical files (``test_inputs.py`` checks this).  The program under
test only ever sees the written parquet files or the in-memory frames
returned here, never the seed.

Traffic dimensions (all stated in :class:`Traffic` and echoed in every run's
report):

- key skew: user keys follow a Zipf law with exponent ``zipf_s`` over
  ``n_users`` keys; ``hot_key_share`` is the probability of the hottest key;
- event-time disorder: stream events arrive ordered by ``ts + U(0,
  disorder_ms)`` with ``disorder_ms < max_out_of_orderness_ms``, so no event
  is ever behind the watermark;
- near-duplicate rate: ``dup_rate`` of the documents are edited copies of
  another document (``edit_frac`` of their words replaced);
- store size against request batch: ``store_keys`` keys in the online store,
  ``request_batch`` keys per request;
- read/write mix: one ``put`` of ``put_rows`` rows after every
  ``reads_per_put`` requests, ``stale_put_frac`` of those rows older than
  the stored row (they must lose).
"""

from __future__ import annotations

import dataclasses
import os
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOUR_MS = 3_600_000
DAY_MS = 24 * HOUR_MS
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


@dataclasses.dataclass(frozen=True)
class Traffic:
    # key skew (train_set, stream_sliding, serve)
    n_users: int = 2_000
    zipf_s: float = 1.1
    # train_set
    n_events: int = 40_000
    n_labels: int = 4_000
    span_days: int = 14
    # stream_sliding
    stream_users: int = 50
    n_stream_events: int = 1_500
    stream_files: int = 4
    stream_span_hours: int = 48
    max_out_of_orderness_ms: int = 10 * 60_000
    disorder_ms: int = 8 * 60_000
    # curate
    n_docs: int = 1_000
    dup_rate: float = 0.1
    edit_frac: float = 0.04
    vocab: int = 20_000
    doc_words: Tuple[int, int] = (60, 160)
    # serve
    store_keys: int = 20_000
    request_batch: int = 16
    n_requests: int = 4_000
    reads_per_put: int = 4
    put_rows: int = 100
    stale_put_frac: float = 0.1

    def hot_key_share(self, n_keys: int = None) -> float:
        w = _zipf_weights(n_keys or self.n_users, self.zipf_s)
        return float(w[0])

    def describe(self) -> Dict[str, object]:
        d = dataclasses.asdict(self)
        d["hot_key_share"] = round(self.hot_key_share(), 4)
        d["serve_hot_key_share"] = round(self.hot_key_share(self.store_keys), 4)
        d["serve_reads_per_write"] = self.reads_per_put
        return d


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def _zipf_keys(rng: np.random.Generator, n_keys: int, s: float, size: int) -> np.ndarray:
    """Zipf-distributed key ids; the popularity rank -> key id mapping is a
    seeded permutation, so the hot key is not always id 0."""
    ranks = rng.choice(n_keys, size=size, p=_zipf_weights(n_keys, s))
    return rng.permutation(n_keys)[ranks].astype(np.int64)


def _write_parquet(table: pa.Table, path: str) -> None:
    # fixed writer settings: no statistics timestamps or random ids in the
    # footer, so the bytes depend on the table alone
    pq.write_table(table, path, compression="snappy", use_dictionary=False)


def _events(rng, t: Traffic, n: int, span_ms: int, n_users: int) -> Dict[str, np.ndarray]:
    return {
        "user_id": _zipf_keys(rng, n_users, t.zipf_s, n),
        "amount": rng.integers(1, 1001, size=n, dtype=np.int64),
        "ts": T0_MS + rng.integers(0, span_ms, size=n, dtype=np.int64),
    }


# -- train_set --------------------------------------------------------------
def write_train_inputs(seed: int, t: Traffic, out_dir: str) -> Dict[str, str]:
    """events.parquet (event_id, user_id, amount, ts) and labels.parquet
    (label_id, user_id, ts, label), ts in epoch milliseconds."""
    rng = np.random.default_rng([seed, 1])
    span = t.span_days * DAY_MS
    ev = _events(rng, t, t.n_events, span, t.n_users)
    events = pa.table({"event_id": np.arange(t.n_events, dtype=np.int64), **ev})
    labels = pa.table({
        "label_id": np.arange(t.n_labels, dtype=np.int64),
        "user_id": _zipf_keys(rng, t.n_users, t.zipf_s, t.n_labels),
        "ts": T0_MS + rng.integers(DAY_MS, span, size=t.n_labels, dtype=np.int64),
        "label": rng.integers(0, 2, size=t.n_labels, dtype=np.int64),
    })
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "events": os.path.join(out_dir, "events.parquet"),
        "labels": os.path.join(out_dir, "labels.parquet"),
    }
    _write_parquet(events, paths["events"])
    _write_parquet(labels, paths["labels"])
    return paths


# -- stream_sliding ---------------------------------------------------------
def write_stream_backlog(seed: int, t: Traffic, out_dir: str) -> Dict[str, object]:
    """A backlog of ``stream_files`` parquet files (event_id, user_id,
    amount, ts) in arrival order.  Arrival order is event time plus a
    bounded jitter, and file modification times increase with arrival, so
    a file-stream source reads them in that order."""
    rng = np.random.default_rng([seed, 2])
    n = t.n_stream_events
    ev = _events(rng, t, n, t.stream_span_hours * HOUR_MS, t.stream_users)
    arrival = ev["ts"] + rng.integers(0, t.disorder_ms, size=n, dtype=np.int64)
    order = np.lexsort((np.arange(n), arrival))
    table = pa.table({"event_id": np.arange(n, dtype=np.int64), **ev}).take(order)
    os.makedirs(out_dir, exist_ok=True)
    chunk = -(-n // t.stream_files)
    for i in range(t.stream_files):
        p = os.path.join(out_dir, f"part-{i:04d}.parquet")
        _write_parquet(table.slice(i * chunk, chunk), p)
        mtime = T0_MS // 1000 + 10 * i
        os.utime(p, (mtime, mtime))
    return {"dir": out_dir, "rows": n, "max_ts": int(ev["ts"].max())}


# -- curate -----------------------------------------------------------------
def _vocabulary(rng, n: int) -> List[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size=n)
    words, seen = [], set()
    for ln in lens:
        w = "".join(rng.choice(letters, size=ln))
        while w in seen:
            w += letters[rng.integers(0, 26)]
        seen.add(w)
        words.append(w)
    return words


def make_documents(seed: int, t: Traffic) -> Tuple[pa.Table, List[Tuple[int, int]]]:
    """(documents, planted_pairs).  Documents are ASCII lower-case word
    sequences; ``dup_rate`` of them are copies of a base document with
    ``edit_frac`` of the words replaced.  ``planted_pairs`` lists each
    (base doc_id, copy doc_id) with the smaller id first."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_vocabulary(rng, t.vocab), dtype=object)
    wprob = _zipf_weights(t.vocab, 1.0)
    n_dup = int(round(t.n_docs * t.dup_rate))
    n_base = t.n_docs - n_dup
    lo, hi = t.doc_words
    bodies = [
        rng.choice(t.vocab, size=int(rng.integers(lo, hi + 1)), p=wprob)
        for _ in range(n_base)
    ]
    origin = list(range(n_base))
    for _ in range(n_dup):
        src = int(rng.integers(0, n_base))
        body = bodies[src].copy()
        # a fixed number of replaced words keeps every copy above the
        # curate Jaccard threshold: k edits change at most 3k 3-grams
        k = max(1, int(round(t.edit_frac * body.size)))
        edit = rng.choice(body.size, size=k, replace=False)
        body[edit] = rng.choice(t.vocab, size=k, p=wprob)
        bodies.append(body)
        origin.append(src)
    perm = rng.permutation(t.n_docs)  # position -> doc_id
    doc_id_of = np.empty(t.n_docs, dtype=np.int64)
    doc_id_of[perm] = np.arange(t.n_docs)
    texts = [None] * t.n_docs
    for pos, body in enumerate(bodies):
        texts[doc_id_of[pos]] = " ".join(vocab[body])
    planted = sorted(
        tuple(sorted((int(doc_id_of[origin[pos]]), int(doc_id_of[pos]))))
        for pos in range(n_base, t.n_docs)
    )
    docs = pa.table({
        "doc_id": np.arange(t.n_docs, dtype=np.int64),
        "text": pa.array(texts, type=pa.string()),
    })
    return docs, planted


def write_documents(seed: int, t: Traffic, out_dir: str) -> Dict[str, object]:
    docs, planted = make_documents(seed, t)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    _write_parquet(docs, path)
    return {"path": path, "planted": planted, "texts": docs.column("text").to_pylist()}


# -- serve ------------------------------------------------------------------
@dataclasses.dataclass
class ServeScript:
    stats: "object"        # pandas frame: user_id, ts, spend_7d, n_7d
    profile: "object"      # pandas frame: user_id, ts, tier
    request_keys: np.ndarray    # (n_requests, request_batch) int64
    request_amounts: np.ndarray  # (n_requests, request_batch) int64
    puts: Dict[str, np.ndarray]  # user_stats update columns, (n_puts, put_rows)

    def put_frame(self, j: int):
        """The j-th put batch (cycling through the script) as a frame."""
        import pandas as pd

        j %= len(self.puts["user_id"])
        return pd.DataFrame({c: v[j] for c, v in self.puts.items()})


def make_serve_script(seed: int, t: Traffic) -> ServeScript:
    import pandas as pd

    rng = np.random.default_rng([seed, 4])
    k = t.store_keys
    keys = np.arange(k, dtype=np.int64)
    stats = pd.DataFrame({
        "user_id": keys,
        "ts": T0_MS + rng.integers(0, DAY_MS, size=k, dtype=np.int64),
        "spend_7d": np.round(rng.random(k) * 1000.0, 2),
        "n_7d": rng.integers(0, 50, size=k, dtype=np.int64),
    })
    profile = pd.DataFrame({
        "user_id": keys,
        "ts": np.full(k, T0_MS, dtype=np.int64),
        "tier": rng.integers(1, 6, size=k, dtype=np.int64),
    })
    shape = (t.n_requests, t.request_batch)
    req_keys = _zipf_keys(rng, k, t.zipf_s, shape[0] * shape[1]).reshape(shape)
    req_amounts = rng.integers(1, 501, size=shape, dtype=np.int64)
    n_puts, m = t.n_requests // t.reads_per_put, t.put_rows
    fresh = T0_MS + DAY_MS + np.arange(n_puts * m, dtype=np.int64).reshape(n_puts, m)
    stale = rng.random((n_puts, m)) < t.stale_put_frac
    puts = {
        "user_id": _zipf_keys(rng, k, t.zipf_s, n_puts * m).reshape(n_puts, m),
        "ts": np.where(stale, T0_MS - 1 - np.arange(m, dtype=np.int64), fresh),
        "spend_7d": np.round(rng.random((n_puts, m)) * 1000.0, 2),
        "n_7d": rng.integers(0, 50, size=(n_puts, m), dtype=np.int64),
    }
    return ServeScript(stats, profile, req_keys, req_amounts, puts)
