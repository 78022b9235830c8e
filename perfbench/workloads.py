"""The four user paths of the feature store that perfbench drives, and the
workloads built from them (:data:`WORKLOADS`).

Each path is driven through the public API only and exposes:

- ``prepare(data_dir)``: generate its seeded inputs and build descriptors;
- ``warm_up()``: one untimed step's worth of work (JIT, Python workers);
- ``step()``: one timed unit of work, returning a list of :class:`Op`;
- ``settle(last)``: untimed clean-up after a step (cache release), keeping
  the output of the last step for the check;
- ``check()``: output checks on the last step's output, returning failures.

Op kinds: ``iteration`` (train_set, curate), ``drain`` and ``batch``
(stream_sliding), ``read`` and ``write`` (serve).
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import time
from datetime import timedelta
from typing import Dict, List, Optional

import numpy as np

import inputs

HOUR = timedelta(hours=1)


@dataclasses.dataclass
class Op:
    kind: str
    seconds: float
    rows: int = 0
    ok: bool = True
    step: int = -1
    path: str = ""
    progress: Optional[List[dict]] = None  # drains: the per-batch progress


def _release(spark) -> None:
    """Cold start for the next iteration: drop every tracked intermediate
    and the SQL cache."""
    from feathub_spark.common import caching

    caching.release_caches()
    spark.catalog.clearCache()


# -- shared feature-view descriptors ----------------------------------------
def events_source(name: str, path: str, traffic: inputs.Traffic, props=None):
    from feathub_spark import FileSystemSource, Int64, Schema

    schema = (
        Schema.new_builder()
        .column("event_id", Int64)
        .column("user_id", Int64)
        .column("amount", Int64)
        .column("ts", Int64)
        .build()
    )
    return FileSystemSource(
        name=name,
        path=path,
        data_format="parquet",
        schema=schema,
        keys=["user_id"],
        timestamp_field="ts",
        timestamp_format="epoch_millis",
        max_out_of_orderness=timedelta(milliseconds=traffic.max_out_of_orderness_ms),
        data_format_props=dict(props or {}),
    )


def sliding_view(name: str, source):
    """The multi-size sliding view shared by train_set and stream_sliding:
    a 1 h SUM and a 1 d COUNT per user, emitted every hour, with the
    default empty-window output and skip-same-output semantics."""
    from feathub_spark import Feature, SlidingFeatureView
    from feathub_spark.feature_views.transforms import SlidingWindowTransform

    def agg(expr, func, size):
        return SlidingWindowTransform(
            expr, func, window_size=size, step_size=HOUR, group_by_keys=["user_id"]
        )

    return SlidingFeatureView(
        name=name,
        source=source,
        features=[
            Feature("amount_sum_1h", transform=agg("amount", "SUM", HOUR)),
            Feature("event_cnt_1d", transform=agg("amount", "COUNT", timedelta(days=1))),
        ],
    )


def over_view(name: str, source):
    from feathub_spark import DerivedFeatureView, Feature
    from feathub_spark.feature_views.transforms import OverWindowTransform

    return DerivedFeatureView(
        name=name,
        source=source,
        features=[
            Feature("amount_max_7d", transform=OverWindowTransform(
                "amount", "MAX", window_size=timedelta(days=7), group_by_keys=["user_id"])),
            Feature("amount_cum_sum", transform=OverWindowTransform(
                "amount", "SUM", group_by_keys=["user_id"])),
        ],
    )


TRAIN_FEATURES = ["amount_sum_1h", "event_cnt_1d", "amount_max_7d", "amount_cum_sum"]


def _norm_int(v):
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return None
    return int(v)


# -- train_set ----------------------------------------------------------------
class TrainSet:
    """Point-in-time-correct training set: labels as-of joined onto a sliding
    view and an over-window view of the events, written to a black hole."""

    name = "train_set"
    primary = "iteration"
    uses_spark = True

    def __init__(self, spark, seed: int, traffic: inputs.Traffic) -> None:
        self.spark, self.seed, self.t = spark, seed, traffic

    def prepare(self, data_dir: str) -> None:
        self.paths = inputs.write_train_inputs(self.seed, self.t, data_dir)
        self.verify_dir = os.path.join(data_dir, "verify_out")
        self.warm_ups = 0

    def _pipeline(self, sink=None):
        from feathub_spark import BlackHoleSink, DerivedFeatureView, FeathubClient, FileSystemSource, Int64, Schema

        client = FeathubClient(self.spark)
        events = events_source("events", self.paths["events"], self.t)
        labels = FileSystemSource(
            name="labels",
            path=self.paths["labels"],
            data_format="parquet",
            schema=Schema.new_builder().column("label_id", Int64).column("user_id", Int64)
            .column("ts", Int64).column("label", Int64).build(),
            keys=["user_id"],
            timestamp_field="ts",
            timestamp_format="epoch_millis",
        )
        train = DerivedFeatureView(
            name="train_set",
            source=labels,
            features=["user_sliding." + f for f in TRAIN_FEATURES[:2]]
            + ["user_over." + f for f in TRAIN_FEATURES[2:]],
            keep_source_fields=True,
        )
        client.build_features([
            events, labels, sliding_view("user_sliding", events),
            over_view("user_over", events), train,
        ])
        client.get_features(train).execute_insert(sink or BlackHoleSink())

    def warm_up(self) -> None:
        """The first warm-up run writes parquet files, which check() compares
        with the DuckDB oracle (re-running the pipeline after the timed steps
        would cost a whole iteration per run); timed runs run the same plan
        into a black hole."""
        from feathub_spark import FileSystemSink

        self.warm_ups += 1
        self._pipeline(FileSystemSink(self.verify_dir, "parquet") if self.warm_ups == 1 else None)
        _release(self.spark)

    def step(self) -> List[Op]:
        t0 = time.perf_counter()
        self._pipeline()
        return [Op("iteration", time.perf_counter() - t0, self.t.n_events)]

    def settle(self, last: bool) -> None:
        _release(self.spark)

    def check(self) -> List[str]:
        got = self.spark.read.parquet(self.verify_dir).toPandas()
        want = train_set_oracle(self.paths)
        cols = ["label_id", "user_id", "ts", "label"] + TRAIN_FEATURES

        def rows(df):
            df = df[cols].sort_values("label_id")
            return [tuple(_norm_int(v) for v in r) for r in df.itertuples(index=False)]

        g, w = rows(got), rows(want)
        if digest(g) == digest(w):
            return []
        bad = sum(1 for a, b in zip(g, w) if a != b) + abs(len(g) - len(w))
        return [f"train_set: {bad} of {len(w)} rows differ from the DuckDB oracle"]


def digest(rows) -> str:
    import hashlib

    return hashlib.sha256(repr(rows).encode()).hexdigest()


def train_set_oracle(paths: Dict[str, str]):
    """DuckDB replay of the training set: RANGE windows for the over view,
    the hourly step window ending at or before each label for the sliding
    view (NULL before the user's first emission, 0 for empty windows after
    it), and ASOF joins for point-in-time correctness."""
    import duckdb

    h, d = inputs.HOUR_MS, inputs.DAY_MS
    sql = f"""
    WITH ov AS (
      SELECT user_id, ts,
        MAX(amount) OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN {7 * d} PRECEDING AND CURRENT ROW) AS amount_max_7d,
        SUM(amount) OVER (PARTITION BY user_id ORDER BY ts
                          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS amount_cum_sum
      FROM events),
    lw AS (SELECT label_id, user_id, ts, label, ((ts + 1) // {h}) * {h} AS wend FROM labels),
    fe AS (SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id),
    win AS (
      SELECT lw.label_id,
             SUM(CASE WHEN e.ts >= lw.wend - {h} THEN e.amount ELSE 0 END) AS s1h,
             COUNT(*) AS c1d
      FROM lw JOIN events e
        ON e.user_id = lw.user_id AND e.ts >= lw.wend - {d} AND e.ts < lw.wend
      GROUP BY lw.label_id),
    pit AS (
      SELECT lw.label_id, ov.amount_max_7d, ov.amount_cum_sum
      FROM lw ASOF LEFT JOIN ov ON lw.user_id = ov.user_id AND lw.ts >= ov.ts)
    SELECT lw.label_id, lw.user_id, lw.ts, lw.label,
           CASE WHEN fe.first_ts < lw.wend THEN coalesce(win.s1h, 0) END AS amount_sum_1h,
           CASE WHEN fe.first_ts < lw.wend THEN coalesce(win.c1d, 0) END AS event_cnt_1d,
           pit.amount_max_7d, pit.amount_cum_sum
    FROM lw LEFT JOIN fe USING (user_id) LEFT JOIN win USING (label_id)
         LEFT JOIN pit USING (label_id)
    """
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{paths['events']}')")
        con.execute(f"CREATE VIEW labels AS SELECT * FROM read_parquet('{paths['labels']}')")
        return con.execute(sql).df()
    finally:
        con.close()


# -- curate -------------------------------------------------------------------
JACCARD_THRESHOLD = 0.5
NGRAM = 3


class Curate:
    """LLM-corpus curation: normalize -> analyze -> near-duplicate pairs ->
    survivor selection -> black-hole write."""

    name = "curate"
    primary = "iteration"
    uses_spark = True

    def __init__(self, spark, seed: int, traffic: inputs.Traffic) -> None:
        self.spark, self.seed, self.t = spark, seed, traffic
        self.result = None

    def prepare(self, data_dir: str) -> None:
        self.docs = inputs.write_documents(self.seed, self.t, data_dir)

    def _pipeline(self):
        from pyspark.sql import functions as F

        from feathub_spark import BlackHoleSink, Table
        from feathub_spark.datapipe import dedup, text

        docs = self.spark.read.parquet(self.docs["path"])
        normed = text.normalize_text(docs, "text")
        normed = normed.withColumn("text", F.col("norm_text")).drop("norm_text")
        featured = text.analyze_documents(normed)
        pairs = dedup.ngram_jaccard_pairs(
            featured, "text", "doc_id", n=NGRAM, threshold=JACCARD_THRESHOLD
        )
        survivors = dedup.select_survivors(featured, pairs, "doc_id", "n_chars_calc")
        Table(survivors, None, None).execute_insert(BlackHoleSink())
        return pairs, survivors

    def warm_up(self) -> None:
        self._pipeline()
        _release(self.spark)

    def step(self) -> List[Op]:
        t0 = time.perf_counter()
        self.output = self._pipeline()
        return [Op("iteration", time.perf_counter() - t0, self.t.n_docs)]

    def settle(self, last: bool) -> None:
        if last:
            # collected before the release: checkpointed intermediates
            # cannot be recomputed afterwards
            pairs, survivors = self.output
            self.result = (
                [tuple(r) for r in pairs.collect()],
                [tuple(r) for r in survivors.collect()],
            )
        _release(self.spark)

    def check(self) -> List[str]:
        pairs, survivors = self.result
        return curate_failures(self.docs["texts"], self.docs["planted"], pairs, survivors)


def _grams(text: str, n: int) -> set:
    toks = text.split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str, n: int = NGRAM) -> float:
    ga, gb = _grams(a, n), _grams(b, n)
    inter = len(ga & gb)
    return inter / (len(ga) + len(gb) - inter)


def curate_failures(texts, planted, pairs, survivors) -> List[str]:
    out = []
    found = {(a, b) for a, b, _ in pairs}
    missed = [p for p in planted if p not in found]
    if missed:
        out.append(f"curate: recall {1 - len(missed) / len(planted):.4f} on "
                   f"{len(planted)} planted pairs (missed e.g. {missed[:3]})")
    bad = [
        (a, b, j) for a, b, j in pairs
        if abs(round(jaccard(texts[a], texts[b]), 6) - j) > 1e-6 or j < JACCARD_THRESHOLD
    ]
    if bad:
        out.append(f"curate: {len(bad)} of {len(pairs)} reported pairs fail the "
                   f"recomputed Jaccard >= {JACCARD_THRESHOLD} (e.g. {bad[:3]})")
    # one survivor per connected component of the pair graph
    parent = list(range(len(texts)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        parent[find(a)] = find(b)
    components = len({find(x) for x in range(len(texts))})
    kept = sum(1 for _, _, keep in survivors if keep == 1)
    if len(survivors) != len(texts) or kept != components:
        out.append(f"curate: {kept} survivors over {len(survivors)} rows, "
                   f"expected {components} over {len(texts)}")
    return out


# -- stream_sliding -------------------------------------------------------------
class StreamSliding:
    """The train_set sliding view started as a stream over a pre-written
    backlog (one file per trigger) and drained into a black hole."""

    name = "stream_sliding"
    primary = "batch"
    uses_spark = True

    def __init__(self, spark, seed: int, traffic: inputs.Traffic) -> None:
        self.spark, self.seed, self.t = spark, seed, traffic
        self.drains = 0

    def prepare(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.backlog = inputs.write_stream_backlog(
            self.seed, self.t, os.path.join(data_dir, "backlog")
        )

    def _view(self, name: str):
        from feathub_spark import FeathubClient

        client = FeathubClient(self.spark)
        src = events_source(
            name + "_events", self.backlog["dir"], self.t, {"maxFilesPerTrigger": "1"}
        )
        view = sliding_view(name, src)
        client.build_features([src, view])
        return client, view

    def drain(self, sink) -> List[dict]:
        """Start the view as a stream on a fresh checkpoint, process the whole
        backlog, stop, and return the per-batch progress records."""
        client, view = self._view("user_sliding_stream")
        self.drains += 1
        ckpt = os.path.join(self.data_dir, f"ckpt-{self.drains}")
        query = client.processor.materialize_stream(view, sink, checkpoint_dir=ckpt)
        try:
            query.processAllAvailable()
        finally:
            query.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
        return [json.loads(p.json) for p in query.recentProgress]

    def warm_up(self) -> None:
        """The warm-up drain writes parquet files, which check() compares
        with the batch compile; timed drains must emit as many rows."""
        from feathub_spark import FileSystemSink

        self.verify_dir = os.path.join(self.data_dir, "verify_out")
        self.verify_progress = self.drain(FileSystemSink(self.verify_dir, "parquet"))
        self.verified_rows = self.spark.read.parquet(self.verify_dir).count()

    def settle(self, last: bool) -> None:
        pass

    def step(self) -> List[Op]:
        from feathub_spark import BlackHoleSink

        t0 = time.perf_counter()
        progress = self.drain(BlackHoleSink())
        wall = time.perf_counter() - t0
        rows_in = sum(p["numInputRows"] for p in progress)
        rows_out = sum(p["sink"]["numOutputRows"] for p in progress)
        ok = rows_in == self.backlog["rows"] and rows_out == self.verified_rows
        ops = [Op("drain", wall, rows_in, ok, progress=progress)]
        ops += [
            Op("batch", p["durationMs"]["triggerExecution"] / 1000.0, p["numInputRows"])
            for p in progress
        ]
        return ops

    def check(self) -> List[str]:
        """Compare the warm-up drain's output with the batch compile of the
        same view, restricted to the windows closed by the final watermark."""
        streamed = self.spark.read.parquet(self.verify_dir).toPandas()
        client, view = self._view("user_sliding_batch")
        batch = client.get_features(view).to_pandas()
        watermark = self.backlog["max_ts"] - self.t.max_out_of_orderness_ms - 1
        batch = batch[batch["window_time"] < watermark]
        cols = ["user_id", "window_time", "amount_sum_1h", "event_cnt_1d"]

        def rows(df):
            return sorted(tuple(_norm_int(v) for v in r) for r in df[cols].itertuples(index=False))

        s, b = rows(streamed), rows(batch)
        out = []
        if s != b:
            out.append(f"stream_sliding: {len(set(s) ^ set(b))} rows differ between "
                       f"{len(s)} streamed and {len(b)} batch windows")
        dropped = sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in self.verify_progress for so in p["stateOperators"]
        )
        if dropped:
            out.append(f"stream_sliding: {dropped} rows dropped as late")
        return out


# -- serve ------------------------------------------------------------------------
class Serve:
    """One closed-loop client: on-demand feature requests (two online-store
    lookups, two expression features) with a small put batch after every
    ``reads_per_put`` requests."""

    name = "serve"
    primary = "read"
    uses_spark = False

    def __init__(self, spark, seed: int, traffic: inputs.Traffic) -> None:
        self.spark, self.seed, self.t = spark, seed, traffic
        self.failures: List[str] = []

    def prepare(self, data_dir: str) -> None:
        from feathub_spark import Feature, Int64, LocalFeatureService, MemoryOnlineStore, OnDemandFeatureView, Schema

        self.script = inputs.make_serve_script(self.seed, self.t)
        self.store = MemoryOnlineStore()
        self.store.put("user_stats", self.script.stats, ["user_id"], "ts")
        self.store.put("user_profile", self.script.profile, ["user_id"], "ts")
        self.service = LocalFeatureService(self.store)
        self.view = OnDemandFeatureView(
            name="serve_view",
            features=[
                "user_stats.spend_7d",
                "user_profile.tier",
                Feature("amount_x_tier", transform="amount * tier", dtype=Int64),
                Feature("spend_plus_amount", transform="spend_7d + amount"),
            ],
            request_schema=Schema.new_builder().column("user_id", Int64).column("amount", Int64).build(),
        )
        # dict replay of the put sequence, indexed by the dense key ids
        self.model_ts = self.script.stats["ts"].to_numpy().copy()
        self.model_spend = self.script.stats["spend_7d"].to_numpy().copy()
        self.tier = self.script.profile["tier"].to_numpy()
        self.cursor = 0

    def _request(self, i: int):
        import pandas as pd

        n = len(self.script.request_keys)
        req = pd.DataFrame({
            "user_id": self.script.request_keys[i % n],
            "amount": self.script.request_amounts[i % n],
        })
        t0 = time.perf_counter()
        resp = self.service.get_online_features(req, self.view)
        return req, resp, time.perf_counter() - t0

    def _put(self, j: int) -> float:
        rows = self.script.put_frame(j)
        t0 = time.perf_counter()
        self.store.put("user_stats", rows, ["user_id"], "ts")
        dt = time.perf_counter() - t0
        for k, ts, spend in zip(rows["user_id"], rows["ts"], rows["spend_7d"]):
            if ts >= self.model_ts[k]:
                self.model_ts[k], self.model_spend[k] = ts, spend
        return dt

    def _verify(self, req, resp) -> bool:
        keys = req["user_id"].to_numpy()
        amount = req["amount"].to_numpy()
        spend, tier = self.model_spend[keys], self.tier[keys]
        try:
            ok = (
                len(resp) == len(req)
                and np.array_equal(resp["user_id"].to_numpy(), keys)
                and np.allclose(resp["spend_7d"].to_numpy(dtype=float), spend, rtol=0, atol=1e-9)
                and np.array_equal(resp["tier"].to_numpy(dtype=np.int64), tier)
                and np.array_equal(resp["amount_x_tier"].to_numpy(dtype=np.int64), amount * tier)
                and np.allclose(resp["spend_plus_amount"].to_numpy(dtype=float), spend + amount,
                                rtol=0, atol=1e-9)
            )
        except (KeyError, ValueError, TypeError) as e:
            ok = False
            self.failures.append(f"serve: malformed response ({e!r})")
        return bool(ok)

    def warm_up(self) -> None:
        for i in range(50):
            self._request(i)

    def settle(self, last: bool) -> None:
        pass

    def step(self) -> List[Op]:
        ops = []
        for _ in range(self.t.reads_per_put):
            req, resp, dt = self._request(self.cursor)
            self.cursor += 1
            ok = self._verify(req, resp)
            if not ok and len(self.failures) < 5:
                self.failures.append(f"serve: request {self.cursor - 1} differs from the put replay")
            ops.append(Op("read", dt, len(req), ok))
        ops.append(Op("write", self._put(self.cursor // self.t.reads_per_put - 1), self.t.put_rows))
        return ops

    def check(self) -> List[str]:
        return self.failures


# workload name -> the user paths one step runs, in order.  ``pipelines`` runs
# the three Spark paths back to back in one process, so the JVM start and the
# cold first runs are paid once for all three.
WORKLOADS = {w.name: (w,) for w in (TrainSet, Curate, StreamSliding, Serve)}
WORKLOADS["pipelines"] = (TrainSet, Curate, StreamSliding)
