"""Online store, on-demand serving, memory sink/source round trip, Python
UDF, SqlFeatureView, DataGen, and metric compilation."""

import sqlite3
import sys
import threading
import time

import duckdb
import numpy as np
import pandas as pd
import pytest

from feathub_spark import (
    DataGenSource,
    DerivedFeatureView,
    Feature,
    LocalFeatureService,
    MemoryOnlineStore,
    MemoryStoreSink,
    MemoryStoreSource,
    OnDemandFeatureView,
    Schema,
    SequenceField,
    SqlFeatureView,
)
from feathub_spark.common import types as t
from feathub_spark.feature_views.transforms import PythonUdfTransform

from tests.fixtures import write_f1_source


@pytest.fixture(autouse=True)
def fresh_store():
    MemoryOnlineStore.reset()
    yield
    MemoryOnlineStore.reset()


def test_memory_store_roundtrip_and_serving(client, tmp_path):
    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="serve_view",
        source=source,
        features=[Feature("total", transform="cost + distance", keys=["name"])],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    client.materialize_features(view, MemoryStoreSink(table_name="purchases_online"))

    store = MemoryOnlineStore.get_instance()
    # latest row per key kept
    got = store.get("purchases_online", pd.DataFrame({"name": ["Alex", "Emma", "Jack"]}))
    assert got["cost"].tolist() == [600, 200, 500]

    # on-demand view: store lookup + request-time expression
    odv = OnDemandFeatureView(
        name="odv",
        features=[
            "purchases_online.total",
            Feature("total_with_fee", transform="total + fee"),
        ],
        request_schema=Schema(["name", "fee"], [t.String, t.Int64]),
    )
    service = LocalFeatureService()
    request = pd.DataFrame({"name": ["Alex", "Jack"], "fee": [10, 20]})
    result = service.get_online_features(request, odv)
    assert result["total"].tolist() == [1400, 1000]
    assert result["total_with_fee"].tolist() == [1410, 1020]

    # memory store source back into a Spark job
    ms_source = MemoryStoreSource(
        name="purchases_from_store", keys=["name"], table_name="purchases_online"
    )
    view2 = DerivedFeatureView(
        name="from_store_view",
        source=ms_source,
        features=[Feature("double_total", transform="total * 2")],
        keep_source_fields=True,
    )
    client.build_features([ms_source, view2])
    df = client.get_features(view2).to_pandas()
    # latest totals: Alex 1400, Emma 450, Jack 1000
    assert sorted(df["double_total"].tolist()) == [900, 2000, 2800]


def test_python_udf(client, tmp_path):
    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="udf_view_t",
        source=source,
        features=[
            Feature(
                "name_len",
                transform=PythonUdfTransform(lambda row: len(row["name"])),
                dtype=t.Int64,
            ),
            Feature(
                "safe_div",
                transform=PythonUdfTransform(
                    lambda row: row["cost"] / 0,
                    fail_on_exception=False,
                    value_on_exception=-1,
                ),
                dtype=t.Int64,
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    df = client.get_features(view).to_pandas()
    assert df["name_len"].tolist() == [4, 4, 4, 4, 4, 4]
    assert df["safe_div"].tolist() == [-1] * 6


def test_sql_feature_view(client, tmp_path):
    source = write_f1_source(tmp_path)
    base = DerivedFeatureView(
        name="sql_base",
        source=source,
        features=[Feature("total", transform="cost + distance")],
        keep_source_fields=True,
    )
    client.build_features([source, base])
    client.get_features(base)  # registers temp view
    sql_view = SqlFeatureView(
        name="sql_agg",
        sql_statement="SELECT name, SUM(total) AS sum_total FROM sql_base GROUP BY name",
        schema=Schema(["name", "sum_total"], [t.String, t.Int64]),
        keys=["name"],
    )
    client.build_features([sql_view])
    df = client.get_features(sql_view).to_pandas().sort_values("name")
    assert df["sum_total"].tolist() == [2100, 1100, 1000]


def test_datagen_source(client):
    gen = DataGenSource(
        name="gen_t",
        schema=Schema(["id", "noise"], [t.Int64, t.Float64]),
        field_configs={"id": SequenceField(10, 19)},
        keys=["id"],
    )
    view = DerivedFeatureView(
        name="gen_view_t",
        source=gen,
        features=[Feature("id2", transform="id * id")],
        keep_source_fields=True,
    )
    client.build_features([gen, view])
    df = client.get_features(view).to_pandas()
    assert df["id"].tolist() == list(range(10, 20))
    assert df["id2"].tolist() == [i * i for i in range(10, 20)]
    assert df["noise"].notna().all()


def test_metrics_compile(client, tmp_path):
    from datetime import timedelta

    from feathub_spark.metric_stores.metric import Average, Count, Ratio

    source = write_f1_source(tmp_path)
    view = DerivedFeatureView(
        name="metric_base",
        source=source,
        features=[Feature("total", transform="cost + distance")],
        keep_source_fields=True,
    )
    client.build_features([source, view])

    from feathub_spark.metric_stores.metric_store import MetricStore

    store = MetricStore(sink=None)
    metric_view = store.build_metric_view(
        view,
        {
            "total": [
                Count("> 400", window_size=timedelta(days=10)),
                Average(window_size=timedelta(days=10)),
                Ratio("> 1000", window_size=timedelta(days=10)),
            ]
        },
    )
    built = client.build_features([metric_view])[0]
    df = client.get_features(built).to_pandas()
    # one 10-day tumbling window covers all 6 rows
    row = df.iloc[0]
    # totals: [200, 650, 500, 450, 1000, 1400] → 5 exceed 400
    assert row["total_count"] == 5
    assert row["total_average"] == pytest.approx(
        (200 + 650 + 500 + 450 + 1000 + 1400) / 6
    )
    assert row["total_ratio"] == pytest.approx(1 / 6)  # only 1400 > 1000


def test_metric_piggyback_on_materialize(spark, tmp_path):
    """Feature(metrics=[...]) + FeathubClient(metric_store=...): the metric
    view is written to the metric sink in the same materialize call."""
    from datetime import timedelta

    from feathub_spark import FeathubClient, MemoryStoreSink
    from feathub_spark.metric_stores.metric import Average, Count
    from feathub_spark.metric_stores.metric_store import MetricStore

    client = FeathubClient(
        spark, metric_store=MetricStore(sink=MemoryStoreSink("metrics_out"))
    )
    source = write_f1_source(tmp_path, name="metric_pig_src")
    view = DerivedFeatureView(
        name="metric_pig_view",
        source=source,
        features=[
            Feature(
                "total",
                transform="cost + distance",
                metrics=[
                    Count("> 400", window_size=timedelta(days=10)),
                    Average(window_size=timedelta(days=10)),
                ],
            ),
        ],
        keep_source_fields=True,
    )
    client.build_features([source, view])
    client.materialize_features(view, MemoryStoreSink("features_out"))

    store = MemoryOnlineStore.get_instance()
    assert "features_out" in store.all_tables()
    assert "metrics_out" in store.all_tables()
    metrics = store._tables["metrics_out"]
    assert metrics.iloc[0]["total_count"] == 5
    assert metrics.iloc[0]["total_average"] == pytest.approx(4200 / 6)


# -- online stores -------------------------------------------------------------


def test_memory_store_get_stored_value_wins_on_name_overlap():
    """A looked-up feature name colliding with a request column must not
    vanish into pandas _x/_y suffixes — the stored value wins, matching
    SqlOnlineStore/RedisOnlineStore dict-overwrite semantics."""
    import pandas as pd

    from feathub_spark.online_stores.memory_online_store import MemoryOnlineStore

    store = MemoryOnlineStore()
    store.put("t", pd.DataFrame({"k": [1], "score": [9.0]}), key_fields=["k"])
    got = store.get("t", pd.DataFrame({"k": [1], "score": [0.5]}))
    assert list(got.columns) == ["k", "score"]
    assert got["score"].tolist() == [9.0]


def test_memory_store_keyless_get_raises_clearly():
    import pandas as pd
    import pytest

    from feathub_spark.common.exceptions import FeathubError
    from feathub_spark.online_stores.memory_online_store import MemoryOnlineStore

    store = MemoryOnlineStore()
    store.put("m", pd.DataFrame({"v": [1.0]}), key_fields=[])
    with pytest.raises(FeathubError):
        store.get("m", pd.DataFrame({"v": [1.0]}))


def test_sql_store_string_timestamps_keep_max_wins(tmp_path):
    """String timestamp fields must still give max-timestamp-wins (not
    silent last-write-wins), matching MemoryOnlineStore."""
    import pandas as pd

    from feathub_spark.online_stores.sql_online_store import SqlOnlineStore

    db = str(tmp_path / "ts.db")
    store = SqlOnlineStore(lambda: sqlite3.connect(db))
    store.put(
        "t",
        pd.DataFrame({"k": [1], "ts": ["2024-01-05 00:00:00"], "f": [5.0]}),
        key_fields=["k"],
        timestamp_field="ts",
    )
    # an OLDER row arriving later must not overwrite
    store.put(
        "t",
        pd.DataFrame({"k": [1], "ts": ["2024-01-02 00:00:00"], "f": [2.0]}),
        key_fields=["k"],
        timestamp_field="ts",
    )
    got = store.get("t", pd.DataFrame({"k": [1]}))
    assert got["f"].tolist() == [5.0]
    store.close()


class TestNullTimestampUpsert:
    """A row with no event time must never beat a timestamped one
    (found by round-12 review: pandas sorts NaN last, so a NULL-ts row
    won MemoryOnlineStore's keep='last' dedupe; SqlOnlineStore's
    ts-comparison guard was False for None/NaN and overwrote too)."""

    def test_memory_store_null_ts_never_wins(self):
        import pandas as pd

        from feathub_spark.online_stores.memory_online_store import (
            MemoryOnlineStore,
        )

        s = MemoryOnlineStore()
        s.put("t", pd.DataFrame({"k": [1], "v": [10.0], "ts": [100.0]}),
              ["k"], "ts")
        s.put("t", pd.DataFrame({"k": [1], "v": [99.0],
                                 "ts": [float("nan")]}), ["k"], "ts")
        got = s.get("t", pd.DataFrame({"k": [1]}))
        assert got["v"].tolist() == [10.0]
        # but a LATER timestamped row still wins
        s.put("t", pd.DataFrame({"k": [1], "v": [11.0], "ts": [200.0]}),
              ["k"], "ts")
        assert s.get("t", pd.DataFrame({"k": [1]}))["v"].tolist() == [11.0]

    def test_memory_store_both_untimestamped_last_wins(self):
        import pandas as pd

        from feathub_spark.online_stores.memory_online_store import (
            MemoryOnlineStore,
        )

        s = MemoryOnlineStore()
        s.put("t", pd.DataFrame({"k": [1], "v": [1.0],
                                 "ts": [float("nan")]}), ["k"], "ts")
        s.put("t", pd.DataFrame({"k": [1], "v": [2.0],
                                 "ts": [float("nan")]}), ["k"], "ts")
        assert s.get("t", pd.DataFrame({"k": [1]}))["v"].tolist() == [2.0]


class TestStoreParityRandomized:
    def test_memory_and_sql_store_agree_on_random_put_sequences(self):
        """Property: for any sequence of keyed puts with (possibly NULL)
        timestamps, MemoryOnlineStore and SqlOnlineStore serve the same
        latest row per key."""
        import random
        import sqlite3

        import pandas as pd

        from feathub_spark.online_stores.memory_online_store import (
            MemoryOnlineStore,
        )
        from feathub_spark.online_stores.sql_online_store import SqlOnlineStore

        rng = random.Random(42)
        for trial in range(20):
            mem = MemoryOnlineStore()
            sql = SqlOnlineStore(
                lambda: sqlite3.connect(":memory:"),
                table_name=f"t_{trial}",
            )
            n_puts = rng.randint(1, 6)
            for _ in range(n_puts):
                n_rows = rng.randint(1, 5)
                rows = {
                    "k": [rng.randint(1, 3) for _ in range(n_rows)],
                    "v": [round(rng.uniform(0, 100), 3) for _ in range(n_rows)],
                    "ts": [
                        rng.choice([float("nan"), float(rng.randint(0, 50))])
                        for _ in range(n_rows)
                    ],
                }
                df = pd.DataFrame(rows)
                mem.put("tbl", df, ["k"], "ts")
                sql.put("tbl", df, ["k"], "ts")
            req = pd.DataFrame({"k": [1, 2, 3]})
            got_mem = mem.get("tbl", req).set_index("k")["v"]
            got_sql = sql.get("tbl", req).set_index("k")["v"]
            for k in (1, 2, 3):
                a, b = got_mem.get(k), got_sql.get(k)
                both_nan = pd.isna(a) and pd.isna(b)
                assert both_nan or a == b, (
                    f"trial {trial}: key {k} memory={a} sql={b}"
                )


# -- on-demand serving ---------------------------------------------------------


class TestServingBacktickLiteral:
    def test_backtick_inside_literal_survives(self):
        import pandas as pd

        from feathub_spark import Feature, OnDemandFeatureView, Schema
        from feathub_spark.common import types as t
        from feathub_spark.feature_service.local_feature_service import (
            LocalFeatureService,
            _backticks_to_ansi,
        )

        assert _backticks_to_ansi("CONCAT(`name`, 'x`y')") == (
            'CONCAT("name", \'x`y\')'
        )
        view = OnDemandFeatureView(
            name="od_bt",
            features=[Feature("tagged", transform="CONCAT(name, 'x`y')")],
            request_schema=Schema(["name"], [t.String]),
        )
        svc = LocalFeatureService()
        got = svc.get_online_features(pd.DataFrame({"name": ["a"]}), view)
        assert got["tagged"].tolist() == ["ax`y"]


class TestBackticksToAnsi:
    def test_backslash_escaped_quote_becomes_doubled(self):
        from feathub_spark.feature_service.local_feature_service import (
            _backticks_to_ansi,
        )

        # ast.py emits \' — after the literal ends, backticks must still
        # convert (the old scanner desynced at the escaped quote)
        out = _backticks_to_ansi("CONCAT('it\\'s', `name`)")
        assert out == 'CONCAT(\'it\'\'s\', "name")'

    def test_backslash_backslash_collapses(self):
        from feathub_spark.feature_service.local_feature_service import (
            _backticks_to_ansi,
        )

        assert _backticks_to_ansi("'a\\\\b'") == "'a\\b'"

    def test_backtick_inside_literal_untouched(self):
        from feathub_spark.feature_service.local_feature_service import (
            _backticks_to_ansi,
        )

        assert _backticks_to_ansi("CONCAT(`name`, 'x`y')") == (
            'CONCAT("name", \'x`y\')'
        )

    def test_doubled_quote_style_still_scans(self):
        from feathub_spark.feature_service.local_feature_service import (
            _backticks_to_ansi,
        )

        assert _backticks_to_ansi("'it''s' || `c`") == "'it''s' || \"c\""

    def test_duckdb_parses_rewritten_escape(self):
        from feathub_spark.dsl.parser import to_spark_sql
        from feathub_spark.feature_service.local_feature_service import (
            _backticks_to_ansi,
        )

        # end-to-end: the DSL literal goes through ast.py's backslash
        # escaping, then the serving bridge, then a real DuckDB parse
        spark_sql = to_spark_sql("CONCAT(`name`, 'it''s')")
        assert "\\'" in spark_sql  # precondition: generator emits \'
        ansi = _backticks_to_ansi(spark_sql)
        got = duckdb.sql(
            f"SELECT {ansi} AS v FROM (SELECT 'x' AS name)"
        ).fetchone()[0]
        assert got == "xit's"

    def test_serving_path_literal_with_quote(self):
        from feathub_spark import Feature, OnDemandFeatureView, Schema
        from feathub_spark.common import types as t
        from feathub_spark.feature_service.local_feature_service import (
            LocalFeatureService,
        )

        view = OnDemandFeatureView(
            name="r13_quote_view",
            features=[Feature("tagged", transform="CONCAT(`name`, 'it''s')")],
            request_schema=Schema(["name"], [t.String]),
        )
        svc = LocalFeatureService()
        out = svc.get_online_features(pd.DataFrame({"name": ["a"]}), view)
        assert out["tagged"].tolist() == ["ait's"]


def _store_with_two_column_key():
    store = MemoryOnlineStore()
    store.put(
        "stats",
        pd.DataFrame({
            "region": ["eu", "eu", "us", "us"],
            "uid": [1, 2, 1, 2],
            "tier": [3, 4, 5, 6],
            "ts": [10, 10, 10, 10],
        }),
        ["region", "uid"],
        "ts",
    )
    return store


def test_on_demand_expressions_and_udf_keep_feature_order():
    """A later expression sees an earlier expression and a UDF placed
    between two expressions sees the one before it and is seen by the one
    after it; the service's output has the lookup, then every feature in
    declaration order."""
    view = OnDemandFeatureView(
        name="odv_chain",
        features=[
            "stats.tier",
            Feature("x", transform="amount * 2"),
            Feature("y", transform="x + tier"),
            Feature("u", transform=PythonUdfTransform(lambda row: row["y"] * 10)),
            Feature("z", transform="u - x"),
        ],
        request_schema=Schema(["region", "uid", "amount"], [t.String, t.Int64, t.Int64]),
    )
    service = LocalFeatureService(_store_with_two_column_key())
    request = pd.DataFrame({"region": ["us", "eu"], "uid": [2, 1], "amount": [1, 5]})
    got = service.get_online_features(request, view)
    assert list(got.columns) == ["region", "uid", "amount", "tier", "x", "y", "u", "z"]
    assert got["tier"].tolist() == [6, 3]
    assert got["x"].tolist() == [2, 10]
    assert got["y"].tolist() == [8, 13]
    assert got["u"].tolist() == [80, 130]
    assert got["z"].tolist() == [78, 120]
    # same name, different expression: the compiled statement follows the
    # features, not the view's name
    view2 = OnDemandFeatureView(
        name="odv_chain",
        features=["stats.tier", Feature("x", transform="amount * 3")],
        request_schema=view.request_schema,
    )
    assert service.get_online_features(request, view2)["x"].tolist() == [3, 15]


def test_on_demand_missing_and_duplicate_keys_on_two_column_key():
    """Left-join semantics through the key index: request order and
    duplicate keys kept, a missing (region, uid) pair reads NULL with the
    int column upcast to float64 (as a pandas left merge does), and
    keep_source_fields=False keeps only request columns and features."""
    service = LocalFeatureService(_store_with_two_column_key())
    request = pd.DataFrame({
        "region": ["us", "eu", "us", "ap", "eu"],
        "uid": [2, 1, 2, 1, 3],
        "amount": [1, 2, 3, 4, 5],
        "note": ["a", "b", "c", "d", "e"],
    })
    for keep in (True, False):
        view = OnDemandFeatureView(
            name="odv_missing",
            features=["stats.tier", Feature("tier_plus", transform="tier + amount")],
            request_schema=Schema(
                ["region", "uid", "amount", "note"], [t.String, t.Int64, t.Int64, t.String]
            ),
            keep_source_fields=keep,
        )
        got = service.get_online_features(request, view)
        assert list(got.columns) == ["region", "uid", "amount", "note", "tier", "tier_plus"]
        assert got["region"].tolist() == request["region"].tolist()
        assert got["uid"].tolist() == request["uid"].tolist()
        assert got["tier"].dtype == np.float64
        assert got["tier"].tolist()[:3] == [6.0, 3.0, 6.0]
        assert got["tier"].isna().tolist() == [False, False, False, True, True]
        assert got["tier_plus"].tolist()[:3] == [7.0, 5.0, 9.0]
        assert got["tier_plus"].isna().tolist() == [False, False, False, True, True]


def test_on_demand_feature_name_with_double_quote():
    """A feature name is quoted as an SQL identifier with embedded double
    quotes doubled, and a later feature can reference it by backticks."""
    view = OnDemandFeatureView(
        name="odv_quote",
        features=[
            Feature('a"b', transform="amount + 1"),
            Feature("c", transform='`a"b` * 2'),
        ],
        request_schema=Schema(["amount"], [t.Int64]),
    )
    got = LocalFeatureService(MemoryOnlineStore()).get_online_features(
        pd.DataFrame({"amount": [1, 2]}), view
    )
    assert list(got.columns) == ["amount", 'a"b', "c"]
    assert got['a"b'].tolist() == [2, 3]
    assert got["c"].tolist() == [4, 6]


def test_on_demand_concurrent_requests_match_dict_replay():
    """Threads sharing one service and one store each get their own DuckDB
    cursor: every response equals a dict replay of the store, so no
    thread ever reads another thread's request frame."""
    n_keys, n_threads, n_requests = 500, 4, 50
    rng = np.random.default_rng(7)
    spend = rng.random(n_keys).round(3)
    tier = rng.integers(0, 9, n_keys)
    store = MemoryOnlineStore()
    store.put("stats", pd.DataFrame({"user_id": np.arange(n_keys), "spend": spend}), ["user_id"])
    store.put("profile", pd.DataFrame({"user_id": np.arange(n_keys), "tier": tier}), ["user_id"])
    view = OnDemandFeatureView(
        name="odv_threads",
        features=[
            "stats.spend",
            "profile.tier",
            Feature("amount_x_tier", transform="amount * tier"),
            Feature("spend_plus_amount", transform="spend + amount"),
        ],
        request_schema=Schema(["user_id", "amount"], [t.Int64, t.Int64]),
    )
    service = LocalFeatureService(store)
    replay = {k: (spend[k], tier[k]) for k in range(n_keys)}
    start = threading.Barrier(n_threads)
    errors, cursors = [], []

    def client(seed):
        local = np.random.default_rng(seed)
        cursors.append(service._cursor())
        start.wait()
        if len({id(c) for c in cursors}) != n_threads:
            errors.append((seed, "threads share a cursor"))
            return
        for _ in range(n_requests):
            keys = local.integers(0, n_keys, 1 + int(local.integers(0, 16)))
            amount = local.integers(0, 1000, len(keys))
            try:
                got = service.get_online_features(
                    pd.DataFrame({"user_id": keys, "amount": amount}), view
                )
            except Exception as e:  # recorded: a thread's exception is lost
                errors.append((seed, repr(e)))
                return
            want_spend = [replay[k][0] for k in keys]
            want_tier = [replay[k][1] for k in keys]
            if not (
                got["user_id"].tolist() == keys.tolist()
                and got["spend"].tolist() == want_spend
                and got["tier"].tolist() == want_tier
                and got["amount_x_tier"].tolist() == (amount * want_tier).tolist()
                and np.allclose(got["spend_plus_amount"], np.add(want_spend, amount))
            ):
                errors.append((seed, keys.tolist()))

    threads = [threading.Thread(target=client, args=(s,)) for s in range(n_threads)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often, inside each request too
    try:
        for th in threads:
            th.start()
        deadline = time.monotonic() + 120
        for th in threads:
            th.join(timeout=max(0.0, deadline - time.monotonic()))
    finally:
        sys.setswitchinterval(switch)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
