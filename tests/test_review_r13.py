"""Round-13 review fixes (ADVICE.md r12): partition-layout-preserving
compact_files, case-insensitive JDBC bounds probe, legacy checkpoint
migration, and null-safe streaming as-of tie encoding."""

import json
import os

import pytest


class TestCompactFilesPartitioned:
    def test_hive_layout_preserved(self, spark, tmp_path):
        from feathub_spark.datapipe.layout import compact_files

        src = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(i, f"{i % 2:02d}", float(i)) for i in range(200)],
            "id bigint, day string, v double",
        )
        # many small files per partition: 8 shuffle partitions x 2 values
        df.repartition(8).write.partitionBy("day").parquet(src)
        before_dirs = sorted(
            d for d in os.listdir(src) if d.startswith("day=")
        )
        assert before_dirs == ["day=00", "day=01"]  # zero-padded on disk

        stats = compact_files(spark, src, target_mb=256)
        after_dirs = sorted(d for d in os.listdir(src) if d.startswith("day="))
        # the layout survives AND the values keep their exact on-disk
        # spelling (inference would have coerced day=01 -> day=1)
        assert after_dirs == ["day=00", "day=01"]
        assert stats["partition_columns"] == ["day"]
        assert stats["files_after"] < stats["files_before"]

        # read back with inference off to see the on-disk strings (a
        # default read applies Spark's OWN value inference — that's
        # reader semantics, not the compactor's; the directory layout
        # above is what the compactor must not destroy)
        key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = spark.conf.get(key)
        spark.conf.set(key, "false")
        try:
            back = spark.read.parquet(src)
            assert back.count() == 200
            assert sorted(
                r["day"] for r in back.select("day").distinct().collect()
            ) == ["00", "01"]
            # pruning still works on the compacted table
            assert back.filter("day = '01'").count() == 100
        finally:
            spark.conf.set(key, prev)

    def test_flat_layout_unchanged_behavior(self, spark, tmp_path):
        from feathub_spark.datapipe.layout import compact_files

        src = str(tmp_path / "flat")
        spark.range(100).repartition(10).write.parquet(src)
        stats = compact_files(spark, src, target_mb=256)
        assert stats["partition_columns"] == []
        assert stats["files_after"] < stats["files_before"]
        assert spark.read.parquet(src).count() == 100

    def test_inference_conf_restored(self, spark, tmp_path):
        from feathub_spark.datapipe.layout import compact_files

        key = "spark.sql.sources.partitionColumnTypeInference.enabled"
        prev = spark.conf.get(key)
        src = str(tmp_path / "tbl2")
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id bigint, p string"
        ).write.partitionBy("p").parquet(src)
        compact_files(spark, src)
        assert spark.conf.get(key) == prev


class TestCheckpointMigration:
    def test_legacy_name_only_path_is_reused(self, tmp_path, monkeypatch):
        import hashlib
        import re
        import tempfile

        from feathub_spark.streaming.stream_builder import (
            _default_stream_checkpoint_dir,
        )

        monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
        name, ident = "r13_migrate_q", "file_/tmp/out"
        slug = re.sub(r"[^A-Za-z0-9_.-]+", "_", name)[:80]
        legacy_digest = hashlib.sha256(name.encode()).hexdigest()[:12]
        legacy = tmp_path / "feathub_spark_ckpt" / f"{slug}_{legacy_digest}"
        (legacy / "offsets").mkdir(parents=True)
        (legacy / "offsets" / "0").write_text("{}")

        path = _default_stream_checkpoint_dir(name, ident)
        assert not legacy.exists()  # moved, not copied
        assert os.path.isfile(os.path.join(path, "offsets", "0"))

    def test_fresh_name_gets_fresh_dir(self, tmp_path, monkeypatch):
        import tempfile

        from feathub_spark.streaming.stream_builder import (
            _default_stream_checkpoint_dir,
        )

        monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
        path = _default_stream_checkpoint_dir("r13_fresh_q", "file_/x")
        assert os.path.isdir(path)
        assert os.listdir(path) == []

    def test_existing_new_path_wins_over_legacy(self, tmp_path, monkeypatch):
        import hashlib
        import re
        import tempfile

        from feathub_spark.streaming.stream_builder import (
            _default_stream_checkpoint_dir,
        )

        monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
        name, ident = "r13_both_q", "file_/tmp/out"
        new_path = _default_stream_checkpoint_dir(name, ident)
        marker = os.path.join(new_path, "commits")
        os.makedirs(marker)

        slug = re.sub(r"[^A-Za-z0-9_.-]+", "_", name)[:80]
        legacy_digest = hashlib.sha256(name.encode()).hexdigest()[:12]
        legacy = tmp_path / "feathub_spark_ckpt" / f"{slug}_{legacy_digest}"
        (legacy / "offsets").mkdir(parents=True)

        again = _default_stream_checkpoint_dir(name, ident)
        assert again == new_path
        assert os.path.isdir(marker)  # untouched
        assert legacy.exists()  # NOT stolen once the new path exists


class TestAsofTieEncoding:
    def _key_fn(self, payload_fields):
        from feathub_spark.streaming.stateful_asof_join import _tie_encode

        def key(rjson):
            vals = json.loads(rjson)
            return tuple(_tie_encode(vals.get(n)) for n in payload_fields)

        return key

    def test_null_array_elements_do_not_raise(self):
        key = self._key_fn(["arr"])
        a = key(json.dumps({"arr": [1.0, None, 3.0]}))
        b = key(json.dumps({"arr": [1.0, 2.0, 3.0]}))
        # nulls-first ordering, no TypeError: [1, null, 3] < [1, 2, 3]
        assert a < b

    def test_prefix_array_sorts_first(self):
        key = self._key_fn(["arr"])
        assert key(json.dumps({"arr": [1, 2]})) < key(
            json.dumps({"arr": [1, 2, 0]})
        )

    def test_nested_null_array(self):
        key = self._key_fn(["arr"])
        a = key(json.dumps({"arr": [[1, None], [2]]}))
        b = key(json.dumps({"arr": [[1, 0], [2]]}))
        assert a < b

    def test_dropped_null_field_sorts_first(self):
        # to_json drops null fields entirely; .get() must yield the
        # nulls-first encoding, not KeyError
        key = self._key_fn(["v", "w"])
        assert key(json.dumps({"w": 1})) < key(json.dumps({"v": 0, "w": 1}))

    def test_map_payloads_compare_equal(self):
        key = self._key_fn(["m", "v"])
        a = key(json.dumps({"m": {"x": 1}, "v": 5}))
        b = key(json.dumps({"m": {"y": 9}, "v": 7}))
        assert a < b  # maps tie; the orderable field still decides


class TestJdbcBoundsCaseFolding:
    def test_uppercase_stored_column_lowercase_descriptor(self, spark, tmp_path):
        from feathub_spark import Schema
        from feathub_spark.common import types as t
        from feathub_spark.feature_tables.sources.connector_sources import (
            JdbcSource,
        )
        from feathub_spark.processors.spark.source_sink_utils import (
            get_source_dataframe,
        )

        driver = "org.apache.derby.jdbc.EmbeddedDriver"
        db = str(tmp_path / "derby_case_db")
        url = f"jdbc:derby:{db};create=true"
        # create the table with an UNQUOTED column -> Derby stores it
        # uppercase (K); the descriptor asks for lowercase "k"
        seed = spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "K bigint, V double"
        )
        try:
            seed.write.format("jdbc").option("url", url).option(
                "driver", driver
            ).option("dbtable", "CASETBL").mode("overwrite").save()
        except Exception as e:  # pragma: no cover - driver missing
            pytest.skip(f"derby unavailable: {e}")

        src = JdbcSource(
            name="case_src",
            url=url,
            table="CASETBL",
            driver=driver,
            schema=Schema(["k", "v"], [t.Int64, t.Float64]),
            partition_column="k",
            num_partitions=3,
        )
        df = get_source_dataframe(spark, src)
        assert df.count() == 10
        assert df.rdd.getNumPartitions() == 3
