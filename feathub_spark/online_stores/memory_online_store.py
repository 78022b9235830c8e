"""MemoryOnlineStore: in-process key → latest-feature-row store for serving.

Semantics per the reference (online_stores/memory_online_store.py:40-163):
``put`` upserts rows keeping the max-timestamp row per key; ``get`` returns
the latest row per requested key, optionally projected to selected features.
The store is a serving-side structure (pandas), not a Spark job.

``get`` looks keys up through a key index (``pd.Index``/``MultiIndex``) built
lazily per table and dropped by ``put``, instead of merging the request
against the whole table; ``_tables[name]`` stays the plain frame that the
Spark-side readers (``MemoryStoreSource``, the lookup join) use.
"""

from __future__ import annotations

import threading
from typing import Dict, List, Optional, Sequence, Tuple

import pandas as pd

from feathub_spark.common.exceptions import FeathubError


class MemoryOnlineStore:
    _instance: Optional["MemoryOnlineStore"] = None
    _lock = threading.Lock()

    def __init__(self) -> None:
        self._tables: Dict[str, pd.DataFrame] = {}
        self._keys: Dict[str, List[str]] = {}
        self._ts_fields: Dict[str, Optional[str]] = {}
        # table name -> (the frame it indexes, its key index)
        self._indexes: Dict[str, Tuple[pd.DataFrame, pd.Index]] = {}

    @classmethod
    def get_instance(cls) -> "MemoryOnlineStore":
        with cls._lock:
            if cls._instance is None:
                cls._instance = MemoryOnlineStore()
            return cls._instance

    @classmethod
    def reset(cls) -> None:
        with cls._lock:
            cls._instance = None

    def put(
        self,
        table_name: str,
        data,
        key_fields: Optional[Sequence[str]] = None,
        timestamp_field: Optional[str] = None,
    ) -> None:
        if not isinstance(data, pd.DataFrame):
            data = data.toPandas()
        self._indexes.pop(table_name, None)
        if key_fields is None:
            key_fields = self._keys.get(table_name)
        if not key_fields:
            # keyless table (e.g. global metric emissions): append-only store
            existing = self._tables.get(table_name)
            combined = (
                pd.concat([existing, data], ignore_index=True)
                if existing is not None
                else data.copy()
            )
            self._tables[table_name] = combined.reset_index(drop=True)
            self._keys[table_name] = []
            self._ts_fields[table_name] = timestamp_field
            return
        key_fields = list(key_fields)
        if timestamp_field is None:
            timestamp_field = self._ts_fields.get(table_name)

        existing = self._tables.get(table_name)
        combined = (
            pd.concat([existing, data], ignore_index=True)
            if existing is not None
            else data.copy()
        )
        if timestamp_field is not None and timestamp_field in combined.columns:
            # keep the max-timestamp row per key (last wins on ties, matching
            # upsert order semantics).  NaN/None timestamps sort FIRST: a
            # row with no event time must never beat a timestamped one
            # (pandas' default na_position="last" made exactly that happen)
            combined = combined.sort_values(
                timestamp_field, kind="stable", na_position="first"
            )
        combined = combined.drop_duplicates(subset=key_fields, keep="last")
        self._tables[table_name] = combined.reset_index(drop=True)
        self._keys[table_name] = key_fields
        self._ts_fields[table_name] = timestamp_field

    def get(
        self,
        table_name: str,
        input_data: pd.DataFrame,
        feature_names: Optional[Sequence[str]] = None,
    ) -> pd.DataFrame:
        table = self._tables.get(table_name)
        if table is None:
            raise KeyError(f"Table {table_name!r} not in the online store.")
        key_fields = self._keys[table_name]
        if not key_fields:
            raise FeathubError(
                f"Table {table_name!r} was stored without keys (append-only "
                "metric emissions) — keyed get() is undefined for it."
            )
        cols = list(table.columns)
        if feature_names is not None:
            cols = key_fields + [c for c in feature_names if c not in key_fields]
        # the STORED value wins on name overlap (a request column or an
        # earlier lookup sharing a feature name) — matching the dict-
        # overwrite semantics of SqlOnlineStore/RedisOnlineStore.get; a
        # plain merge would suffix both sides to <c>_x/<c>_y and the
        # feature would silently vanish from the service projection
        clash = [
            c for c in cols if c not in key_fields and c in input_data.columns
        ]
        out = input_data.drop(columns=clash).reset_index(drop=True)
        # left-join semantics: request order and duplicates kept, a missing
        # key reads NULL (ints upcast to float, as a left merge does)
        rows = self._table_index(table_name, table, key_fields).get_indexer(
            _key_index(input_data, key_fields)
        )
        for c in cols:
            if c not in key_fields:
                col = table[c]
                values = (
                    col.array
                    if isinstance(col.dtype, pd.api.extensions.ExtensionDtype)
                    else col.to_numpy()
                )
                out[c] = pd.api.extensions.take(values, rows, allow_fill=True)
        return out

    def _table_index(
        self, table_name: str, table: pd.DataFrame, key_fields: List[str]
    ) -> pd.Index:
        # keyed on the frame's identity too, so a get racing a put never
        # pairs the new frame with the old frame's row positions
        cached = self._indexes.get(table_name)
        if cached is None or cached[0] is not table:
            cached = (table, _key_index(table, key_fields))
            self._indexes[table_name] = cached
        return cached[1]

    def all_tables(self) -> List[str]:
        return sorted(self._tables)


def _key_index(frame: pd.DataFrame, key_fields: List[str]) -> pd.Index:
    if len(key_fields) == 1:
        return pd.Index(frame[key_fields[0]])
    return pd.MultiIndex.from_frame(frame[key_fields])
