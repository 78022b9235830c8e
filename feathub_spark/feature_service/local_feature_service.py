"""LocalFeatureService: request-time (on-demand) feature serving
(reference feature_service/local_feature_service.py:51-146).

``get_online_features(request_df, view)`` joins the latest online-store rows
by key and evaluates expression features pandas-side via DuckDB (same SQL
dialect subset our DSL lowers to, so expressions behave like the Spark
path without paying a Spark job per request).

Fixed costs are paid once, not per request: a service opens one DuckDB
connection (lazily) and gives each calling thread its own cursor, so the
request frame registered as ``req`` is never visible to another thread; a
view's expression features compile once into one nested statement per run
of consecutive expressions (a Python UDF feature ends a run), cached by the
features' ``(name, expr)`` list.
"""

from __future__ import annotations

import functools
import threading
from typing import Optional, Sequence, Tuple, Union

import pandas as pd

from feathub_spark.common.exceptions import FeathubError
from feathub_spark.dsl.parser import to_spark_sql
from feathub_spark.feature_views.on_demand_feature_view import OnDemandFeatureView
from feathub_spark.feature_views.transforms.expression_transform import (
    ExpressionTransform,
)
from feathub_spark.feature_views.transforms.python_udf_transform import (
    PythonUdfTransform,
)
from feathub_spark.online_stores.memory_online_store import MemoryOnlineStore


def _backticks_to_ansi(sql: str) -> str:
    """Rewrite Spark identifier quoting (backticks) to ANSI double quotes
    for DuckDB — but ONLY outside single-quoted string literals: a blanket
    replace turned the literal 'x`y' into 'x\"y' and served a corrupted
    value.  Two literal escape styles must survive the trip: Spark's
    doubled quote ('') scans as two adjacent literals, and the backslash
    escapes our own generator emits (dsl/ast.py LiteralNode emits \\' and
    \\\\, which Spark accepts but ANSI DuckDB does not) are rewritten to
    their ANSI forms ('' and \\) without desyncing the in-string state.
    A double quote inside a backtick identifier is doubled, so a column
    named ``a"b`` stays one identifier."""
    out = []
    in_str = in_ident = False
    i = 0
    n = len(sql)
    while i < n:
        ch = sql[i]
        if in_str:
            if ch == "\\" and i + 1 < n:
                nxt = sql[i + 1]
                if nxt == "'":
                    out.append("''")
                elif nxt == "\\":
                    out.append("\\")
                else:
                    # not emitted by our generator; keep the pair verbatim
                    out.append(ch + nxt)
                i += 2
                continue
            if ch == "'":
                in_str = False
            out.append(ch)
        else:
            if ch == "'" and not in_ident:
                in_str = True
                out.append(ch)
            elif ch == "`":
                in_ident = not in_ident
                out.append('"')
            elif ch == '"' and in_ident:
                out.append('""')
            else:
                out.append(ch)
        i += 1
    return "".join(out)


def _quote_ident(name: str) -> str:
    """ANSI-quote an identifier, doubling any embedded double quote."""
    return '"' + name.replace('"', '""') + '"'


@functools.lru_cache(maxsize=256)
def _compile(
    features: Tuple[Tuple[str, Optional[str]], ...]
) -> Tuple[Union[str, int], ...]:
    """Compile ``(name, expr)`` pairs (``expr`` None for a Python UDF) into
    evaluation steps: a SQL statement over ``req`` for each run of
    consecutive expressions, or the position of a UDF feature.  Within a
    run each expression wraps the previous one as
    ``SELECT *, <expr> AS "<name>" FROM (...)``, so a feature can reference
    any earlier one, exactly as evaluating them one by one would."""
    steps = []
    sql = None
    for i, (name, expr) in enumerate(features):
        if expr is None:
            if sql is not None:
                steps.append(sql)
                sql = None
            steps.append(i)
            continue
        source = "req" if sql is None else f"({sql})"
        sql = (
            f"SELECT *, {_backticks_to_ansi(to_spark_sql(expr))} "
            f"AS {_quote_ident(name)} FROM {source}"
        )
    if sql is not None:
        steps.append(sql)
    return tuple(steps)


def _plan_key(features: Sequence) -> Tuple[Tuple[str, Optional[str]], ...]:
    key = []
    for feature in features:
        tr = feature.transform
        if isinstance(tr, ExpressionTransform):
            key.append((feature.name, tr.expr))
        elif isinstance(tr, PythonUdfTransform):
            key.append((feature.name, None))
        else:
            raise FeathubError(
                f"OnDemandFeatureView supports expression/UDF features, got {tr!r}."
            )
    return tuple(key)


class LocalFeatureService:
    def __init__(self, online_store: MemoryOnlineStore = None) -> None:
        self.online_store = online_store or MemoryOnlineStore.get_instance()
        self._con = None
        self._con_lock = threading.Lock()
        self._local = threading.local()

    def _cursor(self):
        cursor = getattr(self._local, "cursor", None)
        if cursor is None:
            import duckdb

            with self._con_lock:
                if self._con is None:
                    self._con = duckdb.connect()
                cursor = self._con.cursor()
            self._local.cursor = cursor
        return cursor

    def get_online_features(
        self, request_df: pd.DataFrame, view: OnDemandFeatureView
    ) -> pd.DataFrame:
        out = request_df.copy()
        for table_name, feature_name in view.lookup_features():
            out = self.online_store.get(table_name, out, [feature_name])
        features = view.expression_features()
        for step in _compile(_plan_key(features)):
            if isinstance(step, int):
                out = self._eval_udf(out, features[step])
            else:
                out = self._eval_sql(out, step)
        if not view.keep_source_fields:
            # strip: the lookup regex tolerates padded feature strings
            # ('tbl.feat '), so the projection name must too, or the
            # fetched column silently drops from the output
            names = [
                f.name if not isinstance(f, str) else f.split(".", 1)[1].strip()
                for f in view.features
            ]
            keys = [c for c in request_df.columns]
            out = out[[c for c in keys + names if c in out.columns]]
        return out

    def _eval_sql(self, df: pd.DataFrame, sql: str) -> pd.DataFrame:
        cursor = self._cursor()
        cursor.register("req", df)
        try:
            return cursor.execute(sql).df()
        finally:
            cursor.unregister("req")

    @staticmethod
    def _eval_udf(df: pd.DataFrame, feature) -> pd.DataFrame:
        tr = feature.transform
        values = []
        for _, row in df.iterrows():
            try:
                values.append(tr.udf(row))
            except Exception:
                if tr.fail_on_exception:
                    raise
                values.append(tr.value_on_exception)
        df[feature.name] = values
        return df
