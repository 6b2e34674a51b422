"""Message envelope: how the reference's message model maps onto rows.

The reference carries schemaless documents (raw bytes + lazy JSON +
metadata + error flag — internal/message/part.go, data.go:6-17). This
engine's canonical representation is the OPPOSITE of a blob: **the
document is the typed row itself** — Catalyst sees every field, so
pruning/pushdown/codegen all work. Two reserved columns carry the
envelope semantics that don't fit the relational model:

* ``_metadata MAP<STRING,STRING>`` — per-message metadata
  (internal/message/part.go:124-148); sources populate it (file path,
  kafka topic/offset...), interpolated sink options read from it.
* ``_error STRING`` — the per-message error flag
  (internal/message/part.go:67-77). NULL = ok. Processors are
  error-transparent: a failed row is not dropped, it is flagged and
  flows on (try/catch/reject_errored route on this column).

Schemaless inputs (JSON lines, etc.) enter as a single ``value`` string
column and are lifted to typed columns with ``from_json`` at the first
mapping whose shape is known; fully-dynamic pipelines can keep VARIANT.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

META = "_metadata"
ERROR = "_error"
RESERVED = (META, ERROR)


def ensure_envelope(df: DataFrame) -> DataFrame:
    """Add the reserved envelope columns if absent."""
    out = df
    if META not in df.columns:
        out = out.withColumn(META, F.create_map().cast("map<string,string>"))
    if ERROR not in out.columns:
        out = out.withColumn(ERROR, F.lit(None).cast("string"))
    return out


def ok(df: DataFrame) -> Column:
    """Predicate: message has no error."""
    return F.col(ERROR).isNull()


def guard(df: DataFrame, col: str, expr: Column) -> Column:
    """Error-transparent assignment: leave failed rows untouched."""
    prev = F.col(col) if col in df.columns else F.lit(None)
    return F.when(ok(df), expr).otherwise(prev)


class MessageError(Exception):
    """One message failed; its text becomes that row's ``_error``."""


def per_message(
    df: DataFrame,
    call: Callable,
    *,
    out: str | StructType | None = "content",
    open: Callable[[], Any] | None = None,
    skip_errored: bool = True,
    threads: int = 0,
    errors: dict | None = None,
) -> DataFrame:
    """Run ``call`` once per message in an Arrow-batched stage, with the
    reference's per-message error channel.

    ``call(row)`` gets the row as a dict (``_metadata`` a dict, or None)
    and returns the new value of ``out``: a column name for one string
    column, a StructType for several columns (``call`` returns a tuple),
    or None for no result column. An existing column is replaced in
    place, a new one is appended. A call may assign ``row[META]`` to
    change the message's metadata; the map crosses the Arrow boundary
    as a dict both ways.

    A call that raises :class:`MessageError`, or an exception matching
    a key of ``errors`` (a type or tuple of types, mapping to a function
    that renders it; default: every exception as ``"<type>: <text>"``),
    flags the message: ``_error`` takes the text and the row keeps the
    values it held. Any other exception fails the task.

    ``skip_errored`` decides which messages are called: True skips rows
    that already carry ``_error`` (they flow on untouched); False calls
    every row, so a failure replaces the earlier error and a success
    keeps it. ``open()`` makes the per-partition resource on the first
    call (``call(resource, row)`` then) and it is closed in a
    ``finally``. ``threads`` > 0 runs the calls of a partition on a
    bounded thread pool; 0 runs them in order."""
    from concurrent.futures import ThreadPoolExecutor

    if errors is None:
        errors = {Exception: lambda ex: f"{type(ex).__name__}: {ex}"}
    df = ensure_envelope(df)
    if out is None:
        fields = []
    elif isinstance(out, str):
        fields = [StructField(out, StringType())]
    else:
        fields = list(out.fields)
    names = [f.name for f in fields]
    new = {f.name: f for f in fields}
    schema = StructType(
        [new.pop(f.name, f) for f in df.schema.fields] + list(new.values())
    )
    written = [*names, ERROR, META]

    def one(res, row):
        try:
            value = call(row) if open is None else call(res, row)
        except MessageError as ex:
            row[ERROR] = str(ex)
            return
        except Exception as ex:
            render = next(
                (f for t, f in errors.items() if isinstance(ex, t)), None
            )
            if render is None:
                raise
            row[ERROR] = render(ex)
            return
        if len(names) == 1:
            row[names[0]] = value
        elif names:
            row.update(zip(names, value))

    def run(batches):
        res, pool = None, None
        try:
            for pdf in batches:
                rows = pdf.to_dict("records")
                todo = [
                    r for r in rows
                    if not (skip_errored and r[ERROR] is not None)
                ]
                if todo and open is not None and res is None:
                    res = open()
                if todo and threads and pool is None:
                    pool = ThreadPoolExecutor(max_workers=threads)
                if pool is not None:
                    list(pool.map(lambda r: one(res, r), todo))
                else:
                    for r in todo:
                        one(res, r)
                for c in written:
                    pdf[c] = [r.get(c) for r in rows]
                yield pdf[schema.names]
        finally:
            if pool is not None:
                pool.shutdown()
            if hasattr(res, "close"):
                res.close()

    return df.mapInPandas(run, schema)


def data_cols(df: DataFrame) -> list[str]:
    """The non-envelope (document) columns. ``__``-prefixed columns are
    engine bookkeeping (the test runner's __idx, window scratch cols) —
    never part of the document."""
    return [
        c for c in df.columns
        if c not in RESERVED and not c.startswith("__")
    ]
