"""Stateless task surface: the reference's ``WorkerTask.process`` for
record transforms, with its delivery-guarantee policies.

Reference: ``WorkerTask.process(record, observer)``
(/root/reference/src/main/java/com/rtbhouse/kafka/workers/api/task/
WorkerTask.java:50), guarantee policy
(api/record/RecordProcessingGuarantee.java:9-28,
impl/record/RecordStatusObserverImpl.java:33-52):

- ``at_least_once``: any failure shuts the pipeline down; redelivery from
  the last commit. Spark equivalent: let the exception propagate — the
  micro-batch fails and retries from the checkpoint. This is the default
  Structured Streaming contract; nothing to build.
- ``none``: log-and-skip. Spark equivalent: catch per record, route the
  failure into a dead-letter column so a downstream sink can split
  good/bad — strictly more observable than the reference's log line.

Transform preference order: pure column expressions (codegen) >
``transform_batches`` (Arrow-batched) > never row-at-a-time Python UDFs.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
from collections.abc import Callable, Iterator


import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

AT_LEAST_ONCE = "at_least_once"
NONE = "none"

ERROR_COL = "__error"


def _shape_to_schema(out: pd.DataFrame, out_cols: list[str]) -> pd.DataFrame:
    """Project/extend a frame to the declared output columns.

    ``reindex`` fills absent columns with float NaN, which Arrow rejects
    for integral output fields — absent columns become object-dtype None
    so they serialize as nulls on every path (batch, per-row success,
    per-row failure alike)."""
    missing = [c for c in out_cols if c not in out.columns]
    if not missing:
        return out[out_cols]
    shaped = out.reindex(columns=out_cols)
    for c in missing:
        shaped[c] = pd.Series([None] * len(shaped), index=shaped.index, dtype=object)
    return shaped


_PY_TYPES: dict[str, tuple[type, ...]] = {
    "long": (int,), "integer": (int,), "short": (int,), "byte": (int,),
    "double": (int, float), "float": (int, float),
    "string": (str,), "boolean": (bool,), "binary": (bytes, bytearray),
    # pd.Timestamp subclasses datetime; np scalars unwrap via .item()
    "timestamp": (_dt.datetime,),
    "date": (_dt.date,),
    "decimal": (_decimal.Decimal, int),
}


def _coerce_to_schema(row: pd.DataFrame, schema_obj: StructType) -> pd.DataFrame:
    """Null out input values that cannot serialize under the declared
    output type for their column — the DLQ row must never be the thing
    that crashes the Arrow conversion (e.g. the unparseable string that
    made ``fn`` raise, sitting in a column declared double). Columns whose
    declared type has no verifier here (arrays, maps, structs, ...) are
    nulled wholesale: unverifiable means a wrong-typed survivor could
    still crash the conversion this helper exists to prevent (ADVICE
    r03); declare matching-typed passthrough columns to keep payloads."""
    out = row.copy()
    types = {f.name: f.dataType.typeName() for f in schema_obj.fields}
    for c in out.columns:
        t = types.get(c)
        if t is None:
            continue
        allowed = _PY_TYPES.get(t)
        if allowed is None:
            out[c] = pd.Series([None] * len(out), index=out.index, dtype=object)
            continue

        def ok(v):  # noqa: ANN001
            base = v.item() if hasattr(v, "item") else v
            return base is None or isinstance(base, allowed)

        if not all(ok(v) for v in out[c]):
            out[c] = pd.Series([None] * len(out), index=out.index, dtype=object)
    return out


def _apply_each(
    fn: Callable[[pd.DataFrame], pd.DataFrame], batches: Iterator[pd.DataFrame]
) -> Iterator[pd.DataFrame]:
    # module-level, so the pickled runner references this module and a
    # Python worker that unpickles it imports the package (whose __init__
    # installs session._install_zip_stat_check)
    for pdf in batches:
        yield fn(pdf)


def transform_batches(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: StructType | str,
    guarantee: str = AT_LEAST_ONCE,
) -> DataFrame:
    """Apply an arbitrary batch transform (``pandas.DataFrame ->
    pandas.DataFrame``) via ``mapInPandas`` — Arrow transfer, executes on
    executors, works identically on batch and streaming DataFrames.

    guarantee='none' requires `schema` to contain a nullable string
    column ``__error``; a failing batch falls back row-by-row so only the
    offending rows are marked, everything else flows. Two contracts of
    that mode: (1) ``fn`` should be a pure transform (side effects belong
    in sinks) — the fallback re-invokes ``fn`` per row after the batch
    attempt, so side effects of already-successful rows would run twice;
    (2) a failed row's DLQ record carries only the input values that FIT
    the declared output type for their column — a value of the wrong type
    (e.g. the unparseable string that made ``fn`` raise in a double
    column) is nulled, with the error string carrying the exception; add
    matching-typed passthrough columns to the schema to keep raw payloads.
    """
    if guarantee not in (AT_LEAST_ONCE, NONE):
        raise ValueError(f"unknown guarantee: {guarantee}")

    if guarantee == AT_LEAST_ONCE:

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            return _apply_each(fn, batches)

        return df.mapInPandas(run, schema)

    schema_obj = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    out_cols = [f.name for f in schema_obj.fields]
    if ERROR_COL not in out_cols:
        raise ValueError(f"guarantee='none' requires a nullable string column {ERROR_COL!r} in schema")

    def run_dlq(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            try:
                out = fn(pdf)
                if ERROR_COL not in out.columns:
                    out[ERROR_COL] = None
                yield _shape_to_schema(out, out_cols)
            except Exception:
                # isolate failures row-by-row; a failed row surfaces as a
                # schema-shaped row carrying whatever input columns overlap
                # the output schema, plus the error
                rows: list[pd.DataFrame] = []
                for i in range(len(pdf)):
                    row = pdf.iloc[[i]]
                    try:
                        out = fn(row)
                        if ERROR_COL not in out.columns:
                            out[ERROR_COL] = None
                        rows.append(_shape_to_schema(out, out_cols))
                    except Exception as exc:  # noqa: BLE001
                        failed = _shape_to_schema(_coerce_to_schema(row, schema_obj), out_cols)
                        failed[ERROR_COL] = repr(exc)
                        rows.append(failed)
                empty = pd.DataFrame({c: [] for c in out_cols})
                yield pd.concat(rows, ignore_index=True) if rows else empty

    return df.mapInPandas(run_dlq, schema_obj)


def split_dlq(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split a guarantee='none' output into (ok, dead-letter) streams."""
    ok = df.filter(df[ERROR_COL].isNull()).drop(ERROR_COL)
    dlq = df.filter(df[ERROR_COL].isNotNull())
    return ok, dlq
