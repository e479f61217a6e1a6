"""One Arrow pass-through map for the row-annotating operators.

Geotag and EXIF extraction, the fused extract->PIP join, snapping, WARC
record explode and the media decoders all carry the input columns through
one Python stage and append a few computed columns. They share this helper:
one ``mapInArrow`` pass whose per-batch function sees a ``pyarrow``
``RecordBatch`` and says which input rows to emit and what to append.

The input never becomes pandas, so a nullable long crosses the boundary
as an Arrow int64 and keeps every bit (pandas would upcast it to float64).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType


def map_pass_through(
    df: DataFrame,
    keep: list[str],
    reads: list[str],
    fields: str,
    fn: Callable,
) -> DataFrame:
    """Run ``fn`` over ``df`` in one ``mapInArrow`` pass.

    ``keep``: input columns carried to the output, in input-schema order; a
    name not in ``df`` raises (a typo must not silently narrow the output).
    ``reads``: further input columns ``fn`` needs. Only ``keep`` and
    ``reads`` cross the Arrow boundary.
    ``fields``: DDL of the appended columns, e.g. ``"lat double, lon double"``.
    ``fn``: ``RecordBatch -> (rows, {name: values})``. ``rows`` are the input
    row indices of the output rows: a subset filters, repeats explode, and
    ``None`` emits every input row once, in order. ``values`` are numpy
    arrays, lists or Arrow arrays aligned with the output rows; a float NaN
    becomes NULL.
    """
    unknown = sorted(set(keep) - set(df.columns))
    if unknown:
        raise ValueError(f"keep= names not in the input schema: {unknown}")
    kept = [f for f in df.schema.fields if f.name in keep]
    names = [f.name for f in kept]
    new = StructType.fromDDL(fields).fields
    types = [(f.name, to_arrow_type(f.dataType)) for f in new]
    out_names = names + [n for n, _ in types]
    df = df.select(*names, *[c for c in reads if c not in names])

    def _run(batches):
        import pyarrow as pa

        for b in batches:
            rows, cols = fn(b)
            base = b.select(names)
            if rows is not None:
                base = base.take(pa.array(rows, type=pa.int64()))
            new_cols = [
                cols[n].cast(t)
                if isinstance(cols[n], pa.Array)
                else pa.array(cols[n], type=t, from_pandas=True)
                for n, t in types
            ]
            yield pa.RecordBatch.from_arrays(base.columns + new_cols, names=out_names)

    return df.mapInArrow(_run, StructType(kept + new))
