"""The one ``mapInArrow`` batch loop every Arrow feature kernel runs in."""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def map_arrow_kernels(
    df: DataFrame,
    kernels: "Sequence[tuple[str, Sequence[str], Callable]]",
    drop: "Sequence[str]" = (),
) -> DataFrame:
    """Run every kernel ``(input column, output names, fn)`` in ONE
    Python crossing.  ``fn`` maps the batch's pyarrow list column to a
    ``(rows, len(names))`` float64 matrix.  Output: the input columns
    minus ``drop`` (dropped at the boundary, passed through by reference
    otherwise), then each kernel's double columns in kernel order."""
    import pyarrow as pa

    dropset = set(drop)
    keep = [f for f in df.schema.fields if f.name not in dropset]
    keep_names = [f.name for f in keep]
    out_names = [n for _, names, _ in kernels for n in names]
    out_schema = T.StructType(
        keep + [T.StructField(n, T.DoubleType(), True) for n in out_names]
    )

    def compute(batches):
        for batch in batches:
            arrays = [batch.column(n) for n in keep_names]
            for col, names, fn in kernels:
                mat = fn(batch.column(col))
                arrays.extend(pa.array(mat[:, i], type=pa.float64())
                              for i in range(len(names)))
            yield pa.RecordBatch.from_arrays(arrays, names=keep_names + out_names)

    return df.mapInArrow(compute, out_schema)
