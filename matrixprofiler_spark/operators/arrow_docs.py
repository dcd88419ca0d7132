"""The one Arrow adapter behind the per-document long-form operators.

Each of those operators runs a kernel once per input row (a doc, a doc
pair or a distance tile) and emits one output row per window. They hand
``map_docs`` the per-row kernel; the adapter owns the JVM <-> Python
boundary (the package's only ``mapInArrow``):

* list columns reach the kernel as zero-copy numpy views of the Arrow
  child ``values``, sliced by ``offsets`` (no per-doc Python object);
  every other column arrives as a scalar;
* the kernel returns ``None`` to skip the row, or a dict of equal-length
  numpy arrays, one per non-key output column;
* each input batch yields ONE ``RecordBatch``: the key column is a
  ``take`` of the input key array, every other column one concatenate of
  the per-row parts, converted with ``from_pandas=True`` so a NaN in a
  float column becomes NULL, as it did through ``mapInPandas``.

Output types and nullability are the declared ``StructType``'s: Spark
rejects a batch whose Arrow types differ from it.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _rows(col: pa.Array):
    """A column as per-row values: numpy views for list columns, numpy
    scalars otherwise."""
    if pa.types.is_list(col.type):
        vals = col.values.to_numpy(zero_copy_only=True)
        off = col.offsets.to_numpy()
        return (vals[a:b] for a, b in zip(off[:-1], off[1:]))
    return col.to_numpy(zero_copy_only=False)


def map_docs(df: DataFrame, key: str, cols: Sequence[str],
             fn: Callable[..., dict | None], schema: T.StructType) -> DataFrame:
    """``fn(*row)`` over the ``cols`` of each row of ``df``; its arrays,
    with ``key`` repeated per emitted row, form ``schema``'s rows."""
    out_schema = to_arrow_schema(schema)
    names = [f.name for f in out_schema if f.name != key]

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            rows: list[int] = []
            counts: list[int] = []
            parts: dict[str, list[np.ndarray]] = {n: [] for n in names}
            for i, row in enumerate(zip(*(_rows(b.column(c)) for c in cols))):
                res = fn(*row)
                if res is None:
                    continue
                rows.append(i)
                counts.append(len(res[names[0]]))
                for n in names:
                    parts[n].append(res[n])
            keys = b.column(key).take(
                pa.array(np.repeat(np.asarray(rows, dtype=np.int64), counts)))
            yield pa.RecordBatch.from_arrays(
                [keys if f.name == key else
                 pa.array(np.concatenate(parts[f.name]) if rows else [],
                          type=f.type, from_pandas=True)
                 for f in out_schema],
                schema=out_schema)

    return df.select(key, *cols).mapInArrow(run, schema)
