"""Chained Arrow kernels in one Python worker.

A :class:`Kernel` is one ``mapInPandas`` body (an iterator of pandas
frames in, an iterator of pandas frames out) plus the DDL schema of the
frames it yields. ``map_kernels(df, k1, k2, ...)`` runs the chain as ONE
``MapInPandas`` node that declares the last kernel's schema, so a
generator and its consumer share one Python worker per task instead of
passing every batch through the JVM to a second worker.

Each downstream kernel gets what Arrow would have handed a separate node:
the upstream frames are converted to Arrow by pyspark's own worker
serializer (the upstream schema's columns and types, the session's time
zone and Arrow settings) and back to pandas, re-cut into batches of
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows across frame
boundaries, with no empty batch. These settings are read when the chain
is built. A JVM step between two kernels (a filter, a projection) has to
become a pandas kernel of the chain.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


class Kernel(NamedTuple):
    fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]
    schema: str


def map_kernels(df: DataFrame, *kernels: Kernel) -> DataFrame:
    """``df.mapInPandas`` through ``kernels`` in order, in one node."""
    if len(kernels) == 1:
        return df.mapInPandas(kernels[0].fn, kernels[0].schema)
    conf = df.sparkSession.conf

    def flag(key):  # no default of our own: Spark's default applies
        return conf.get(key).lower() == "true"

    arrow = dict(
        timezone=conf.get("spark.sql.session.timeZone"),
        safecheck=flag("spark.sql.execution.pandas.convertToArrowArraySafely"),
        int_to_decimal=flag(
            "spark.sql.execution.pythonUDF.pandas.intToDecimalCoercionEnabled"
        ),
        large_var_types=flag("spark.sql.execution.arrow.useLargeVarTypes"),
        batch_rows=int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
    )
    links = [(k.fn, StructType.fromDDL(k.schema)) for k in kernels[:-1]]
    last = kernels[-1].fn

    def chain(batches):
        for fn, schema in links:
            batches = _as_arrow_hands_it(fn(batches), schema, **arrow)
        return last(batches)

    return df.mapInPandas(chain, kernels[-1].schema)


def _as_arrow_hands_it(
    frames, schema, timezone, safecheck, int_to_decimal, large_var_types,
    batch_rows,
):
    """``frames`` as the next Python node would read them back: through
    the worker's pandas -> Arrow conversion for ``schema``, re-cut into
    ``batch_rows``-row batches (all rows in one batch if ``batch_rows`` is
    not positive), and back to pandas."""
    import pyarrow as pa
    from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.worker import verify_pandas_result

    ser = ArrowStreamPandasUDFSerializer(
        timezone, safecheck, True, df_for_struct=True, arrow_cast=True,
        int_to_decimal_coercion_enabled=int_to_decimal,
    )
    arrow_type = to_arrow_type(schema, prefers_large_types=large_var_types)
    held, n_held = [], 0
    for pdf in frames:
        verify_pandas_result(
            pdf, schema, assign_cols_by_name=True, truncate_return_schema=True
        )
        rows = ser._create_batch((pdf, arrow_type)).column(0)
        while len(rows):
            take = len(rows) if batch_rows <= 0 else batch_rows - n_held
            held.append(rows.slice(0, take))
            n_held += len(held[-1])
            rows = rows.slice(take)
            if n_held == batch_rows:
                yield ser.arrow_to_pandas(pa.concat_arrays(held), 0)
                held, n_held = [], 0
    if n_held:
        yield ser.arrow_to_pandas(pa.concat_arrays(held), 0)
