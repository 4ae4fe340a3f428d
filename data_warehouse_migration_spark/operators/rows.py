"""The one seam where row-wise Python enters a plan.

Every crawl, archive and media stage in operators/web_extract.py and
operators/multimodal.py is a pure function of one input row:
synthesize an artifact, read it back, report structure and content.
:func:`map_rows` is the only place those functions meet Spark, so the
batching loop, the row assembly and the output column names cannot
drift apart per site.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import IntegralType, StructType


def map_rows(
    df: DataFrame,
    cols: list[str],
    per_row: Callable[..., tuple],
    schema: str,
) -> DataFrame:
    """Select ``cols`` and map each row through ``per_row``.

    One ``mapInPandas`` stage (documents are the parallelism unit,
    zero shuffle, Arrow transport). ``per_row`` receives the row's
    values positionally, as Python objects from ``Series.tolist()``,
    with a NULL as ``None``; it returns one tuple in the order of the
    DDL ``schema``, whose field names are the only statement of the
    output columns."""
    sel = df.select(*cols)
    names = StructType.fromDDL(schema).names
    # Arrow hands an integral column holding a NULL to pandas as
    # float64 with NaN; restore the ints and the None
    integral = [isinstance(f.dataType, IntegralType) for f in sel.schema.fields]

    def values(s: pd.Series, is_int: bool) -> list:
        vals = s.tolist()
        if is_int and s.dtype.kind == "f":
            vals = [None if v != v else int(v) for v in vals]
        return vals

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            columns = [values(pdf[c], i) for c, i in zip(cols, integral)]
            yield pd.DataFrame(
                [per_row(*row) for row in zip(*columns)], columns=names
            )

    return sel.mapInPandas(run, schema=schema)
