"""Cell-assignment operator: canonical H3 res 7-12 + S2 columns
(SURVEY.md §2.2 P16/P17). The h3_r* ids interoperate with libh3
(functions/h3.py is validated against the published H3 test vectors), so
downstream joins against real H3-indexed datasets work directly.

One struct-returning vectorized pandas UDF computes all seven cell ids per
Arrow batch — a single Python roundtrip instead of seven, ~7x less
serialization. Everything else (joins, grouping on the new columns) stays
JVM-side; at scale the cell column is the Iceberg partition/bucketing key
so scans prune by cell for free.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from gjspark.functions import h3 as h3x, s2

H3_RESOLUTIONS = (7, 8, 9, 10, 11, 12)
S2_LEVEL = 16

_CELL_STRUCT = T.StructType(
    [T.StructField(f"h3_r{r}", T.LongType()) for r in H3_RESOLUTIONS]
    + [T.StructField("s2_cell", T.LongType())]
)


@pandas_udf(_CELL_STRUCT)
def _cell_struct(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
    import numpy as np

    la = lat.to_numpy(dtype=float)
    lo = lon.to_numpy(dtype=float)
    # Non-finite coordinates (null lat/lon arrives as NaN) get the H3_NULL
    # sentinel instead of aborting the Arrow batch — one bad row must not
    # poison a whole file in the checkpointed streaming ingest.
    bad = ~(np.isfinite(la) & np.isfinite(lo))
    # one shared spherical stage for all six H3 resolutions (the
    # face/azimuth/gnomonic-radius math is res-independent)
    cells = h3x.latlng_to_cells_multi(la, lo, H3_RESOLUTIONS, invalid="null")
    out = {f"h3_r{r}": cells[r] for r in H3_RESOLUTIONS}
    s2c = s2.s2_cell(np.where(bad, 0.0, la), np.where(bad, 0.0, lo), S2_LEVEL)
    s2c[bad] = 0
    out["s2_cell"] = s2c
    return pd.DataFrame(out)


def with_cell_columns(
    df: DataFrame, lat_col: str = "lat", lon_col: str = "lon"
) -> DataFrame:
    """Append h3_r7..h3_r12 + s2_cell columns.

    The seven columns are non-nullable: the kernel never returns null
    (bad or null coordinates read 0), and saying so lets Catalyst infer no
    ``isnotnull`` on a cell join key, which it would otherwise satisfy by
    evaluating the kernel a second time below the join. The kernel is
    deterministic, so a filter written after this call on any other
    column still reaches the scan's ``PushedFilters``.
    """
    tmp = df.withColumn("__cells", _cell_struct(F.col(lat_col), F.col(lon_col)))
    for f in _CELL_STRUCT.fields:
        tmp = tmp.withColumn(
            f.name, F.coalesce(F.col(f"__cells.{f.name}"), F.lit(0))
        )
    return tmp.drop("__cells")
