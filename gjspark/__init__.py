"""gjspark — a from-scratch PySpark-native spatial-join + tiling engine.

Generalizes what FraunhoferIOSB/FROST-GeoJsonImporter computes (GeoJSON
FeatureCollection -> SensorThings Location/Thing mapping, find-or-create
upserts, observation validators) into a distributed DataFrame pipeline:

- GeoJSON / CSV sources -> features DataFrame (WKB geometry + properties)
- H3-style / S2 cell indexing in pure numpy (vectorized Arrow UDFs)
- broadcast / bucketed point-in-polygon joins, cell-local kNN
- image decode (pure-numpy PPM/BMP/PNG/DCT codecs) + raster<->vector tiling
  from one decode pass (per-cell tile rollup and mean-thumbnail mosaic)
- checkpointed, resumable writes with per-partition lineage + metrics
- training-data ops: dedup (exact/MinHash/SimHash), ANN, text analysis

Everything custom is a vectorized pandas/Arrow UDF; all relational work is
plain DataFrame/Catalyst. No code is copied from the GPL reference — it is
cited by file:line in docstrings only to document behavioral parity.
"""

__version__ = "0.1.0"
