"""activity_files_spark — PySpark-native spatial-join + tiling engine.

A from-scratch distributed engine with the query semantics of the
``thecloudseeker/activity_files`` reference library (geometry extraction,
normalization, tolerance joins, validation invariants, lossless round-trips)
re-expressed as DataFrame pipelines, plus the north-rule spatial core:
quadkey/hex res-ladder cell index, point-in-polygon join, kNN join and
raster tiling over image+caption tables.

Everything here is built on public PySpark APIs only.
"""

from activity_files_spark import _zipimport  # noqa: F401  (lazy zip invalidation in workers)

__version__ = "0.1.0"
