"""incubator_sedona_spark — a brand-new PySpark-native spatial-join + tiling engine.

Re-expresses the operator surface of Apache Sedona (incubating) — spatial
partitioning, range/distance/kNN/broadcast joins, tiling, raster<->vector joins,
ST_ scalar functions — as idiomatic PySpark DataFrame plans plus vectorized
pandas/Arrow UDFs.  No JVM extensions, no per-row Python, no RDDs.

Design blueprint: SURVEY.md (reference semantics cited per module as file:line
into /root/reference).  The geometry kernel is pure numpy (WKB serde +
ray-casting predicates), with no optional third-party fallback.
"""

__version__ = "0.1.0"

from incubator_sedona_spark.cells import Grid  # noqa: F401
from incubator_sedona_spark import _worker

_worker.install()
