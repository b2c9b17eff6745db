"""markmuse_spark — PySpark-native main-content extraction engine.

A from-scratch rebuild of the capabilities of the MarkMuse reference
(PDF/HTML -> Markdown pipeline + relational control plane), Spark-first:
DataFrame/SQL plans optimized by Catalyst, vectorized Arrow-batch kernels
for the one operator Spark lacks (layout extraction), explicit skew/resume
/lineage handling for 10^12-document scale.  See README.md and COVERAGE.md.
"""

from markmuse_spark import _zipimport

__version__ = "0.1.0"

# Every Python worker imports this package when it unpickles one of our
# UDFs, so from its next task on, the per-task importlib.invalidate_caches()
# skips re-reading zips (pyspark.zip, py4j, --py-files) that have not changed.
_zipimport.install()
