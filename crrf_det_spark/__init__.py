"""crrf_det_spark: a PySpark-native extraction/analytics engine with the
query and data-processing capabilities of os-climate/crrf-det, re-expressed
Spark-first (DataFrame/Catalyst + vectorized Arrow batches).

Built from public knowledge only: the Apache Spark / PySpark API and the
reference repository studied read-only at /root/reference.
"""

__version__ = "0.1.0"

from ._zipcache import install as _install_zipcache

# Spark workers import this package to unpickle its kernels; from then on
# a task start no longer re-reads pyspark.zip and the spark-core jar.
_install_zipcache()
