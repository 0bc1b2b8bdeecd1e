"""PySpark-native time-series rollup, downsample and retention engine."""

from .zipcache import install_in_worker as _install_in_worker

# Spark Python workers call importlib.invalidate_caches() at the start of
# every task; stop it re-parsing pyspark.zip each time (zipcache.py).
_install_in_worker()
