"""PySpark worker daemon that forks every Python worker with numpy,
pandas and pyarrow already imported.

``session.get_spark`` selects it through ``spark.python.daemon.module``.
Each Python task runs in a child forked from this process, so it
inherits these modules instead of importing them per task. It imports
nothing from the engine, so starting the daemon stays cheap and free of
side effects.
"""

import sys
import zipimport

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401
import pyspark.worker  # noqa: F401
from pyspark import daemon

# The modules every forked worker inherits (read as ``__main__.PRELOADED``).
PRELOADED = frozenset(sys.modules)

# Each worker calls importlib.invalidate_caches() before its task. On
# Python 3.11 that re-reads the whole pyspark.zip directory once per
# cached zipimporter, and the imports above cache one per pyspark
# package (16): measured 0.19-0.30 s of every task. Dropping them is
# safe; a later import rebuilds one from zipimport's directory cache.
for _path, _finder in list(sys.path_importer_cache.items()):
    if isinstance(_finder, zipimport.zipimporter):
        del sys.path_importer_cache[_path]

if __name__ == "__main__":
    daemon.manager()
