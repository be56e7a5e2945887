"""PySpark-native analytics engine with the query and data-processing
capabilities of tishiu/coinbase-data-pipeline, re-expressed Spark-first.

Everything here is declarative DataFrame/SQL so Catalyst plans the
physical execution; Python touches data only in the few inherently
sequential per-key operators (EWM family) via Arrow-batched
applyInPandas.
"""


import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

# Pandas-UDF closures call package functions (the Holt recursion, the
# media header parser, the session fold). Registering the package
# pickles every submodule's functions by value, so the Python workers
# run them without the package being importable there.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
