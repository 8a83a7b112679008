"""PySpark-native analytics engine with the query/data-processing
capabilities of the reference ETL pipeline (hifzatahir568/ETL-8million-data-),
re-expressed Spark-first.

Subpackages
-----------
- ``sources``   : I/O adapters (CSV/Parquet/JSON scans, fixture-fed REST/scrape
  stand-ins) — SURVEY.md §2.1
- ``operators`` : composable DataFrame transforms (dedup, unpivot, upsert,
  top-k, minhash/simhash, similarity) — SURVEY.md §2.2-2.9 + extensions
- ``functions`` : scalar column expressions (string/date/JSON/null-handling)
  — SURVEY.md §2.8
- ``plans``     : the named query library backing ``__spark_entry__.queries()``
  with DuckDB oracle SQL for each
- ``streaming`` : event-time windows + Structured Streaming wrappers
  — SURVEY.md §2.10 / §7.2(4)
"""

__version__ = "0.1.0"

import sys

from pyspark import cloudpickle

# UDFs, mapInPandas bodies and the module-level helpers they call are
# shipped to Python workers by value, so a worker needs no import path
# to the package: it runs whatever the driver's cwd or PYTHONPATH is.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
