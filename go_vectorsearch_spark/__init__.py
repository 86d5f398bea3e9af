"""spark-vectorsearch: a PySpark-native analytics engine with the query and
data-processing capabilities of the reference vector-search engine
(expki/go-vectorsearch, surveyed in SURVEY.md), rebuilt Spark-first.

Layout:
    session     - SparkSession factory sized from the host
    sources     - table loaders / schema registry for the driver testdata
    functions   - columnar vector + text kernels (native expressions first)
    operators   - relational / top-k / dedup / search operators
    plans       - multi-stage pipelines (IVF-Flat index build, refresh)
    streaming   - event-time analytics and structured-streaming operators
"""

from go_vectorsearch_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
