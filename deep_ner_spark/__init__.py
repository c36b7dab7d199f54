"""deep_ner_spark — a PySpark-native point-in-time feature-engineering engine
with the data-processing capabilities of bond005/deep_ner, rebuilt Spark-first
(DataFrame + Window + Arrow pandas UDFs; no per-row Python, no RDDs)."""

from deep_ner_spark import zipguard

__version__ = "0.1.0"

zipguard.install_in_worker()
