"""docling_api_spark — a PySpark-native document→Markdown extraction engine.

Brand-new implementation (NOT a port) with the capabilities of the
zenzen-sol/docling-api reference service (FastAPI/Celery/Redis wrapper around
IBM docling 2.3.1; surveyed in SURVEY.md). The engine is a DataFrame batch job
over a Parquet/Iceberg table of Common-Crawl-style pages
``(url string, warc_ts timestamp, html binary, text string, lang string)``
that runs Arrow-native ``mapInArrow`` extractors (no per-row Python UDFs)
producing deterministic Markdown + images manifest + per-span offsets + error
rows, with a zero-shuffle file-keyed default plan (salted repartitioning
as the opt-in for skewed layouts), per-partition lineage/metrics, and
manifest-based idempotent resume.

Layout:
- ``functions/``  format sniffing + columnar text/stat functions
- ``operators/``  extractors (HTML/PDF/OOXML/MD/AsciiDoc), dedup, similarity
- ``sources/``    pages-table readers + deterministic corpus synthesis
- ``plans/``      the end-to-end job: partitioning, manifest, resume, metrics
- ``streaming/``  optional Structured Streaming (AvailableNow) variant
"""

__version__ = "0.1.0"

# Python workers import this package on their first task; from then on the
# per-task importlib.invalidate_caches() no longer re-reads every zip archive
# on sys.path (pyspark.zip, py4j, the spark-core jar).
from . import _zipimport

_zipimport.install()
