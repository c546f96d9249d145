"""docling_api_spark — a from-scratch PySpark-native document extraction
and retrieval engine with the query/data-processing capabilities of the
reference service (ateeq1999/docling-api, surveyed in SURVEY.md).

Architecture: DataFrame/SQL plans optimized by Catalyst; the only Python
on the hot path is Arrow-batched (``mapInPandas`` / ``pandas_udf``) —
never per-row Spark UDFs. The canonical corpus table is

    documents(doc_id: string,
              fmt: string,
              size_bytes: long,
              spans: array<struct<kind,text,media_ref,offset>>)

per BASELINE.json ``input_hint``; extraction emits the cleaned,
reading-ordered spans array whose (kind, text, media_ref, order)
sequence is the per-row correctness invariant.
"""

from docling_api_spark import _zipguard

# PySpark workers re-parse every zip on sys.path at each task start on
# Python < 3.12 (worker_util.py:144; gh-103200); skip unchanged ones
_zipguard.install()

__version__ = "0.1.0"

EMBEDDING_DIM = 384  # parity: reference sqlite-vec float[384] (core/vector_store.py:17)
MAX_FILE_SIZE_BYTES = 50 * 1024 * 1024  # parity: reference core/config.py:6-7
