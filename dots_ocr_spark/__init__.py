"""dots_ocr_spark — a PySpark-native document layout-parsing and
main-content-extraction engine.

Brand-new implementation with the query/data-processing capabilities of the
reference (AKCqhzdy/dots.ocr): page payloads in, ordered layout spans out,
over tables of interleaved text+media documents.

Layout:
  spec/        pure-Python/numpy deterministic rules shared by the Spark
               UDFs and unit tests (cleaner, geometry, xycut, textnorm,
               headers, toc, words, render, page, assemble, winnow).
  oracle.py    plain-Python end-to-end per-document reference pipeline
               (golden-test source of truth).
  fixtures.py  seeded deterministic generator for the interleaved input
               table.
  schemas.py   the input, parsed-page and output table schemas.
  pipeline.py  the Spark extraction job (fused mapInPandas, or page
               scatter + JVM-side assembly).
  checkpoint.py resumable bucketed/paged runners with lineage + metrics
               tables.
  tracing.py   span tracer and per-query metrics table.
  sinks.py     doc_id-bucketed table sink.
  dedup.py, similarity.py, textops.py, htmlops.py
               training-data operators (dedup, similarity, text analysis,
               HTML main content).
  sources/     real-document ingest.
  streaming/   Structured Streaming corpus and near-dedup jobs.
  queries.py   the query registry behind `__spark_entry__.py` + DuckDB
               oracle SQL.

Importing the package also installs a stat-checked
``zipimport.zipimporter.invalidate_caches``. PySpark calls
``importlib.invalidate_caches()`` at the start of every Python task, and the
stock method makes each zip importer of the worker (``pyspark.zip`` and its
sub-package prefixes, the py4j zip, the Spark jar) re-read its archive's
directory, about 0.1-0.2 CPU-s per task. A worker imports this package when
it unpickles the program's UDFs, and workers are reused across tasks and
jobs, so every later task in that worker skips re-reading archives that did
not change.
"""

import functools
import os
import zipimport

__version__ = "0.1.0"


def _install_stat_checked_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an importer's archive
    only when the archive's ``(st_ino, st_size, st_mtime_ns)`` differs from
    the one recorded at that importer's last read. An archive ``os.stat``
    cannot read falls through to the stock method. Installs at most once."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stat_checked", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stat = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stat = None
        if stat is None or getattr(self, "_archive_stat", None) != stat:
            original(self)
        self._archive_stat = stat

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_stat_checked_zip_invalidation()
