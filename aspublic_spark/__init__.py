"""aspublic_spark — a PySpark-native full-text index + BM25 query engine.

A from-scratch reimplementation of the query and data-processing
capabilities of r000t/aspublic (a fediverse full-text search engine that
delegates indexing to sqlite FTS5 / Postgres GIN — see
reference collector.py / viewer.py / common/db_sqlite.py), re-expressed as
distributed Spark dataflow:

- tokenization faithful to FTS5 ``unicode61 remove_diacritics 2``
  (reference db_sqlite.py:27), vectorized via pandas/Arrow UDFs
- explicit inverted-index tables (postings with delta+varint-compressed
  doc gaps, term frequencies, position deltas, per-block max BM25
  weights), built as resumable per-slice Spark jobs
- boolean AND/OR/NOT, phrase, and top-k BM25 (k1=1.2, b=0.75) retrieval
  as DataFrame plans with block-max pruning
- ingest-side operators (dedup, accept/reject policy filters, retention
  prune) and training-data-pipeline operators (MinHash/SimHash near-dup,
  ANN similarity search, language id, quality scoring)

Nothing here is a port: the reference's execution engine is sqlite/
Postgres C code; every operator is re-derived from its observable
semantics and public algorithms (Okapi BM25, block-max WAND, MinHash).
"""

import os
import sys
import zipimport

__version__ = "0.1.0"

BM25_K1 = 1.2  # reference FTS5 bm25() defaults, db_sqlite.py:27 (latent capability)
BM25_B = 0.75


def _install_zip_invalidation() -> None:
    """Re-read a zip archive's directory only when the archive changed.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task. On Python < 3.13 ``zipimporter.invalidate_caches``
    re-reads the whole central directory of its archive at once, and a
    worker holds a dozen importers on ``pyspark.zip`` alone plus two on
    the spark-core jar, so each task pays 0.2-0.3 CPU-s before any work.
    Python 3.13 drops the cached directory lazily instead and needs no
    change.

    The replacement keeps one ``(st_ino, st_size, st_mtime_ns)`` stamp per
    archive, taken just before its last read, with the directory that read
    produced. While the archive still stamps the same, an importer takes
    that directory; when the stamp differs or the stat fails it calls the
    original, so a rewritten archive is re-read as before. Every importer
    already cached is re-read once here (one read per archive), so the
    tasks after a worker's first pay nothing. Safe to call twice.
    """
    if sys.version_info >= (3, 13):
        return
    zi = zipimport.zipimporter
    if getattr(zi.invalidate_caches, "_change_checked", False):
        return
    original = zi.invalidate_caches
    read_at = {}  # archive -> (stamp before the read, directory read)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        seen = read_at.get(self.archive)
        if seen is not None and seen[0] == stamp:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        original(self)
        if stamp is not None:
            read_at[self.archive] = (stamp, self._files)

    invalidate_caches._change_checked = True
    zi.invalidate_caches = invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zi):
            importer.invalidate_caches()


_install_zip_invalidation()
