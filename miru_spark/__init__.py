"""miru_spark — a from-scratch PySpark-native analytics/search engine.

Re-expresses the query and data-processing capabilities of the reference
engine (jivesoftware/miru, a JVM bitmap-index stream/search engine) as an
idiomatic Spark DataFrame stack:

- ``analysis``   : deterministic tokenization / text extraction (the
                   byte-identical-per-url invariant lives here).
- ``index``      : inverted-index build — (term, docId, tf, doclen) postings,
                   delta+varbyte block-max posting lists, doc/term stats,
                   per-shard lineage manifests with checkpointed resume.
                   Reference analogue: miru-service stream/MiruIndexer +
                   LabInvertedIndex ("atomized" Roaring containers).
- ``query``      : query parsing (Lucene-classic-style, default AND), filter
                   AST -> Column trees, BM25 top-k scoring with block-max
                   pruning. Reference analogue: miru-stream-plugins fulltext.
- ``operators``  : miru's secondary query families (distincts, uniques,
                   aggregateCounts, analytics waveforms, trending, reco,
                   anomaly, stumptown) as DataFrame recipes.
- ``pipeline``   : large-scale training-data ops — dedup (exact / MinHash-LSH
                   / SimHash / n-gram Jaccard), ANN similarity search, text
                   quality / language-id / fingerprinting, multimodal binary
                   column plumbing.
- ``streaming``  : Structured Streaming ingest of the index (micro-batch
                   incremental shard builds), miru's sip/WAL analogue.
"""

import sys

__version__ = "0.1.0"

# A PySpark worker calls importlib.invalidate_caches() before every task,
# and before 3.13 each zipimporter re-reads its whole archive directory
# there: 16 importers (pyspark.zip sub-packages, py4j, the spark-core jar),
# 26,672 entries, 0.74 of a task's 0.96 s worker setup in cProfile (4 CPUs,
# Python 3.11.7). The guard re-reads only an archive whose (mtime, size)
# changed since this importer last read it. The worker daemon
# (miru_spark.worker_daemon, set by session.get_spark) installs it before
# it forks any worker; a worker started any other way installs it here,
# when a task first imports this package.
if sys.version_info < (3, 13):
    import os
    import zipimport

    def _archive_sig(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return None
        return (st.st_mtime_ns, st.st_size)

    # archive directories this process re-read through the guard; a
    # worker forked from the daemon keeps 0 until an archive changes
    _rereads = 0

    def _invalidate_if_changed(self, _reread=zipimport.zipimporter.invalidate_caches):
        global _rereads
        sig = _archive_sig(self)
        if sig is None or sig != getattr(self, "_dir_sig", None):
            _reread(self)
            _rereads += 1
            self._dir_sig = sig

    def _install_zip_guard(record: bool = False) -> None:
        """Install the guard. ``record``: take each live zipimporter's
        directory as current, so its next invalidation re-reads nothing
        unless the archive changes."""
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
        if record:
            for imp in list(sys.path_importer_cache.values()):
                if isinstance(imp, zipimport.zipimporter):
                    imp._dir_sig = _archive_sig(imp)

    _tc = sys.modules.get("pyspark.taskcontext")
    if _tc is not None and _tc.TaskContext.get() is not None:
        _install_zip_guard()
