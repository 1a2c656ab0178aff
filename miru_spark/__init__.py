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
# Python 3.11.7). Inside a task (a TaskContext is set), re-read only an
# archive whose (mtime, size) changed since this importer last read it.
if sys.version_info < (3, 13):
    import os
    import zipimport

    def _invalidate_if_changed(self, _reread=zipimport.zipimporter.invalidate_caches):
        try:
            st = os.stat(self.archive)
            sig = (st.st_mtime_ns, st.st_size)
        except OSError:
            sig = None
        if sig is None or sig != getattr(self, "_dir_sig", None):
            _reread(self)
            self._dir_sig = sig

    _tc = sys.modules.get("pyspark.taskcontext")
    if _tc is not None and _tc.TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
