"""PySpark's Python-worker daemon, with the zip-import guard installed.

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module when the Python workers can import the package. It installs the
guard of :mod:`miru_spark` and records each live zipimporter's archive
signature, then runs ``pyspark.daemon``'s manager. Every worker forks
from the daemon and inherits both, so its first task's
``importlib.invalidate_caches()`` re-reads no archive.
"""

import sys

import miru_spark
from pyspark import daemon

if __name__ == "__main__":
    if sys.version_info < (3, 13):
        miru_spark._install_zip_guard(record=True)
    daemon.manager()
