"""Python worker daemon: ``pyspark.daemon`` with a zipimport guard.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, and on CPython < 3.13 each of the
~16 ``zipimporter``s over that archive then re-reads its whole central
directory: ~0.2 s of worker CPU per task before the first row.  The
guard re-reads an archive only when ``os.stat`` shows a different
(inode, size, mtime_ns) than at its last read; a missing archive takes
the stock path.  ``session.build_session`` names this module in
``spark.python.daemon.module``; the daemon forks every worker, so the
guard lives only in worker processes.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
_reads: dict = {}  # archive -> (signature before its last read, its files)


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _reads.pop(self.archive, None)
        _stock_invalidate(self)
        return
    sig = (st.st_ino, st.st_size, st.st_mtime_ns)
    last = _reads.get(self.archive)
    if last is not None and last[0] == sig:
        self._files = last[1]
    else:
        _stock_invalidate(self)
        _reads[self.archive] = (sig, self._files)


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
