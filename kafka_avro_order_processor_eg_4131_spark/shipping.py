"""Make this package importable on executor Python workers.

The driver may load ``__spark_entry__.py`` by file path from any cwd;
``sys.path`` surgery there fixes only the driver process. Any Python
UDF (the Avro OCF codec, text/vector pandas UDFs) is cloudpickled **by
reference** to this package, so executor workers must be able to
``import kafka_avro_order_processor_eg_4131_spark`` themselves. The
standard mechanism is ``SparkContext.addPyFile`` with a zip of the
package — equivalent to ``--py-files`` on a real cluster submit, where
the zip ships with the job to all 1000 executors.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import tempfile
import zipfile

_shipped_contexts: set[int] = set()
_zip_path: str | None = None


def _build_zip() -> str:
    """Zip the package's ``.py`` files once per process. The zip is
    always written fresh (temp name, then ``os.replace``): a file left at
    the same path by an earlier process with a recycled pid, or by a
    build killed halfway, would ship another checkout's code. It is
    removed when the interpreter exits."""
    global _zip_path
    if _zip_path is not None:
        return _zip_path
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    zip_path = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{os.getpid()}.zip"
    )
    tmp_path = zip_path + ".tmp"
    with zipfile.ZipFile(tmp_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fname in files:
                if not fname.endswith(".py"):
                    continue
                full = os.path.join(root, fname)
                rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    os.replace(tmp_path, zip_path)
    atexit.register(_remove, zip_path)
    _zip_path = zip_path
    return zip_path


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def ship_package(spark) -> None:
    """Idempotently attach the package zip to the session's SparkContext."""
    sc = spark.sparkContext
    key = id(sc)
    if key in _shipped_contexts:
        return
    sc.addPyFile(_build_zip())
    _shipped_contexts.add(key)
