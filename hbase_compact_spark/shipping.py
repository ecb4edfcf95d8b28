"""Ship this package to Spark executors.

Python workers deserialize our Pandas-UDF closures by module
reference, so `hbase_compact_spark` must be importable on every
executor. The driver process that calls us may have been started from
anywhere (the spark-graft driver does not run from the repo root), so
every UDF-bearing operator calls :func:`ensure_package_on_executors`
first — it zips the package once and registers it via
``sc.addPyFile``, which distributes it to all current AND future
executors. On a real cluster the same call works; packaging the wheel
into ``spark.submit.pyFiles`` would be the deploy-time equivalent.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import threading
import zipfile

from pyspark.sql import SparkSession

# application id -> path of the zip shipped to it
_SHIPPED_APPS: dict[str, str] = {}
# Concurrent driver threads (serve-path overlaps, the test session's
# memo prebuild) may race this module: the pid-suffixed tmp name is
# NOT unique across threads, so two packagers could truncate each
# other's tmp and one os.replace would FileNotFoundError. Packaging
# runs once per content signature — serializing it is free.
_SHIP_LOCK = threading.Lock()


def _package_files() -> list[str]:
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = []
    for root, _, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for f in files:
            if f.endswith(".py"):
                out.append(os.path.join(root, f))
    return sorted(out)


def ensure_package_on_executors(spark: SparkSession) -> str:
    """Ship the package zip to the session's executors (once per
    application) and return the zip's local path."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APPS:
        return _SHIPPED_APPS[app_id]
    with _SHIP_LOCK:
        return _ensure_locked(spark, app_id)


def _ensure_locked(spark: SparkSession, app_id: str) -> str:
    if app_id in _SHIPPED_APPS:  # raced another thread past the fast check
        return _SHIPPED_APPS[app_id]
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    files = _package_files()
    # key the zip by CONTENT (path + mtime + size of every module),
    # not by PID: PID reuse across container restarts with a
    # persistent temp dir would otherwise ship a stale zip of old code
    sig = hashlib.md5(
        "\n".join(
            f"{p}:{os.stat(p).st_mtime_ns}:{os.stat(p).st_size}"
            for p in files
        ).encode()
    ).hexdigest()[:16]
    zip_path = os.path.join(
        tempfile.gettempdir(), f"hbase_compact_spark_{sig}.zip"
    )
    if not os.path.exists(zip_path):
        tmp = f"{zip_path}.tmp.{os.getpid()}"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full in files:
                rel = os.path.join(
                    "hbase_compact_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
        os.replace(tmp, zip_path)  # atomic: racers agree on content
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED_APPS[app_id] = zip_path
    return zip_path
