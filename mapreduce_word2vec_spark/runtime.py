"""Worker-side distribution of this package, and the lifecycle of the
caches a catalog query takes (:func:`query_scope`).

Python UDFs (pandas UDFs, ``applyInPandas`` functions) are pickled
**by reference** to their defining module, so executor Python workers
must be able to ``import mapreduce_word2vec_spark`` — true on a real
cluster only if the package is shipped. :func:`ensure_workers_can_import`
zips the package once and registers it with ``SparkContext.addPyFile``
(the same mechanism ``spark-submit --py-files`` uses), making every
catalog query self-contained no matter where the driver process runs.
"""

from __future__ import annotations

import os
import tempfile
import zipfile
from collections.abc import Iterator
from contextlib import contextmanager
from contextvars import ContextVar
from pathlib import Path

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

_ADDED: set[int] = set()

# Caches an operator takes (shingle tables, iteration state) must live
# until the CALLER's terminal action runs, which the operator never
# sees. So they belong to the catalog query that built them: the
# ``register`` wrapper opens a :func:`query_scope` around the query's
# construction and frees it once the returned DataFrame is garbage-
# collected. A ContextVar keeps each thread's (and each nested query's)
# scope separate.
_SCOPE: ContextVar[list | None] = ContextVar("persist_scope", default=None)


@contextmanager
def query_scope() -> Iterator[list]:
    """Collect every :func:`tracked_persist` made inside the block into
    one scope (a list of JVM Dataset handles); pass it to
    :func:`release_scope` when the query's result is no longer used."""
    scope: list = []
    token = _SCOPE.set(scope)
    try:
        yield scope
    finally:
        _SCOPE.reset(token)


def release_scope(scope: list) -> None:
    """Unpersist every cache recorded in ``scope`` (non-blocking: the
    blocks drop asynchronously, and a plan still reading them simply
    recomputes from lineage)."""
    while scope:
        try:
            scope.pop().unpersist(False)
        except Py4JError:
            pass  # session already stopped — nothing to release


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` owned by the active :func:`query_scope`. The
    scope records the JVM handle, not the Python DataFrame, so a query
    returning its own persisted frame can still be collected (and its
    scope freed). Outside a scope this is a plain persist the caller
    owns."""
    df = df.persist()
    scope = _SCOPE.get()
    if scope is not None:
        scope.append(df._jdf)
    return df


def detach(df: DataFrame) -> DataFrame:
    """``df``'s rows behind a leaf plan: a scan of ``df``'s RDD, which
    reads ``df``'s cache while it lasts and recomputes from lineage
    after. Iterative operators detach each materialized step before
    building the next one on it, and a cache that every step of an
    unrolled plan reads. Left nested, every step's cached plan would
    contain all the earlier ones, and with adaptive execution on, Spark
    renders each nested cached plan twice in the description it builds
    at every stage update: on a path graph the per-step time doubled
    with every step from the eighth on."""
    spark = df.sparkSession
    jdf = spark._jsparkSession.createDataFrame(df._jdf.javaRDD(), df._jdf.schema())
    return DataFrame(jdf, spark)


def ensure_workers_can_import(spark: SparkSession) -> None:
    sc = spark.sparkContext
    key = id(sc)
    if key in _ADDED:
        return
    pkg_dir = Path(__file__).resolve().parent
    zpath = Path(tempfile.gettempdir()) / f"mapreduce_word2vec_spark_{os.getpid()}.zip"
    if not zpath.exists():
        with zipfile.ZipFile(zpath, "w") as z:
            for p in sorted(pkg_dir.rglob("*.py")):
                z.write(p, arcname=str(Path(pkg_dir.name) / p.relative_to(pkg_dir)))
    sc.addPyFile(str(zpath))
    _ADDED.add(key)
