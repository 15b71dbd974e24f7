"""SparkSession factory tuned for the engine.

Local mode is the test harness; the conf set is chosen to also be correct
on a real multi-executor cluster (AQE on, Arrow on, sane shuffle
parallelism). On a 1000-executor cluster the same builder is used with
``master`` unset (picked up from spark-submit) and shuffle partitions
sized to ~2-3x total cores.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import weakref
from collections import deque
from collections.abc import Callable

from pyspark.sql import SparkSession


class IndexRegistry:
    """The long-lived values (index handles, cached DataFrames, read
    plans) of ONE session, each built once per key
    ``(os.path.abspath(sf_dir), kind)`` by the ``build(sf_dir)`` given to
    ``get`` and released by its ``unpersist()``. Index directories go
    under one temp root, removed by ``close()`` or at interpreter exit.
    Held on its session (``session_registry``): a restarted session
    starts empty instead of serving handles of a stopped SparkContext."""

    def __init__(self) -> None:
        self._held: dict[tuple[str, str], object] = {}
        self._cleanup: weakref.finalize | None = None
        self.root: str | None = None

    def get(self, sf_dir: str, kind: str, build: Callable[[str], object]):
        key = (os.path.abspath(sf_dir), kind)
        if key not in self._held:
            self._held[key] = build(key[0])
        return self._held[key]

    def held(self, sf_dir: str, kind: str):
        """The value held for (sf_dir, kind), or None; never builds."""
        return self._held.get((os.path.abspath(sf_dir), kind))

    def tmpdir(self, prefix: str) -> str:
        if self._cleanup is None or not self._cleanup.alive:
            self.root = tempfile.mkdtemp(prefix="alertsage_registry_")
            self._cleanup = weakref.finalize(self, shutil.rmtree, self.root, True)
        return tempfile.mkdtemp(prefix=prefix, dir=self.root)

    def close(self) -> None:
        """Unpersist and drop every held value, remove the temp root;
        the next ``get`` rebuilds."""
        for value in self._held.values():
            try:
                value.unpersist()
            except Exception:
                pass  # session already stopped — nothing to release
        self._held.clear()
        if self._cleanup is not None:
            self._cleanup()


def session_registry(spark: SparkSession) -> IndexRegistry:
    if not hasattr(spark, "_alertsage_registry"):
        spark._alertsage_registry = IndexRegistry()
    return spark._alertsage_registry


def local_df(spark: SparkSession, rows, schema: str):
    """Small driver-side literal relation as ONE Arrow local batch: the
    rows (tuples, matched positionally to the DDL ``schema``) become one
    ``pyarrow.Table`` with the schema's names and types, which plans as
    a LocalTableScan (``<empty>`` for no rows) and broadcasts without a
    scan stage. ``createDataFrame(list)`` instead parallelizes even an
    18-row set into a defaultParallelism-task RDD scan that every action
    and every join on it pays again (~0.3 s on local[32]). A None is
    NULL and a float NaN stays NaN."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def spread_small_scan(df, probe=None):
    """Round-robin repartition to defaultParallelism — ONLY when the
    input has fewer partitions (r6): a single-file parquet fixture scans
    as 1-2 partitions, which serializes every map-side-heavy consumer
    (tokenize, shingle explode, minhash kernels) onto 1-2 cores while
    the rest idle. At corpus scale inputs already carry >= parallelism
    partitions and this is a no-op — never a blanket shuffle.

    ``probe``: DataFrame whose partition count to inspect (default
    ``df``). Pass the underlying plain SCAN when ``df`` contains joins:
    .rdd on an adaptive plan with exchanges materializes its query
    stages eagerly — the probe must stay a metadata-only question."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if (probe if probe is not None else df).rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def persist_bounded(df, registry: deque, keep: int = 2):
    """persist() with a bounded per-site registry: operators that
    materialize a per-call intermediate (postings at build, minhash
    bands, shingle tables) call this so repeated invocations in one
    process do not accumulate storage without bound — the oldest entry
    beyond ``keep`` is unpersisted (correctness-safe: an evicted
    DataFrame silently recomputes if still referenced). Registries are
    module-level deques, one per persist site."""
    df = df.persist()
    registry.append(df)
    while len(registry) > keep:
        old = registry.popleft()
        try:
            old.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    return df


def get_spark(
    app_name: str = "alertsage_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the same code path serves tests, bench, and the N-vs-4N scaling
    runs. On a cluster, pass ``master=None`` with an externally configured
    session (spark-submit) and this returns the active session.

    Python workers start from ``alertsage_spark.worker_daemon``
    (``spark.python.daemon.module``): pyspark's stock daemon plus a guard
    that stops every zipimporter from re-reading pyspark.zip's directory
    before each Python task unless the archive changed. That re-read cost
    ~150-250 ms per task on CPython 3.11 (an empty 1-partition
    mapPartitions job measured ~340 ms, ~105 ms with the guard, against
    ~75 ms for a JVM-only job on 4 cores), the largest fixed cost of a
    distributed query. Workers must therefore be able to import
    ``alertsage_spark`` — every engine UDF already needs that. Sessions
    not built here (the one handed to ``__spark_entry__.entry``, the
    ``spark-submit --py-files`` launch in ``scripts/build_and_query.py``)
    run the stock daemon, unchanged.

    DataFrame debugging is off (``spark.python.sql.dataFrameDebugging.
    enabled=false``). With it on, every Column call (``F.col``, ``isin``,
    ``|``, ``==``: a query plan makes dozens) walks the Python stack,
    makes several py4j round trips and tries ``import IPython`` and
    ``import ipykernel`` to name the call site; where IPython is
    installed the first call loads it (~26 MB of driver memory) and every
    later call retries the failing ipykernel import. What is lost: a
    DataFrame error's query context no longer names the Python file and
    line that built the failing expression (the JVM-side context stays).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match local parallelism; on a real cluster override to 2-3x cores
        n = cpus if cpus.isdigit() else "32"
        shuffle_partitions = int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "64g"))
        # shuffle/spill on tmpfs: the sandbox's /tmp is one spinning disk,
        # which serializes shuffle I/O; a real cluster's shuffle dirs scale
        # with the number of nodes
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/alertsage-warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "alertsage_spark.worker_daemon")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
