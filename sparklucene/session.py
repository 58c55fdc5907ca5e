"""SparkSession factory with the engine's scale-oriented defaults.

Designed for a 1000-executor cluster; the sandbox runs local[N]. Every
knob here is the one you'd set at 100 TB: AQE on (runtime re-plan + skew
join splitting), Arrow transfers on (all our UDFs are pandas/Arrow
vectorized), shuffle partitions sized to cores locally (cluster: 2-3x
total cores), and broadcast join threshold left to AQE.

JVM <-> Python-worker traffic goes over Unix domain sockets
(``spark.python.unix.domain.socket.enabled``). Over loopback TCP, every
Python task with a small input waited a fixed ~41 ms between the start of
its UDF body and the arrival of its first Arrow batch: the worker socket
leaves Nagle's algorithm on, and a small write then waits for Linux's
delayed-ACK timer. Over UDS that wait is under 1 ms. On a 4-core host,
the execution of a warm query on a 100k-doc serve index fell from
92-93 ms to 52-54 ms, and a 1-task no-op ``mapInArrow`` job from
60-68 ms to 18-28 ms. Large transfers (dense queries, builds) never
stalled. The same flag moves ``createDataFrame``, collect /
``toPandas`` / ``toArrow`` and the accumulator server onto UDS as well.

Cached tables are built in batches of 1,024 rows
(``spark.sql.inMemoryColumnarStorage.batchSize``; Spark's default is
10,000). The postings table is one term-sorted segment per doc range, so
a query term's cells sit in one batch per range, and the cache skips the
other batches by their (min, max) term stats. Smaller batches mean fewer
rows decoded per range: on a 4-core host, in one process over a 100k-doc
serve index (7 ranges), the warm ``search()`` p50 was 0.132 s with
10,000-row batches and 0.110 s with 1,024 (medians of 4 alternating
rounds of 50 queries).

The socket dir is set explicitly (``_socket_dir``). Left unset, Spark
uses ``java.io.tmpdir``, and a socket path longer than AF_UNIX's 107
bytes kills session start with ``OSError: AF_UNIX path too long`` (raised
by the accumulator server in ``SparkContext.__init__``), e.g. whenever a
benchmark points ``java.io.tmpdir`` into a deep checkout.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# AF_UNIX sun_path holds 107 bytes plus the NUL; Spark names each socket
# ``<dir>/.<uuid4>.sock``, which is len(dir) + 43 bytes
_SUN_PATH_MAX = 107
_SOCK_NAME_LEN = 43


def _socket_dir(tmp: str) -> str:
    """The dir for the Python-worker sockets: ``tmp`` when a socket path
    under it fits AF_UNIX's limit, else ``/tmp``."""
    if len(os.fsencode(tmp)) + _SOCK_NAME_LEN <= _SUN_PATH_MAX:
        return tmp
    return "/tmp"


def get_spark(app_name: str = "sparklucene", cores: int | None = None,
              shuffle_partitions: int | None = None,
              serving: bool = False) -> SparkSession:
    """``serving=True`` tunes for query latency: AQE off (the query-path
    shuffle is tiny and sized explicitly by search(), so adaptive
    stage-by-stage execution only adds scheduling latency). Builds want
    the default (AQE on)."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "1024")
        .config("spark.driver.memory", os.environ.get("SPARKLUCENE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir",
                _socket_dir(tempfile.gettempdir()))
    )
    spark = builder.getOrCreate()
    if serving:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    return spark
