"""Sessions send JVM <-> Python-worker traffic over Unix domain sockets, in a
socket dir that always fits AF_UNIX's path limit, and every channel the
flag moves works: Arrow UDFs, collect / toPandas / toArrow,
createDataFrame and accumulators."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

from sparklucene.session import _socket_dir

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_socket_dir_keeps_a_dir_whose_sockets_fit():
    assert _socket_dir("/tmp") == "/tmp"
    fits = "/" + "d" * 63  # 64 bytes + 43 for "/.<uuid4>.sock" = 107
    assert _socket_dir(fits) == fits


def test_socket_dir_falls_back_to_tmp_for_a_long_dir():
    assert _socket_dir("/" + "d" * 64) == "/tmp"
    # the limit is in bytes: 32 two-byte characters are 64 bytes
    assert _socket_dir("/" + "é" * 32) == "/tmp"
    assert _socket_dir("/" + "é" * 31) == "/" + "é" * 31


def test_session_runs_python_workers_over_unix_sockets(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.unix.domain.socket.enabled") == "true"
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")
    assert sock_dir == _socket_dir(tempfile.gettempdir())
    # the accumulator server listens on a socket path, not a (host, port)
    addr = spark.sparkContext._accumulatorServer.server_address
    assert isinstance(addr, str) and addr.startswith(sock_dir + "/")


_CHANNELS = r"""
import glob, json, tempfile, time
import pandas as pd
import pyarrow as pa
from sparklucene.session import get_spark

sock_dir = "/tmp"
before = set(glob.glob(sock_dir + "/.*.sock"))
spark = get_spark(app_name="uds-channels", cores=2, shuffle_partitions=2)
sc = spark.sparkContext

def plus_one(batches):
    for b in batches:
        yield pa.RecordBatch.from_pydict({"id": [v + 1 for v in
                                                 b.column(0).to_pylist()]})

acc = sc.accumulator(0)
def add(row):
    acc.add(row.id)

df = spark.range(5)
out = {
    "tmpdir": tempfile.gettempdir(),
    "java_tmpdir": sc._jvm.java.lang.System.getProperty("java.io.tmpdir"),
    "sock_dir": sc.getConf().get("spark.python.unix.domain.socket.dir"),
    "map_in_arrow": sorted(r.id for r in
                           df.mapInArrow(plus_one, "id long").collect()),
    "collect": [r.id for r in df.collect()],
    "to_pandas": df.toPandas()["id"].tolist(),
    "to_arrow": df.toArrow().column("id").to_pylist(),
    "to_local_iterator": [r.id for r in df.toLocalIterator()],
    "create_df": sorted(r.x for r in spark.createDataFrame(
        pd.DataFrame({"x": [3, 1, 2]})).collect()),
}
df.foreach(add)
out["accumulator"] = acc.value
mine = set(glob.glob(sock_dir + "/.*.sock")) - before
out["sockets_open"] = len(mine)
spark.stop()
deadline = time.monotonic() + 10
while mine & set(glob.glob(sock_dir + "/.*.sock")) \
        and time.monotonic() < deadline:
    time.sleep(0.1)
out["sockets_left"] = sorted(mine & set(glob.glob(sock_dir + "/.*.sock")))
print("RESULT " + json.dumps(out))
"""


def test_every_channel_works_with_a_long_temp_path(tmp_path):
    """A temp dir too long for a socket path (as perfbench's per-run dir
    in a deep checkout is) must not break session start or any channel,
    and stop() must leave no socket behind."""
    long_tmp = tmp_path / ("t" * 40) / ("u" * 40)
    long_tmp.mkdir(parents=True)
    long_tmp = str(long_tmp)
    assert len(long_tmp) > 70
    env = dict(os.environ, TMPDIR=long_tmp,
               PYTHONPATH=os.pathsep.join(
                   p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
               PYSPARK_SUBMIT_ARGS="--conf spark.driver.extraJavaOptions="
                                   f"-Djava.io.tmpdir={long_tmp} "
                                   "--conf spark.ui.showConsoleProgress=false "
                                   "pyspark-shell")
    proc = subprocess.run([sys.executable, "-c", _CHANNELS], env=env,
                          cwd=str(tmp_path), capture_output=True, text=True,
                          timeout=300)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])
    assert out["tmpdir"] == long_tmp
    assert out["java_tmpdir"] == long_tmp
    assert out["sock_dir"] == "/tmp"
    assert out["map_in_arrow"] == [1, 2, 3, 4, 5]
    for channel in ("collect", "to_pandas", "to_arrow", "to_local_iterator"):
        assert out[channel] == [0, 1, 2, 3, 4], channel
    assert out["create_df"] == [1, 2, 3]
    assert out["accumulator"] == 10
    # the accumulator server's and the worker daemon's sockets
    assert out["sockets_open"] >= 2
    assert out["sockets_left"] == []
