"""The session's JVM <-> Python transport is a Unix domain socket
(``spark.python.unix.domain.socket.enabled``): every kind of traffic that
crosses it still works, and a socket dir too long for an AF_UNIX path
falls back to /tmp instead of failing session start."""

from __future__ import annotations

import pandas as pd

from ragflow_spark.session import _socket_dir


def test_session_uses_unix_socket(spark):
    assert spark.conf.get("spark.python.unix.domain.socket.enabled") == "true"

    def env(batches):
        import os

        for _ in batches:
            yield pd.DataFrame(
                {"uds": [os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")]}
            )

    # the worker daemon was started in Unix-socket mode
    got = spark.range(0, 4, 1, 4).mapInPandas(env, "uds string").collect()
    assert [r.uds.lower() for r in got] == ["true"] * 4


def test_traffic_over_unix_socket(spark):
    # a Python task, and createDataFrame(pandas) / toPandas over Arrow
    pdf = pd.DataFrame({"a": [1, 2, 3], "s": ["x", None, "z"]})

    def double(batches):
        for b in batches:
            yield b.assign(a=b["a"] * 2)

    out = (
        spark.createDataFrame(pdf)
        .mapInPandas(double, "a long, s string")
        .toPandas()
        .sort_values("a")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(out, pdf.assign(a=pdf["a"] * 2))
    # accumulator updates travel back to the driver's update server
    acc = spark.sparkContext.accumulator(0)
    spark.range(0, 10, 1, 3).foreach(lambda r: acc.add(r.id))
    assert acc.value == 45


def test_socket_dir_fallback():
    def opts(tmp):
        return {"spark.driver.extraJavaOptions": f"-Xms1g -Djava.io.tmpdir={tmp} -X"}

    assert _socket_dir({}) is None  # JVM default /tmp
    assert _socket_dir(opts("/tmp/" + "d" * 59)) is None  # 64 bytes: fits
    assert _socket_dir(opts("/tmp/" + "d" * 60)) == "/tmp"
    long_but_set = {**opts("/x" * 80), "spark.python.unix.domain.socket.dir": "/s"}
    assert _socket_dir(long_but_set) is None
