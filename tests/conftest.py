from __future__ import annotations

import collections
import contextlib
import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from event_driven_etl_msc_research_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "engine-tests",
        master="local[8]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "8g",
        },
    )
    yield s
    s.stop()


@pytest.fixture()
def tmp_root(tmp_path):
    return str(tmp_path)


@contextlib.contextmanager
def gateway_round_trips():
    """Count py4j gateway round trips (Python → JVM commands) while the
    block runs.  Yields a ``Counter`` keyed by ``threading.get_ident()``
    of the thread that sent each command: the caller's own thread for a
    verb it runs, the callback thread for a listener event."""
    from py4j.clientserver import ClientServerConnection

    counts: collections.Counter = collections.Counter()
    send = ClientServerConnection.send_command

    def counted(self, command):
        counts[threading.get_ident()] += 1
        return send(self, command)

    ClientServerConnection.send_command = counted
    try:
        yield counts
    finally:
        ClientServerConnection.send_command = send


def assert_pdf_equal(got, exp, cols=None):
    """dtype-tolerant frame equality (Spark int32 vs pandas int64 etc.)."""
    import pandas as pd

    cols = cols or list(exp.columns)
    g = got[cols].reset_index(drop=True).copy()
    e = exp[cols].reset_index(drop=True).copy()
    for c in cols:
        if str(g[c].dtype).startswith("int"):
            g[c] = g[c].astype("int64")
        if str(e[c].dtype).startswith("int"):
            e[c] = e[c].astype("int64")
        if "datetime" in str(g[c].dtype) or "datetime" in str(e[c].dtype):
            g[c] = pd.to_datetime(g[c], utc=True)
            e[c] = pd.to_datetime(e[c], utc=True)
    pd.testing.assert_frame_equal(g, e)


def dedup_latest_window(df, key_cols, version_cols):
    """The slow, plain oracle for ``operators.dedup.dedup_latest``: rank
    each key's rows by version, keep the first."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(*key_cols).orderBy(*[F.desc(c) for c in version_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


@pytest.fixture(params=["local", "object"])
def storage_factory(request):
    """Parameterizes table suites over BOTH storage backends: the POSIX
    default and the in-process fake object store (conditional PUT, no
    rename/link/mtime-walk).  Passing the factory (not an instance) lets a
    test build several handles on one root, like concurrent writers do."""
    from event_driven_etl_msc_research_spark.sinks.storage import (
        FakeObjectStorage,
        LocalFSStorage,
    )

    cls = LocalFSStorage if request.param == "local" else FakeObjectStorage
    return lambda root: cls(root)
