from __future__ import annotations

import itertools
import sys
import threading

import pytest

sys.path.insert(0, "/root/repo")


@pytest.fixture(scope="session")
def spark():
    from panditya_spark.session import get_spark
    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("panditya-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def rows(df, *cols):
    """Collect as sorted list of tuples for order-insensitive equality."""
    if cols:
        df = df.select(*cols)
    return sorted((tuple(r) for r in df.collect()), key=repr)


_job_groups = itertools.count()


def count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted through a fresh job
    group."""
    sc = spark.sparkContext
    group = f"count-jobs-{next(_job_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def count_py4j(fn):
    """(fn(), number of py4j commands this thread sent while fn ran).
    py4j's finalizer thread sends the JVM-side deletes of garbage proxy
    objects whenever it runs; those are not counted."""
    from py4j.clientserver import ClientServerConnection

    sent = 0
    caller = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        nonlocal sent
        sent += threading.get_ident() == caller
        return send(self, *args, **kwargs)

    ClientServerConnection.send_command = counting
    try:
        out = fn()
    finally:
        ClientServerConnection.send_command = send
    return out, sent
