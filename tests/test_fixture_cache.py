"""Build-once catalog fixtures shared through the temp dir: two
processes racing on one fixture root must build it once, and neither
may rmtree the other's half-built tree. Spark-free: the build is a
slow file write."""

import multiprocessing
import os
import time

from etl_fraud_detection_spark.plans.queries_ext import _built_once


def _build_racer(root: str, log: str, start) -> None:
    def build() -> None:
        with open(log, "a") as fh:
            fh.write(f"{os.getpid()}\n")
        os.makedirs(os.path.join(root, "t"), exist_ok=True)
        time.sleep(1.0)  # the window a second process could rmtree into
        with open(os.path.join(root, "t", "_CURRENT"), "w") as fh:
            fh.write("v1")

    start.wait(timeout=60)  # both processes check the marker together
    _built_once(root, "t/_CURRENT", build)
    # the fixture is whole when _built_once returns, in either process
    assert os.path.exists(os.path.join(root, "t", "_CURRENT"))


def test_built_once_is_exclusive_across_processes(tmp_path):
    root, log = str(tmp_path / "fixture"), str(tmp_path / "builds.log")
    # spawn, not fork: the pytest process may already hold Spark's
    # gateway threads
    ctx = multiprocessing.get_context("spawn")
    start = ctx.Barrier(2)
    procs = [
        ctx.Process(target=_build_racer, args=(root, log, start))
        for _ in range(2)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
        assert not p.is_alive()
        assert p.exitcode == 0
    with open(log) as fh:
        assert len(fh.read().split()) == 1  # built exactly once
    assert os.path.exists(os.path.join(root, ".built"))
    assert os.path.exists(os.path.join(root, "t", "_CURRENT"))
