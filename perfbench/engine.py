"""Start and stop engine sessions for the benchmark, and keep every
file the engine writes inside the benchmark's work directory.

Each session gets its own JVM, so set-up can be repeated within one
process: :func:`stop` ends the session, closes the py4j gateway and
waits for the JVM to exit.
"""

from __future__ import annotations

import os
import shutil
import tempfile

#: streaming checkpoints go to this tmpfs when it exists (engine default)
SHM = "/dev/shm"
STAGE_ROOT = "/tmp/spark_graft_stage"


def keep_writes_in(work: str) -> dict[str, str]:
    """Point temp files, Spark's local dirs, the engine's staging cache
    and its streaming checkpoints under ``work``.  Must run before the
    first session starts.  Returns the extra Spark confs every session
    of this process needs."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "ckpt", "stage", "warehouse")}
    for d in dirs.values():
        # emptied per run: every run's cold pass fills the staging cache
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # every JVM, spark-submit's launcher included: temp files here, and no
    # hsperfdata file (which the JVM always puts under /tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={dirs['tmp']}", "-XX:-UsePerfData"]))
    tempfile.tempdir = dirs["tmp"]

    # a run writes only inside its checkout, so streaming checkpoints sit
    # on its disk, not on the engine's tmpfs (perfbench/NOTES.md)
    mkdtemp = tempfile.mkdtemp

    def mkdtemp_in_work(suffix=None, prefix=None, dir=None):
        return mkdtemp(suffix, prefix, dirs["ckpt"] if dir == SHM else dir)

    tempfile.mkdtemp = mkdtemp_in_work

    from map_reduce_multi_threaded_spark.sources import tables

    stage_scratch_dir = tables.stage_scratch_dir

    def stage_in_work(sf_dir, kind, *source_tables):
        path = stage_scratch_dir(sf_dir, kind, *source_tables)
        return dirs["stage"] + path[len(STAGE_ROOT):] if path.startswith(STAGE_ROOT) else path

    tables.stage_scratch_dir = stage_in_work
    return {"spark.sql.warehouse.dir": dirs["warehouse"]}


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None)
    return proc.pid if proc else None


def stop(spark) -> None:
    """Stop the session, shut the gateway and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway  # noqa: SLF001
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
