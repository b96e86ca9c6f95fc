"""The benchmark's Spark session and process accounting.

One process, `local[nproc]`, shuffle partitions = nproc, console progress
off, and every scratch byte (Spark local dirs, JVM temp, lake tables,
generated inputs) under the checkout's `.perfbench_scratch/`.
"""

from __future__ import annotations

import os
import tempfile


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start(scratch: str):
    from mariadb_cdc_spark.session import get_spark

    jtmp = os.path.join(scratch, "jvm-tmp")
    local = os.path.join(scratch, "spark-local")
    for d in (jtmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = jtmp
    tempfile.tempdir = jtmp
    n = nproc()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(1024 * 1024),
        # the status tracker must still hold every job a run submits
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this Python driver plus the JVM and
    every process under it (the Python UDF workers), in MB. Summing
    per-process peaks bounds their simultaneous peak from above."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        todo = [proc.pid]
        while todo:
            p = todo.pop()
            pids.append(p)
            todo.extend(_children(p))
    return sum(_hwm_kb(p) for p in set(pids)) / 1024.0


def stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the UDF workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gateway.shutdown()
        except Exception:  # gateway already gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except (OSError, AttributeError):
                pass
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
