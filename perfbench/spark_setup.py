"""Session set-up and tear-down shared by the measured process and the
set-up probes.

The benchmark pins every host-derived setting of ``reden_spark.session``:
the master (``local[<nproc>]``), the driver heap (``SPARK_DRIVER_MEM``) and
the scratch directory (``SPARK_LOCAL_DIRS``). Every other program default is
left as users get it.

Run as a script (``python3 perfbench/spark_setup.py <manifest.json>``) it is
one set-up probe: a fresh process that starts a session, registers the
workload's inputs, prints the elapsed seconds as JSON and stops everything it
started.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench"
DRIVER_MEM = "2g"

# the input tables each workload registers (the pipeline reads the same names)
TABLES = {
    "kg_delta": ["transcripts", "mention_terms", "dico", "kb_edges", "rel_weights", "gold_links"],
    "curation": ["documents"],
}


def process_age() -> float:
    """Seconds since this process started (the kernel's start tick, 10 ms)."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - ticks / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_dir() -> Path:
    """This process's scratch space in the checkout, removed by stop_session."""
    return WORK / "proc" / str(os.getpid())


def pin_environment() -> None:
    """Explicit values for the settings the program would otherwise derive
    from the host (free memory, tmpfs headroom, a 32-core default), and temp
    files kept inside the checkout."""
    local, tmp = process_dir() / "spark-local", process_dir() / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # the JVM unpacks native libraries into java.io.tmpdir and, unless told
    # otherwise, keeps its performance counters in /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem"
    # Python workers import reden_spark from the checkout
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def start_session(app: str, extra_conf: dict[str, str] | None = None):
    from reden_spark.session import get_spark

    spark = get_spark(app, master=f"local[{nproc()}]", extra_conf=extra_conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def register_inputs(spark, workload: str, manifest: dict) -> None:
    """Resolve the first job's input tables through Spark (schema and file
    listing); later deltas arrive while the session runs."""
    part = manifest["parts"][0]
    for name in TABLES[workload]:
        spark.read.parquet(str(Path(part["dir"]) / f"{name}.parquet")).schema


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out: set[int] = set()
    todo = [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark) -> None:
    """Stop the session, the JVM behind it and every process they started,
    and wait until all of them have ended."""
    from pyspark import SparkContext

    before = _descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    while time.time() < deadline and any(_alive(p) for p in before):
        time.sleep(0.1)
    for p in before:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    shutil.rmtree(process_dir(), ignore_errors=True)


def probe(manifest_path: str) -> dict:
    manifest = json.loads(Path(manifest_path).read_text())
    pin_environment()
    spark = start_session("reden-perfbench-setup")
    try:
        register_inputs(spark, manifest["workload"], manifest)
        return {"setup_s": process_age()}
    finally:
        stop_session(spark)


if __name__ == "__main__":
    print(json.dumps(probe(sys.argv[1])))
