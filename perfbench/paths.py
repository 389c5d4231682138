"""Where the benchmark runs and where it writes."""

from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"


def environment() -> None:
    """Put the repository on the import path, keep every file the run
    writes inside the checkout, and size the driver to the host. Nothing
    here is a Spark or SQL conf."""
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    tmp, local = WORK / "tmp", WORK / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(16 << 10, total_kb // 4096)}m")
