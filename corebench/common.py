"""Shared pieces of the benchmark: the run context, order statistics, the
result stamp and peak-RSS reading."""

from __future__ import annotations

import hashlib
import os
import platform
import statistics
import subprocess
from dataclasses import dataclass, field

#: samples a tail percentile must leave beyond it
TAIL_BEYOND = 10


@dataclass
class Run:
    """State one workload run shares with the harness.

    ``ops`` holds one latency (s) per unit operation of the workload — a
    turn, a spec run, a transactional append. ``checks`` collects
    (name, ok, detail) rows; any failed check makes the run incorrect.
    ``extra`` carries the workload's own named numbers (such as
    ``first_thought_s.p50``), reported on stderr and in the sidecar."""

    spark: object
    seed: int
    sf: float
    seconds: float
    work: str
    data: str
    tracer: object | None = None
    state: object = None
    ops: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    items: int = 0
    items_wall_s: float = 0.0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append((name, bool(ok), str(detail)[:300]))
        return bool(ok)


def canonical_digest(pdf) -> tuple[str, int]:
    """(sha256, row count) of a pandas frame in the oracle tests'
    canonical form: columns sorted by name, every value as ``repr`` (NULL
    for missing), rows sorted."""
    import pandas as pd

    cols = sorted(pdf.columns)
    rows = sorted(
        tuple("NULL" if pd.isna(v) else repr(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest(), len(rows)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ``TAIL_BEYOND`` samples
    beyond it. Below ``2 * TAIL_BEYOND`` samples no percentile at or above
    the median qualifies, so the run's maximum is reported instead and
    ``beyond`` says 0."""
    n = len(xs)
    if n == 0:
        return {"value": 0.0, "pct": 100.0, "n": 0, "beyond": 0}
    s = sorted(xs)
    if n < 2 * TAIL_BEYOND:
        return {"value": s[-1], "pct": 100.0, "n": n, "beyond": 0}
    k = n - TAIL_BEYOND  # samples at or below the tail value
    return {"value": s[k - 1], "pct": round(100.0 * k / n, 1), "n": n,
            "beyond": TAIL_BEYOND}


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set (VmHWM) of a process in KiB, 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_digest(root: str) -> str:
    """sha256 over the program's Python sources (path + bytes, sorted) —
    identifies the code under test where no git metadata exists."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "bambooai_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip() or None


def stamp(spark, root: str, *, workload: str, seed: int, sf: float,
          cpus: int, trace: bool, input_sha256: str) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "workload": workload,
        "seed": seed,
        "sf": sf,
        "trace": trace,
        "nproc": os.cpu_count(),
        "cpus_usable": usable_cpus(),
        "cpus_used": cpus,
        "clients": 1,
        "spark": spark.version,
        "java": str(jvm.System.getProperty("java.version")),
        "python": platform.python_version(),
        "git_commit": git_commit(root),
        "source_sha256": source_digest(root),
        "input_sha256": input_sha256,
    }
