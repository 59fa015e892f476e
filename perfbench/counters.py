"""Outside-in counters: lake bytes and files per layer, files a run wrote,
and peak resident memory of this process and its JVM child, read from
the file system and ``/proc`` (no instrumentation in the package)."""

from __future__ import annotations

import os
import resource

LAYERS = ("raw", "stage", "analytics", "features")


def snapshot(lake: str) -> dict[str, tuple[int, int]]:
    """{file path relative to ``lake``: (size, mtime_ns)}."""
    out = {}
    for root, _, files in os.walk(lake):
        for name in files:
            path = os.path.join(root, name)
            st = os.stat(path)
            out[os.path.relpath(path, lake)] = (st.st_size, st.st_mtime_ns)
    return out


def layer_totals(snap: dict[str, tuple[int, int]]) -> dict[str, tuple[int, int]]:
    """{layer: (bytes, files)} for the medallion layers."""
    out = {layer: (0, 0) for layer in LAYERS}
    for rel, (size, _) in snap.items():
        layer = rel.split(os.sep, 1)[0]
        if layer in out:
            b, f = out[layer]
            out[layer] = (b + size, f + 1)
    return out


def written(before: dict, after: dict) -> dict[str, tuple[int, int]]:
    """{``layer/table``: (bytes, files)} of files a run created or changed."""
    out: dict[str, tuple[int, int]] = {}
    for rel, stat in after.items():
        if before.get(rel) == stat:
            continue
        table = os.sep.join(rel.split(os.sep)[:2])
        b, f = out.get(table, (0, 0))
        out[table] = (b + stat[0], f + 1)
    return out


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                # the command name is parenthesised and may hold spaces
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            kids.append(int(entry))
    return kids


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and its
    children (the Spark driver JVM), in seconds."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    total = ru.ru_utime + ru.ru_stime
    for pid in _children(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, and the same for its waited-for children (the
        # launcher JVM that spark-submit runs before exec'ing the driver)
        total += sum(int(f) for f in fields[11:15]) / os.sysconf("SC_CLK_TCK")
    return total


def peak_rss_mb() -> tuple[float, float]:
    """Peak RSS (VmHWM) in MiB of this process, and the sum over its
    children (the Spark driver JVM)."""
    children = sum(_vm_hwm_kb(p) for p in _children(os.getpid()))
    return _vm_hwm_kb("self") / 1024, children / 1024
