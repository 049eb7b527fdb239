"""Memory the driver side holds: the Python processes' PSS plus what the
JVM reports it holds after a full collection.

The JVM's resident size is left out on purpose. How much of a 2 g heap the
JVM has touched follows GC sizing decisions, not the program, and it varied
by 10-35 % between runs of the same ops (README, "Steadiness"). Live heap,
non-heap and direct buffers, read through the JVM's management beans right
after ``System.gc()``, are what the program's code and data occupy.
"""

from __future__ import annotations

import gc
import os
import time

_MB = 2.0**20
#: Seconds between the two collections of ``held_mb``.
CLEANER_WAIT_S = 0.5


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return ""  # exited between the listing and the read


def python_pss_mb() -> float:
    """PSS of the Python driver and the Python workers under the JVM."""
    total_kb = 0
    for pid in tree():
        if _read(f"/proc/{pid}/comm").strip() == "java":
            continue
        for line in _read(f"/proc/{pid}/smaps_rollup").splitlines():
            if line.startswith("Pss:"):
                total_kb += int(line.split()[1])
                break
    return total_kb / 1024.0


def held_mb(spark) -> dict[str, float]:
    """The memory figure's parts, in MB: ``python`` (PSS of the Python
    driver and workers), then the driver JVM's ``heap`` left by a full GC,
    its ``nonheap`` used (metaspace, code cache) and its ``direct`` buffers.

    The heap part is each heap pool's usage as of the end of its last
    collection, which is the second ``System.gc()`` made here; reading the
    heap's current usage instead would count what other JVM threads
    allocate in the moments after it. Before the collections, Python frees
    its unreachable cycles, which releases the JVM objects they proxy, and
    the listener bus drains its queued events. The first collection hands
    Spark's ContextCleaner the broadcasts and shuffles nothing references
    any more; the pause lets it drop their blocks before the second one."""
    gc.collect()
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(CLEANER_WAIT_S)
    jvm.java.lang.System.gc()
    mgmt = jvm.java.lang.management.ManagementFactory
    heap = 0
    for pool in mgmt.getMemoryPoolMXBeans():
        after = pool.getCollectionUsage()
        if str(pool.getType()) == "Heap memory" and after is not None:
            heap += after.getUsed()
    buffers = mgmt.getPlatformMXBeans(
        jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean"))
    return {
        "python": python_pss_mb(),
        "heap": heap / _MB,
        "nonheap": mgmt.getMemoryMXBean().getNonHeapMemoryUsage().getUsed() / _MB,
        "direct": sum(max(0, b.getMemoryUsed()) for b in buffers) / _MB,
    }
