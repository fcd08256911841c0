"""Host-side measurements: process-tree CPU and memory from /proc, bytes
on disk, host shape, and the in-process kernel probe."""

from __future__ import annotations

import contextlib
import os
import platform
import statistics
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may hold spaces; the fields after it start past the last ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """`root` and every live descendant (the driver JVM, the pyspark
    daemon and the Python workers it forks)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the tree, including reaped children: a worker
    that exits is waited for by a parent in the tree, whose cutime/cstime
    then carry its time, so deltas of this sum stay exact."""
    ticks = 0
    for pid in process_tree(root):
        fields = _stat(pid)
        if fields:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def jit_cpu_s(jvm: int) -> float:
    """CPU of the JVM's JIT compiler threads."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            with open(f"/proc/{jvm}/task/{tid}/comm", encoding="ascii", errors="replace") as fh:
                if "Compiler" not in fh.read():
                    continue
            with open(f"/proc/{jvm}/task/{tid}/stat", encoding="ascii", errors="replace") as fh:
                raw = fh.read()
        except OSError:  # the thread ended
            continue
        ticks += sum(int(v) for v in raw[raw.rindex(")") + 2:].split()[11:13])
    return ticks / _TICK


def _steal_ticks() -> tuple[int, int]:
    """(steal, busy + steal) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(v) for v in fh.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


@contextlib.contextmanager
def timed():
    """Wall time of a block, and that wall net of hypervisor steal.

    On a shared VM a vCPU that wants to run can be descheduled by the
    host; /proc/stat counts that as steal. `steal_share` is steal over
    busy+steal jiffies during the block, the share of the time the VM's
    running vCPUs were stopped, so `net_s` = wall × (1 − steal_share) is
    the wall the block would take on an uncontended host. On an idle host
    the two are equal."""
    rec: dict = {}
    s0, t0 = _steal_ticks(), time.perf_counter()
    try:
        yield rec
    finally:
        rec["wall_s"] = time.perf_counter() - t0
        s1 = _steal_ticks()
        rec["steal_share"] = (s1[0] - s0[0]) / max(s1[1] - s0[1], 1)
        rec["net_s"] = rec["wall_s"] * (1 - rec["steal_share"])


def python_peak_rss_mb(root: int) -> float:
    """Highest VmHWM over the Python processes under `root`."""
    peak_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "python" in status.get("Name", "") and "VmHWM" in status:
            peak_kb = max(peak_kb, int(status["VmHWM"].split()[0]))
    return peak_kb / 1024


def data_bytes(path: str) -> int:
    """Bytes of the data files under `path` (Hadoop's `.crc` and `_SUCCESS`
    side files excluded)."""
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dirpath, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


def _git_head(root: str) -> str:
    head_file = os.path.join(root, ".git", "HEAD")
    if not os.path.exists(head_file):
        return "absent: not a git checkout"
    with open(head_file, encoding="ascii") as fh:
        head = fh.read().strip()
    if head.startswith("ref: "):
        ref = os.path.join(root, ".git", head[5:])
        if os.path.exists(ref):
            with open(ref, encoding="ascii") as fh:
                return fh.read().strip()
        return head
    return head


def host_shape(root: str, master: str) -> dict:
    import pyarrow
    import pyspark

    siblings = "/sys/devices/system/cpu/cpu0/topology/thread_siblings_list"
    smt = None
    if os.path.exists(siblings):
        with open(siblings, encoding="ascii") as fh:
            smt = any(c in fh.read() for c in ",-")
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return {
        "vcpus": os.cpu_count(),
        "usable_cpus": len(os.sched_getaffinity(0)),
        "smt": smt,
        "ram_gib": round(mem_kb / 2**20, 1),
        "cpu_model": platform.processor() or platform.machine(),
        "master": master,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "git_head": _git_head(root),
    }


# ---------------------------------------------------------------- kernels

PARSERS = (
    "minipdf", "minidom", "realpdf", "ooxml", "odf", "ole_doc", "ole_xls",
    "ole_ppt", "rtf", "image_ocr", "miniimg",
)
_OLE_STREAMS = (
    ("ole_doc", "WordDocument"),
    ("ole_xls", "Workbook"),
    ("ole_xls", "Book"),
    ("ole_ppt", "PowerPoint Document"),
)


def parser_of(doc_type: str, content: bytes) -> str:
    """The parser `kernels.detect` routes a doc to, from the same magic
    bytes it sniffs."""
    from documentconvert_spark.kernels.miniimg import MAGIC as MINIIMG_MAGIC
    from documentconvert_spark.kernels.minidoc import OLE_MAGIC
    from documentconvert_spark.kernels.miniooxml import ZIP_MAGIC

    if doc_type == "pdf":
        return "realpdf" if content[:1024].lstrip().startswith(b"%PDF-") else "minipdf"
    if doc_type == "image":
        return "miniimg" if content.startswith(MINIIMG_MAGIC) else "image_ocr"
    if content.startswith(ZIP_MAGIC):
        return "odf" if b"content.xml" in content else "ooxml"
    if content.startswith(OLE_MAGIC):
        for parser, stream in _OLE_STREAMS:
            if stream.encode("utf-16-le") in content:
                return parser
        return "ole_doc"
    if content[:1024].lstrip().startswith(b"{\\rtf"):
        return "rtf"
    return "minidom"


def kernel_probe(sample: list[tuple[str, bytes, float]], passes: int = 3) -> dict:
    """Time `kernels.detect.extract_*_any`, the markdown fold and
    `Span.as_dict` in this process, one core, on (doc_type, content,
    weight) samples of a workload's own docs. A doc's time is its median
    over `passes`; `weight` scales sample counts to the workload."""
    from documentconvert_spark.kernels.detect import (
        extract_image_any, extract_office_any, extract_pdf_any)
    from documentconvert_spark.kernels.markdown import spans_to_markdown

    kernels = {"pdf": extract_pdf_any, "markup": extract_office_any, "image": extract_image_any}
    per: dict[str, dict] = {p: {"cpu_s": 0.0, "docs": 0.0, "errors": 0.0, "n": 0} for p in PARSERS}
    fold_s, dict_s, n_ok, kernel_cpu_s = [], [], 0, 0.0
    for doc_type, content, weight in sample:
        parser = parser_of(doc_type, content)
        times, spans = [], None
        for _ in range(passes):
            t0 = time.thread_time()
            try:
                spans = kernels[doc_type](content)
            except Exception:  # noqa: BLE001 — a contained error row, as in the UDF
                spans = None
            times.append(time.thread_time() - t0)
        cpu = statistics.median(times)
        rec = per[parser]
        rec["cpu_s"] += cpu
        rec["n"] += 1
        rec["docs"] += weight
        rec["errors"] += weight if spans is None else 0.0
        kernel_cpu_s += cpu * weight
        if spans is not None:
            t0 = time.thread_time()
            spans_to_markdown(spans)
            t1 = time.thread_time()
            [s.as_dict() for s in spans]
            fold_s.append(t1 - t0)
            dict_s.append(time.thread_time() - t1)
            n_ok += 1
    out = {"kernel_cpu_s": kernel_cpu_s}
    for parser, rec in per.items():
        out[f"kernels.{parser}.us_per_doc"] = rec["cpu_s"] / rec["n"] * 1e6 if rec["n"] else 0.0
        out[f"kernels.{parser}.docs"] = round(rec["docs"])
        out[f"kernels.{parser}.errors"] = round(rec["errors"])
    out["kernels.markdown.us_per_doc"] = sum(fold_s) / max(n_ok, 1) * 1e6
    out["kernels.spans.as_dict_us_per_doc"] = sum(dict_s) / max(n_ok, 1) * 1e6
    return out
