"""Tracing for the benchmark: spans with one Spark job group each, an
event-log reader that attributes task and SQL metrics to those groups,
the single-thread kernel trace, and a process-tree RSS sampler.

All of it observes the engine from outside: spans wrap calls into the
engine's public functions, and Spark's own event log supplies what ran
inside them.
"""

from __future__ import annotations

import base64
import contextlib
import glob
import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np


class NullTracer:
    """Untraced runs: spans cost one attribute lookup and nothing else."""

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory. Each span
    sets its own Spark job group, so every job started inside it can be
    attributed to it from the event log; leaving a span restores the
    parent's group."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.run_id = "setup"
        self._stack: list[int] = []

    @staticmethod
    def group_of(span: dict) -> str:
        return f"{span['run']}|{span['id']}|{span['name']}"

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "run": self.run_id,
            "parent": parent,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        self.sc.setJobGroup(self.group_of(s), name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self.sc.setJobGroup(
                self.group_of(self.spans[parent]) if parent is not None
                else f"{self.run_id}|-|idle",
                "idle",
            )

    def wall(self, run: str, name: str) -> float:
        """Summed wall seconds of the spans called ``name`` in one run."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["run"] == run and s["name"] == name and s["end"] is not None
        )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------


@dataclass
class GroupMetrics:
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_ns: int = 0
    output_bytes: int = 0
    acc: dict = field(default_factory=lambda: defaultdict(int))
    # stage id -> task durations (ms), for stages whose tasks wrote output
    write_task_ms: dict = field(default_factory=lambda: defaultdict(list))


@dataclass
class EventLog:
    """Task metrics and SQL accumulator updates summed per job group, with
    the plan node each SQL accumulator belongs to."""

    groups: dict[str, GroupMetrics]
    # accumulator id -> (plan node simpleString, metric name, metric type)
    acc_info: dict[int, tuple[str, str, str]]

    def _sql(self, groups, node: tuple[str, ...], metric: str):
        for g in groups:
            gm = self.groups.get(g)
            if gm is None:
                continue
            for acc_id, v in gm.acc.items():
                info = self.acc_info.get(acc_id)
                if info and info[1] == metric and all(p in info[0] for p in node):
                    yield v, info[2]

    def sql(self, groups, node: tuple[str, ...], metric: str) -> int:
        """Sum of one SQL metric over the plan nodes whose description
        contains every string in ``node``, in the metric's own unit."""
        return sum(v for v, _ in self._sql(groups, node, metric))

    def sql_seconds(self, groups, node: tuple[str, ...], metric: str) -> float:
        """``sql`` for a timing metric, converted to seconds."""
        scale = {"timing": 1e-3, "nsTiming": 1e-9}
        return sum(v * scale[t] for v, t in self._sql(groups, node, metric))


def _walk_plan(node: dict, out: dict) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["simpleString"], m["name"], m["metricType"])
    for c in node.get("children", []):
        _walk_plan(c, out)


def read_event_log(log_dir: str) -> EventLog:
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    groups: dict[str, GroupMetrics] = defaultdict(GroupMetrics)
    acc_info: dict[int, tuple[str, str, str]] = {}
    driver_updates: list[tuple[int, list]] = []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id", "-")
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
                if "spark.sql.execution.id" in props:
                    exec_group[int(props["spark.sql.execution.id"])] = g
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _walk_plan(ev["sparkPlanInfo"], acc_info)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_updates.append((ev["executionId"], ev["accumUpdates"]))
            elif kind == "SparkListenerTaskEnd":
                gm = groups[stage_group.get(ev["Stage ID"], "-")]
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                gm.tasks += 1
                if ev["Task End Reason"].get("Reason") != "Success":
                    gm.failed_tasks += 1
                    continue
                gm.run_ms += tm.get("Executor Run Time", 0)
                gm.cpu_ns += tm.get("Executor CPU Time", 0)
                gm.gc_ms += tm.get("JVM GC Time", 0)
                sw = tm.get("Shuffle Write Metrics", {})
                gm.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                gm.shuffle_write_ns += sw.get("Shuffle Write Time", 0)
                written = tm.get("Output Metrics", {}).get("Bytes Written", 0)
                if written:
                    gm.output_bytes += written
                    gm.write_task_ms[ev["Stage ID"]].append(
                        info["Finish Time"] - info["Launch Time"]
                    )
                for a in info.get("Accumulables", []):
                    if a.get("Metadata") == "sql" and "Update" in a:
                        gm.acc[a["ID"]] += int(a["Update"])
    for exec_id, updates in driver_updates:
        gm = groups[exec_group.get(exec_id, "-")]
        for acc_id, value in updates:
            gm.acc[acc_id] += int(value)
    return EventLog(groups=dict(groups), acc_info=acc_info)


# --------------------------------------------------------------------------
# Single-thread kernel trace
# --------------------------------------------------------------------------

# the embedded-line <img> of the page fixtures: (declared width, payload)
_IMG_RE = re.compile(
    r'<img[^>]*?data-width="(\d+)"[^>]*?(?:data-height="\d+"[^>]*?)?'
    r'data-strip="([A-Za-z0-9+/=]*)"'
)


def _jpeg_sof(payload: bytes) -> int:
    """The SOFn marker of a JPEG: 0xC0/0xC1 sequential, 0xC2 progressive."""
    pos = 2
    while pos + 4 <= len(payload):
        marker = payload[pos + 1]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            return marker
        pos += 2 + int.from_bytes(payload[pos + 2 : pos + 4], "big")
    raise ValueError("JPEG without SOF marker")


def _container(payload: bytes) -> str:
    from ocr_spark.kernels.jpeg import JPEG_MAGIC
    from ocr_spark.kernels.png import PNG_MAGIC

    if payload.startswith(PNG_MAGIC):
        return "png"
    if payload.startswith(JPEG_MAGIC):
        return "jpeg_progressive" if _jpeg_sof(payload) == 0xC2 else "jpeg_baseline"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    return "raw"


def _gif_gray(payload: bytes) -> np.ndarray:
    from ocr_spark.kernels.gif import iter_gif_frames

    for _no, rgb in iter_gif_frames(payload, max_frames=1):
        return rgb.astype(np.float32).mean(axis=2) / 255.0
    raise ValueError("GIF without frames")


STRIP_FORMATS = ("png", "jpeg_baseline", "jpeg_progressive", "gif")


def kernel_trace(htmls: list[bytes]) -> dict:
    """Times each kernel on one thread over ``htmls`` (a sample of a
    workload's own pages) and counts the work it did: DOM nodes, strips
    per container format, recognized lines. Returns summed seconds and
    counts; the caller scales them."""
    from ocr_spark.config import LINE_HEIGHT
    from ocr_spark.kernels.charset import decode_html
    from ocr_spark.kernels.font import recognize_lines_font
    from ocr_spark.kernels.html import extract_main_text, tokenize_html
    from ocr_spark.kernels.jpeg import jpeg_to_gray_float
    from ocr_spark.kernels.ocr import normalize_strip
    from ocr_spark.kernels.png import png_to_gray_float

    decoders = {
        "png": png_to_gray_float,
        "jpeg_baseline": jpeg_to_gray_float,
        "jpeg_progressive": jpeg_to_gray_float,
        "gif": _gif_gray,
    }
    t = defaultdict(float)
    n = defaultdict(int)
    clock = time.perf_counter
    for html in htmls:
        t0 = clock()
        text = decode_html(html)
        t1 = clock()
        nodes = tokenize_html(text)
        t2 = clock()
        extract_main_text(text)
        t3 = clock()
        t["decode"] += t1 - t0
        t["tokenize"] += t2 - t1
        t["extract"] += t3 - t2
        n["nodes"] += len(nodes)
        strips, widths = [], []
        for m in _IMG_RE.finditer(text):
            payload = base64.b64decode(m.group(2))
            fmt = _container(payload)
            if fmt not in decoders:
                continue
            t0 = clock()
            img = decoders[fmt](payload)
            t1 = clock()
            t[fmt] += t1 - t0
            n[fmt] += 1
            if img.shape[0] == LINE_HEIGHT:
                continue
            t0 = clock()
            strip, width = normalize_strip(
                img[:, : min(int(m.group(1)), img.shape[1])], mode="bilinear"
            )
            t["normalize"] += clock() - t0
            n["normalized"] += 1
            strips.append(strip)
            widths.append(width)
        if strips:
            t0 = clock()
            recognize_lines_font(np.stack(strips), np.asarray(widths, np.int64))
            t["recognize"] += clock() - t0
            n["lines"] += len(strips)
    return {"seconds": dict(t), "counts": dict(n), "docs": len(htmls)}


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of this machine so far, summed over CPUs.
    Stolen ticks are those a hypervisor ran another guest while this one
    had work to run."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


# --------------------------------------------------------------------------
# Peak resident memory of this process and all its descendants
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _statm(pid: int) -> tuple[int, ...] | None:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return tuple(map(int, f.read().split()))
    except OSError:
        return None  # exited since it was listed


def _children() -> dict[int, list[int]]:
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited since it was listed
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children[ppid].append(int(d))
    return children


def descendants(root: int) -> list[int]:
    children, out, todo = _children(), [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and its descendants. A child whose memory
    counters equal its parent's still shares the parent's address space
    (the JVM spawning a helper, e.g. Hadoop's ``chmod``) and is skipped,
    or the JVM would be counted twice."""
    children = _children()
    total = 0
    todo = [(root, None)]
    while todo:
        pid, parent_statm = todo.pop()
        statm = _statm(pid)
        if statm is None:
            continue
        if statm != parent_statm:
            total += statm[1] * _PAGE
        todo.extend((c, statm) for c in children.get(pid, ()))
    return total


class RssSampler:
    """Samples the process tree's summed RSS every ``interval`` seconds on
    a background thread while active; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def median(values) -> float:
    return statistics.median(values) if values else 0.0
