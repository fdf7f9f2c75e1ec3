"""Tracing for perfbench: in-memory spans, core-layer wrappers, a /proc
RSS sampler for PySpark Python workers, and a Spark event-log reader.

Spans are recorded by the benchmark around its calls into each layer.
The core wrappers replace module attributes for the duration of one
traced pass and restore them afterwards; the program's files are never
edited.  Spans are per document and per page (decode, tokenize,
interpret), never per glyph.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

now = time.perf_counter


class Tracer:
    """Spans (name, start, end, parent, trace, run) kept in memory and
    written once, with self times, by ``dump``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, trace=None):
        parent = self._stack[-1] if self._stack else None
        if trace is None and parent is not None:
            trace = self.spans[parent]["trace"]
        rec = {"name": name, "start": now(), "end": None, "parent": parent,
               "trace": trace, "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = now()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Duration minus the time covered by direct children (children
        of one span never overlap: the traced code is single-threaded)."""
        out = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def totals(self, prefix: str = "") -> dict[str, float]:
        """Self seconds summed per span name."""
        tot: dict[str, float] = {}
        for s, st in zip(self.spans, self.self_times()):
            if s["name"].startswith(prefix):
                tot[s["name"]] = tot.get(s["name"], 0.0) + st
        return tot

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, (s, st) in enumerate(zip(self.spans, self.self_times())):
                fh.write(json.dumps(dict(s, id=i, self=st)) + "\n")


@contextlib.contextmanager
def traced_core(tracer: Tracer, counters: dict):
    """Wrap the core layers' public calls in spans.

    core.cos.parse      PdfDocument(...) and PdfDocument.pages()
    core.filters.decode filters.decode_stream (also counts bytes out)
    core.content.tokenize  content.tokenize_content, as interp calls it
    core.interp.run     PageInterpreter.run_content
    core.htmltext       htmltext.extract_main_text
    """
    from pypdfproc_spark.core import cos, extract, filters, htmltext, interp

    def wrap(fn, name, count_bytes=False):
        def traced(*a, **kw):
            with tracer.span(name):
                out = fn(*a, **kw)
            if count_bytes:
                counters["bytes_inflated"] += len(out)
            return out
        return traced

    patches = [
        (extract, "PdfDocument", wrap(cos.PdfDocument, "core.cos.parse")),
        (cos.PdfDocument, "pages", wrap(cos.PdfDocument.pages,
                                        "core.cos.parse")),
        (filters, "decode_stream", wrap(filters.decode_stream,
                                        "core.filters.decode", True)),
        (interp, "tokenize_content", wrap(interp.tokenize_content,
                                          "core.content.tokenize")),
        (interp.PageInterpreter, "run_content",
         wrap(interp.PageInterpreter.run_content, "core.interp.run")),
        (htmltext, "extract_main_text", wrap(htmltext.extract_main_text,
                                             "core.htmltext")),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
    try:
        for obj, attr, fn in patches:
            setattr(obj, attr, fn)
        yield
    finally:
        for obj, attr, fn in saved:
            setattr(obj, attr, fn)


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % d) as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float:
    """VmRSS of a PySpark Python process (daemon or worker), else 0.
    The JVM's short-lived children (jspawnhelper, shells) carry the
    JVM's command line and memory image for a moment and must not
    count."""
    try:
        with open("/proc/%d/cmdline" % pid, "rb") as fh:
            argv = fh.read().split(b"\0")
        if b"python" not in os.path.basename(argv[0]) or not any(
                a.startswith(b"pyspark.") for a in argv):
            return 0.0
        with open("/proc/%d/status" % pid) as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler(threading.Thread):
    """Largest resident set of any PySpark Python process under the
    driver JVM, sampled every ``period`` seconds while running."""

    def __init__(self, jvm_pid: int, period: float = 0.05):
        super().__init__(daemon=True)
        self.jvm_pid, self.period = jvm_pid, period
        self.peak_mb = 0.0
        self._halt = threading.Event()

    def sample(self) -> None:
        for pid in descendants(self.jvm_pid):
            self.peak_mb = max(self.peak_mb, _rss_mb(pid))

    def run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.period)

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: stage/shuffle/spill/run-time totals from Spark's own
    JSON event log (one application per directory)."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    groups: dict[int, str] = {}     # stage id -> job group
    stages: dict[int, dict] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev["Stage IDs"]:
                        groups[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stages.setdefault(sid, {"tasks": []})["done"] = True
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], {"tasks": []})
                    st["tasks"].append((ev["Task Info"], ev.get("Task Metrics")
                                        or {}))
    out: dict[str, dict] = {}
    for sid, st in stages.items():
        g = groups.get(sid)
        if g is None or not st.get("done"):
            continue
        m = out.setdefault(g, {"stages": 0, "exchanges": 0,
                               "shuffle_read_bytes": 0,
                               "shuffle_write_bytes": 0, "spill_bytes": 0,
                               "executor_run_s": 0.0, "gc_s": 0.0,
                               "task_skew": 1.0, "_widest": 0})
        m["stages"] += 1
        wrote = 0
        durations = []
        for info, tm in st["tasks"]:
            sr = tm.get("Shuffle Read Metrics", {})
            sw = tm.get("Shuffle Write Metrics", {})
            wrote += sw.get("Shuffle Bytes Written", 0)
            m["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0))
            m["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0))
            m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            durations.append(info["Finish Time"] - info["Launch Time"])
        m["shuffle_write_bytes"] += wrote
        m["exchanges"] += wrote > 0
        if len(durations) > m["_widest"]:
            m["_widest"] = len(durations)
            med = statistics.median(durations)
            m["task_skew"] = max(durations) / med if med > 0 else 1.0
    for m in out.values():
        del m["_widest"]
    return out
