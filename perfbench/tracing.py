"""Spans, the streaming progress capture and JVM process readings."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent) recorded around layer calls.

    Spans may be opened from several threads (the streaming sinks run on
    py4j callback threads); each thread keeps its own stack of open spans,
    and a thread with none open parents its spans under ``root``.
    ``records`` holds point events (streaming progress) written with them.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.records: list[dict] = []
        self.root: int | None = None
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.root
        rec = {"id": 0, "name": name, "parent": parent, "start": time.perf_counter(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"span": s}) + "\n")
            for r in self.records:
                f.write(json.dumps({"progress": r}) + "\n")


class StreamCapture:
    """StreamingQueryListener keeping every progress event, with the
    watermark, per-operator late drops and state commit times."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.events: list[dict] = []
        events = self.events

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                events.append(
                    {
                        "query": p.name,
                        "batch_id": p.batchId,
                        "input_rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                        "watermark": dict(p.eventTime).get("watermark"),
                        "state": [
                            {
                                "operator": so.operatorName,
                                "rows": so.numRowsTotal,
                                "bytes": so.memoryUsedBytes,
                                "commit_ms": so.commitTimeMs,
                                "update_ms": so.allUpdatesTimeMs,
                                "dropped_late": so.numRowsDroppedByWatermark,
                            }
                            for so in p.stateOperators
                        ],
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def drain(self) -> list[dict]:
        """Wait until queued listener events are delivered; return and
        clear the captured events."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        out = self.events[:]
        del self.events[: len(out)]
        return out

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat;
    the steal share tells how much the hypervisor held the CPUs back."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


class ProcessCpu:
    """CPU seconds (user + system) used so far by the JVM and this Python
    process together; the Python side runs the foreachBatch sinks and the
    listener. Time the hypervisor steals from the CPUs is not counted."""

    def __init__(self, spark):
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        self.stat = f"/proc/{pid}/stat"
        self.tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        with open(self.stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        t = os.times()
        return (int(fields[11]) + int(fields[12])) / self.tick + t.user + t.system


def jvm_gc_s(spark) -> float:
    """Summed collection time of the JVM's garbage collectors, in seconds."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the JVM process, from /proc."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")
