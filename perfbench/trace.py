"""Spans and counters of the traced run.

The tracer records a span (name, start, end, parent) around each call
the benchmark makes into a layer of the engine, keeps the spans in
memory, and writes them out when the run ends.  Counters come from
outside the engine:

- py4j commands, by wrapping the gateway client's ``send_command``;
- Spark stages and jobs, read once at the end from the status store
  and attributed to the innermost span that was open when each was
  submitted;
- files read, from the SQL status store's scan metrics.

The untraced run uses :class:`NullTracer`, whose spans cost one
attribute lookup each.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

STAGE_FIELDS = {
    # status-store StageData accessor -> counter name
    "executorCpuTime": "task_cpu_ns",
    "inputBytes": "bytes_read",
    "inputRecords": "rows_read",
    "outputBytes": "bytes_written",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
}


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None

    def wrap(self, obj, method: str, name: str) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j = 0
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            self.py4j += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        self._client, self._send = client, send

    def close(self) -> None:
        self._client.send_command = self._send

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans), "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, "py4j": self.py4j, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            # py4j commands issued inside the span (children included)
            rec["py4j"] = self.py4j - rec["py4j"]

    def wrap(self, obj, method: str, name: str) -> None:
        """Record a span around every call of ``obj.method`` (an
        instance attribute shadows the class's method, so only this
        object is affected)."""
        fn = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, method, traced)

    # --- end-of-run attribution -------------------------------------------

    def _innermost(self, t_ms: float) -> dict | None:
        """The innermost span open at epoch-ms ``t_ms``."""
        t = t_ms / 1000.0
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def attribute_spark(self) -> None:
        """Read every stage and job from the status store once, and add
        its counters to the span that submitted it."""
        jsc = self.spark.sparkContext._jsc.sc()
        store = jsc.statusStore()
        empty = self.spark.sparkContext._jvm.java.util.ArrayList()
        stages = store.stageList(
            empty, *[getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
        )
        for i in range(stages.size()):
            st = stages.apply(i)
            sub = st.submissionTime()
            if sub.isEmpty():
                continue
            span = self._innermost(sub.get().getTime())
            if span is None:
                continue
            span["stages"] = span.get("stages", 0) + 1
            for acc, key in STAGE_FIELDS.items():
                span[key] = span.get(key, 0) + int(getattr(st, acc)())
        jobs = store.jobsList(empty)
        for i in range(jobs.size()):
            jb = jobs.apply(i)
            sub = jb.submissionTime()
            if sub.isEmpty():
                continue
            span = self._innermost(sub.get().getTime())
            if span is not None:
                span["jobs"] = span.get("jobs", 0) + 1
        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            files = 0
            names = {}
            it = ex.metrics().iterator()
            while it.hasNext():
                m = it.next()
                names[m.accumulatorId()] = m.name()
            values = sql.executionMetrics(ex.executionId())
            for acc_id, name in names.items():
                if name != "number of files read":
                    continue
                v = values.get(acc_id)
                if not v.isEmpty():
                    files += int(str(v.get()).replace(",", ""))
            span = self._innermost(ex.submissionTime())
            if span is not None and files:
                span["files_read"] = span.get("files_read", 0) + files

    # --- summaries ---------------------------------------------------------

    def timed(self) -> list[dict]:
        """Spans inside a ``round`` span: set-up, warm-up and the checks
        outside the rounds are left out."""
        by_id = {s["id"]: s for s in self.spans}

        def root(s):
            while s["parent"] is not None:
                s = by_id[s["parent"]]
            return s

        return [s for s in self.spans if root(s)["name"] == "round"]

    def self_ms(self) -> dict[int, float]:
        """Each span's duration minus the part its children cover."""
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {
            s["id"]: 1000.0 * (s["end"] - s["start"] - child[s["id"]])
            for s in self.spans
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def spark_counters(every) -> dict:
    """The execution counters of BENCHMARK.json's per-layer list;
    ``every(key)`` sums a span counter over the timed spans."""
    return {
        "spark.jobs": every("jobs"),
        "spark.stages": every("stages"),
        "spark.task_cpu_ms": every("task_cpu_ns") / 1e6,
        "spark.shuffle_bytes": every("shuffle_read_bytes") + every("shuffle_write_bytes"),
        "spark.spill_bytes": every("spill_memory_bytes") + every("spill_disk_bytes"),
        "spark.files_read": every("files_read"),
        "spark.bytes_read": every("bytes_read"),
        "spark.rows_read": every("rows_read"),
    }
