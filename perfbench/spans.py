"""Spans and counters recorded from outside the package.

A traced run wraps the package's public layer functions (see
``LAYER_FUNCS``) so that every call records a span: name, start, end,
parent span and the op id it belongs to. Spans are kept in memory and
summarised when the run ends. Counters (Spark jobs and stages, JVM and
Python-worker CPU, GC time, persisted RDDs, streaming batches) are read
at the same op boundaries.

An untraced run uses ``NullTracer``, whose ``span`` is a no-op, and
installs no wrappers.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

#: (module, function name) -> layer span name. Wrapped wherever the
#: function object is bound in a loaded package module, so calls made
#: from inside registered queries are traced too.
LAYER_FUNCS = {
    ("oracle_to_cassandra_spark.sources.parquet", "load_table"): "sources.open",
    ("oracle_to_cassandra_spark.sinks.cassandra_style", "write_query_table"): "sinks.write",
    ("oracle_to_cassandra_spark.pipelines", "build_orders_table"): "pipelines.build",
    ("oracle_to_cassandra_spark.pipelines", "build_orders_by_customer"): "pipelines.build",
    ("oracle_to_cassandra_spark.pipelines", "build_lineitems_by_part"): "pipelines.build",
    ("oracle_to_cassandra_spark.pipelines", "build_lineitems_by_supplier"): "pipelines.build",
    ("oracle_to_cassandra_spark.staging", "stage"): "staging.stage",
}

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class NullTracer:
    enabled = False

    def span(self, name: str):
        return nullcontext()


class Tracer:
    """In-memory span recorder for one single-threaded client.

    Spans named in ``GROUP_TAGS`` also set the Spark job group (through
    ``on_group``) for their extent, so jobs can be attributed to the
    op part that submitted them."""

    enabled = True
    GROUP_TAGS = {"op": "o", "queries.construct": "c", "queries.action": "a",
                  "sinks.read": "r"}

    def __init__(self) -> None:
        #: [name, start, end, parent index, op id]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._groups: list[str | None] = [None]
        self.op_id: tuple | None = None
        self.on_group = None
        self.write_stats = {"files": 0, "bytes": 0, "rows": 0}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        tag = self.GROUP_TAGS.get(name) if self.on_group and self.op_id else None
        if tag:
            group = "-".join(map(str, (*self.op_id, tag)))
            self._groups.append(group)
            self.on_group(group, tag)
        rec = [name, time.perf_counter(), None,
               self._stack[-1] if self._stack else None, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()
            if tag:
                self._groups.pop()
                self.on_group(self._groups[-1], None)

    def totals_for(self, keep) -> tuple[dict, dict, dict]:
        """Per span name over the spans ``keep`` accepts: inclusive
        seconds, self seconds (duration minus the direct children's
        durations) and call count."""
        child: dict[int, float] = defaultdict(float)
        for name, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        incl: dict[str, float] = defaultdict(float)
        selft: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for i, span in enumerate(self.spans):
            if not keep(span):
                continue
            name, t0, t1 = span[:3]
            incl[name] += t1 - t0
            selft[name] += (t1 - t0) - child.get(i, 0.0)
            calls[name] += 1
        return dict(incl), dict(selft), dict(calls)


def install_layer_spans(tracer: Tracer) -> int:
    """Wrap every binding of a ``LAYER_FUNCS`` function in the loaded
    package modules; returns the number of bindings replaced."""
    import importlib

    wrappers = {}
    for (mod_name, fn_name), span_name in LAYER_FUNCS.items():
        fn = getattr(importlib.import_module(mod_name), fn_name)
        wrappers[fn] = _wrap(fn, span_name, tracer)
    replaced = 0
    for mod_name, mod in list(sys.modules.items()):
        if not mod_name.startswith("oracle_to_cassandra_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if callable(val) and val in wrappers:
                setattr(mod, attr, wrappers[val])
                replaced += 1
    return replaced


def _wrap(fn, span_name: str, tracer: Tracer):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(span_name):
            out = fn(*args, **kwargs)
        if span_name == "sinks.write" and tracer.enabled and tracer.op_id:
            files, size = _parquet_files(kwargs.get("path") or args[1])
            tracer.write_stats["files"] += files
            tracer.write_stats["bytes"] += size
        return out

    return traced


def _parquet_files(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size


# --- counters ---------------------------------------------------------


def _proc_cpu(pid: int) -> tuple[float, float]:
    """(own utime+stime, reaped children's cutime+cstime) in seconds."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    own = int(fields[11]) + int(fields[12])
    reaped = int(fields[13]) + int(fields[14])
    return own / _CLK_TCK, reaped / _CLK_TCK


def children(pid: int) -> list[int]:
    """Pids of the processes forked by any thread of ``pid``."""
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def python_worker_cpu(jvm_pid: int, roots: list[int]) -> float:
    """CPU seconds of every Python process under the JVM (the PySpark
    daemon and its forked workers), live or already reaped by the
    daemon. ``roots`` caches the JVM's Python children between calls:
    the daemon lives as long as the session, and scanning every JVM
    thread's children is the expensive part."""
    if not roots:
        roots.extend(p for p in children(jvm_pid) if _is_python(p))
    total = 0.0
    todo = list(roots)
    while todo:
        pid = todo.pop()
        try:
            own, reaped = _proc_cpu(pid)
            todo.extend(children(pid))
        except OSError:
            continue
        # reaped children are counted through their parent only
        total += own + reaped
    return total


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


def jvm_cpu(jvm_pid: int) -> float:
    return _proc_cpu(jvm_pid)[0]


def jvm_peak_rss_mb(jvm_pid: int) -> float:
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Counters:
    """Counter reads at op boundaries against one live SparkSession."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self.status = self.sc.statusTracker()
        self.gc_beans = list(self.jvm.java.lang.management.ManagementFactory
                             .getGarbageCollectorMXBeans())
        self.py_roots: list[int] = []
        self.batches = 0
        self.batch_ms = 0.0
        self._listener = None
        self._op_groups: list[tuple[str, str]] = []

    def gc_s(self) -> float:
        return sum(max(0, b.getCollectionTime()) for b in self.gc_beans) / 1000.0

    def job_group(self, group: str | None, tag: str | None) -> None:
        """Tracer hook: route the next jobs to ``group`` (None clears)."""
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            return
        self.sc.setJobGroup(group, group)
        if tag is not None:
            self._op_groups.append((group, tag))

    def take_jobs(self) -> dict[str, tuple[int, int]]:
        """(jobs, stages) per group tag of the op just finished."""
        out: dict[str, tuple[int, int]] = {}
        for group, tag in self._op_groups:
            jobs = self.status.getJobIdsForGroup(group)
            stages = 0
            for jid in jobs:
                info = self.status.getJobInfo(jid)
                if info is not None:
                    stages += len(info.stageIds)
            nj, ns = out.get(tag, (0, 0))
            out[tag] = (nj + len(jobs), ns + stages)
        self._op_groups = []
        return out

    def staged(self) -> tuple[int, float]:
        """(persisted RDD count, MB they hold in memory and on disk)."""
        n = int(self.sc._jsc.getPersistentRDDs().size())
        if n == 0:
            return 0, 0.0
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return n, sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def add_stream_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        counters = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                counters.batches += 1
                counters.batch_ms += float(event.progress.batchDuration)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    def drain_events(self) -> None:
        """Block until listener events posted so far are delivered, so
        stream batch counts land on the op that produced them."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def remove_stream_listener(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None
