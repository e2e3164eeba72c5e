"""Spans and counters for the traced run, kept in memory until the run ends.

A span records its name, start, end, parent and run id, plus what happened
inside it: the Spark jobs it issued (each span sets its own job group), their
stages, tasks and shuffle records and bytes, and the number of py4j round
trips (counted by wrapping the py4j client's send path). Job, stage and
shuffle counts are read once at the end from the monitoring REST endpoint,
after the listener bus has drained; the endpoint needs the Spark UI, so the
traced run enables it.

With ``enabled=False`` every method is a no-op, so untraced runs pay nothing.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager


class Py4jCounter:
    """Counts py4j commands sent to the JVM from any thread."""

    def __init__(self) -> None:
        self.value = 0
        self._lock = threading.Lock()
        self._patched: list[tuple[type, object]] = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            original = cls.send_command

            def send_command(conn, command, *a, _orig=original, **kw):
                with self._lock:
                    self.value += 1
                return _orig(conn, command, *a, **kw)

            cls.send_command = send_command
            self._patched.append((cls, original))

    def uninstall(self) -> None:
        for cls, original in self._patched:
            cls.send_command = original
        self._patched.clear()


class CatalystPhases:
    """Catalyst phase durations of the executions that actually ran.

    A ``DataFrameWriter`` action plans its query in a QueryExecution of its
    own, which Python never sees; a ``QueryExecutionListener`` (a py4j
    callback) receives it, so nothing is planned a second time to read the
    phases. Analysis happens when the DataFrame is built, so it is read
    from the DataFrame's own tracker before the action runs (afterwards
    that tracker's analysis phase also spans the action's analysis).
    """

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self._sc = spark.sparkContext
        self._manager = spark._jsparkSession.listenerManager()
        self._executions: list = []
        self._lock = threading.Lock()
        self._manager.register(self)

    # QueryExecutionListener, called from the JVM's listener thread; keeps
    # the QueryExecution and makes no JVM call there
    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        with self._lock:
            self._executions.append(qe)

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        with self._lock:
            self._executions.append(qe)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def analyzed(self, df):
        """The phases the DataFrame's construction recorded."""
        return df._jdf.queryExecution().tracker().phases()

    @staticmethod
    def _seconds(phases, name: str) -> float:
        opt = phases.get(name)
        return opt.get().durationMs() / 1000 if opt.isDefined() else 0.0

    def take(self, analyzed) -> dict:
        """Phases of the latest finished action; ``analyzed`` is what
        ``analyzed(df)`` returned for its DataFrame. Clears the backlog."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        with self._lock:
            executions, self._executions = self._executions, []
        ran = executions[-1].tracker().phases()
        return {"analysis": self._seconds(analyzed, "analysis"),
                "optimization": self._seconds(ran, "optimization"),
                "planning": self._seconds(ran, "planning")}

    def close(self) -> None:
        self._manager.unregister(self)
        with self._lock:
            self._executions.clear()


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.py4j = Py4jCounter()
        self._own_calls = 0  # py4j calls made by the tracer's own bookkeeping
        self.sc = None
        self._rest: str | None = None

    def attach(self, spark) -> None:
        """Start counting once the session exists (the traced session runs
        with the UI on, for the REST endpoint)."""
        if not self.enabled:
            return
        self.sc = spark.sparkContext
        if self.sc.uiWebUrl:
            self._rest = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.py4j.install()

    def close(self) -> None:
        self.py4j.uninstall()

    def wrap(self, owner, attr: str, span_name: str) -> None:
        """Replace ``owner.attr`` (a module's function or a class's method)
        by a wrapper that runs it inside a span called ``span_name``. Wrap
        the name where the caller looks it up, so the package's own call
        path is what gets measured."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapped(*a, **kw):
            with self.span(span_name):
                return original(*a, **kw)

        setattr(owner, attr, wrapped)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans), "name": name, "parent": parent["id"] if parent else None,
            "run": self.run_id, "attrs": attrs, "group": f"{self.run_id}:{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        before = self.py4j.value
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        self._own_calls += self.py4j.value - before
        calls0, own0 = self.py4j.value, self._own_calls
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = (self.py4j.value - calls0) - (self._own_calls - own0)
            self._stack.pop()
            before = self.py4j.value
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._own_calls += self.py4j.value - before

    # ------------------------------------------------------------ read-outs
    def rest(self, path: str):
        if self._rest is None:
            return None
        with urllib.request.urlopen(f"{self._rest}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def drain(self) -> None:
        """Wait until every posted Spark event reached the status store."""
        if self.sc is not None:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def max_job_id(self) -> int:
        """Highest job id the REST endpoint knows (-1 untraced or none yet)."""
        self.drain()
        return max((j["jobId"] for j in self.rest("jobs") or []), default=-1)

    def finish(self) -> None:
        """Resolve each span's jobs into stage/task/shuffle counts. Called
        once, after the traced work, so no REST call runs inside a span."""
        if not self.enabled or self.sc is None:
            return
        self.drain()
        by_group: dict[str, list[dict]] = {}
        for j in self.rest("jobs") or []:
            by_group.setdefault(j.get("jobGroup"), []).append(j)
        stages = {}
        for s in self.rest("stages?status=complete") or []:
            cur = stages.setdefault(s["stageId"], dict.fromkeys(
                ("shuffleWriteRecords", "shuffleWriteBytes"), 0))
            for k in cur:
                cur[k] += s.get(k, 0)
        for rec in self.spans:
            n_stages = n_tasks = failed = recs = nbytes = 0
            jobs = by_group.get(rec["group"], [])
            for j in jobs:
                n_stages += j.get("numCompletedStages", 0) + j.get("numFailedStages", 0)
                n_tasks += j.get("numCompletedTasks", 0) + j.get("numFailedTasks", 0)
                failed += j.get("numFailedTasks", 0)
                for sid in j.get("stageIds", []):
                    st = stages.get(sid)
                    if st:
                        recs += st["shuffleWriteRecords"]
                        nbytes += st["shuffleWriteBytes"]
            rec.update(jobs=len(jobs), stages=n_stages, tasks=n_tasks,
                       failed_tasks=failed, shuffle_records=recs, shuffle_bytes=nbytes)

    # -------------------------------------------------------- aggregation
    def descendants(self, rec: dict) -> list[dict]:
        out, frontier = [], [rec["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out.extend(kids)
            frontier = [k["id"] for k in kids]
        return out

    def inclusive(self, rec: dict, key: str) -> float:
        return rec.get(key, 0) + sum(d.get(key, 0) for d in self.descendants(rec))

    def self_time(self, rec: dict) -> float:
        """Duration minus the union of the intervals its children cover."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == rec["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def under(self, roots: list[dict], name: str) -> list[dict]:
        """Spans called ``name`` at or below any of ``roots``."""
        out = []
        for r in roots:
            out.extend(s for s in [r, *self.descendants(r)] if s["name"] == name)
        return out

    def total(self, roots: list[dict], name: str, key: str = "dur") -> float:
        """Sum of ``key`` over spans called ``name`` below ``roots``: ``dur``
        is seconds, ``self_s`` self seconds, any other key is a count taken
        inclusive of child spans."""
        tot = 0.0
        for rec in self.under(roots, name):
            if key == "dur":
                tot += rec["end"] - rec["start"]
            elif key == "self_s":
                tot += self.self_time(rec)
            else:
                tot += self.inclusive(rec, key)
        return tot

    def dump(self, path) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(
                [{**s, "self_s": self.self_time(s)} for s in self.spans], fh, default=str
            )
