"""Spans around each call into the package, recorded from outside it.

A traced call is split into phases: ``construct`` (the public call
that returns a DataFrame), ``plan`` (``queryExecution().executedPlan()``)
and ``execute`` (the sink or collect); a public call that runs its own
jobs and returns nothing is one ``call`` phase. Each phase gets its own
job group, so the event log ties every job to the phase that started
it, and counts the py4j round trips made while it runs.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from eventlog import Span, call_metrics, read_events

UNTRACED_GROUP = "perfbench-untraced"


# py4j sends this when Python garbage-collects a JVM object proxy; when
# that happens depends on the collector, not on the call being traced
_GC_COMMAND = "m\nd\n"


class Py4jCounter:
    """Counts py4j commands sent to the JVM while ``active``, leaving
    out the object-release commands the Python collector triggers."""

    def __init__(self):
        self.count = 0
        self.active = False
        self._saved = []

    def install(self) -> None:
        from py4j import clientserver, java_gateway

        for cls in (
            clientserver.ClientServerConnection,
            java_gateway.GatewayConnection,
        ):
            orig = cls.send_command

            def send_command(conn, command, *args, _orig=orig, **kwargs):
                if self.active and not command.startswith(_GC_COMMAND):
                    self.count += 1
                return _orig(conn, command, *args, **kwargs)

            cls.send_command = send_command
            self._saved.append((cls, orig))

    def uninstall(self) -> None:
        for cls, orig in self._saved:
            cls.send_command = orig
        self._saved.clear()


class Tracer:
    """Runs calls into the package; when enabled, records a span, a
    job group and a py4j count per phase."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.calls: dict[str, dict] = {}
        self._py4j = Py4jCounter()
        if enabled:
            self._py4j.install()

    def close(self) -> None:
        self._py4j.uninstall()

    @contextmanager
    def only(self, traced: bool):
        """Record inside the block only if ``traced`` (and enabled)."""
        was = self.enabled
        self.enabled = was and traced
        try:
            yield
        finally:
            self.enabled = was

    def frame(self, site: str, construct, execute=None):
        """``construct()`` returns a DataFrame; ``execute(df)`` runs it.
        Returns (df, execute's result)."""
        if not self.enabled:
            df = construct()
            return df, execute(df) if execute else None
        call = self._new_call(site)
        df = self._phase(call, "construct", construct)
        self._phase(
            call, "plan", lambda: df._jdf.queryExecution().executedPlan()
        )
        out = self._phase(call, "execute", lambda: execute(df)) if execute else None
        return df, out

    def call(self, site: str, fn):
        """A public call that runs its own jobs."""
        if not self.enabled:
            return fn()
        return self._phase(self._new_call(site), "call", fn)

    def _new_call(self, site: str) -> str:
        n = sum(1 for c in self.calls.values() if c["site"] == site)
        call = f"{site}#{n}"
        self.calls[call] = {"site": site, "py4j_calls": 0}
        return call

    def _phase(self, call: str, phase: str, fn):
        sc = self.spark.sparkContext
        group = f"{call}:{phase}"
        sc.setJobGroup(group, "perfbench")
        self._py4j.count = 0
        self._py4j.active = True
        start = time.time()
        try:
            return fn()
        finally:
            end = time.time()
            self._py4j.active = False
            rec = self.calls[call]
            rec[f"{phase}_s"] = end - start
            rec["py4j_calls"] += self._py4j.count
            self.spans.append(Span(call, phase, group, start * 1e3, end * 1e3))
            sc.setJobGroup(UNTRACED_GROUP, "perfbench")

    def site_metrics(self, event_log: str) -> dict[str, dict]:
        """Per site, the median over its calls of every metric."""
        from_log = call_metrics(read_events(event_log), self.spans)
        by_site: dict[str, list[dict]] = {}
        for call, rec in self.calls.items():
            merged = {k: v for k, v in rec.items() if k != "site"}
            merged.update(from_log[call])
            by_site.setdefault(rec["site"], []).append(merged)
        # a call that raised during construction has no later phases
        return {
            site: {
                k: statistics.median(c.get(k, 0.0) for c in calls)
                for k in {k for c in calls for k in c}
            }
            for site, calls in sorted(by_site.items())
        }
