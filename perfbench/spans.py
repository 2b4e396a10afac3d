"""Spans recorded from outside the engine, around calls into its layers.

``Tracer.wrap`` replaces a public function on the module its callers
look it up in (for example ``nsl_kdd_spark.pipeline.kmeans_assign``,
which ``kmeans_rf`` calls through its module globals) with a wrapper
that records a span around each call. Spans are kept in memory and
written out with the run record. Each span sets its own Spark job group
on the calling thread, so the jobs it submits can be attributed to it.
A span carries the id of the workload operation it belongs to.

``NullTracer`` has the same interface and records nothing; the untraced
run uses it, so both runs execute the same benchmark code.
"""

from __future__ import annotations

import contextlib
import functools
import time

GROUP_PREFIX = "perfbench-span-"   # job group of span n: GROUP_PREFIX + str(n)


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str):
        yield

    @contextlib.contextmanager
    def operation(self, op_id: int, name: str):
        yield

    def wrap(self, owner, attr: str, span_name: str, note=None) -> None:
        pass

    def unwrap_all(self) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self, sc):
        self._sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._wrapped: list[tuple[object, str, object]] = []

    def _set_group(self, span_id: int | None) -> None:
        if span_id is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{span_id}", self.spans[span_id]["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "op": self._op,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    @contextlib.contextmanager
    def operation(self, op_id: int, name: str):
        """Top-level span of one workload operation."""
        self._op = op_id
        try:
            with self.span(name):
                yield
        finally:
            self._op = None

    def wrap(self, owner, attr: str, span_name: str, note=None) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict such as
        ``plans.catalog.QUERIES``) with a traced wrapper. ``note(result)``
        may return fields to store on the span, such as a count."""
        original = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(span_name) as rec:
                result = original(*args, **kwargs)
                if note is not None:
                    rec.update(note(result))
                return result

        _put(owner, attr, traced)
        self._wrapped.append((owner, attr, original))

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._wrapped):
            _put(owner, attr, original)
        self._wrapped.clear()


def _put(owner, attr: str, value) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)
