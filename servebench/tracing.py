"""Outside-in layer tracing for the traced runs.

``Tracer`` wraps public functions of the program from the benchmark's own
files: coarse layer calls become spans (name, start, end, thread, key),
hot per-row and per-value calls become counts and busy time in 100 ms
buckets. Everything stays in memory until ``dump``. Timestamps use the
system-wide monotonic clock, so spans written by the server process line up
with the client's timed window.
"""

from __future__ import annotations

import functools
import inspect
import json
import threading
import time
from collections import defaultdict

_now = time.monotonic


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counters: dict[str, dict[int, list]] = defaultdict(lambda: defaultdict(lambda: [0, 0.0, 0]))
        self.calls = 0
        self._local = threading.local()

    def _active(self) -> set:
        s = getattr(self._local, "active", None)
        if s is None:
            s = self._local.active = set()
        return s

    def span(self, owner, attr: str, name: str, group: str | None = None, key=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records one span per
        call. With ``group``, calls nested in another call of the same
        group are not recorded (outermost only). ``key(args, result)``
        gives the span a correlation key."""
        fn = getattr(owner, attr)
        spans, active = self.spans, self._active
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            tracer.calls += 1
            act = active()
            if group is not None and group in act:
                return fn(*a, **kw)
            if group is not None:
                act.add(group)
            t0 = _now()
            res = None
            try:
                res = fn(*a, **kw)
                return res
            finally:
                t1 = _now()
                if group is not None:
                    act.discard(group)
                spans.append((name, t0, t1, threading.get_ident(), key(a, res) if key else None))

        setattr(owner, attr, wrapper)

    def count(self, owner, attr: str, name: str, group: str | None = None, size=None) -> None:
        """Replace ``owner.attr`` by a wrapper that adds one call, its busy
        time and ``size(args)`` units to the 100 ms bucket it started in.
        Generator functions are timed step by step."""
        fn = getattr(owner, attr)
        buckets, active = self.counters[name], self._active
        tracer = self

        if inspect.isgeneratorfunction(fn):
            @functools.wraps(fn)
            def gen_wrapper(*a, **kw):
                tracer.calls += 1
                it = fn(*a, **kw)
                busy = 0.0
                t_start = _now()
                try:
                    while True:
                        t0 = _now()
                        try:
                            item = next(it)
                        except StopIteration:
                            busy += _now() - t0
                            return
                        busy += _now() - t0
                        yield item
                finally:
                    b = buckets[int(t_start * 10)]
                    b[0] += 1
                    b[1] += busy

            setattr(owner, attr, gen_wrapper)
            return

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            tracer.calls += 1
            act = active()
            if group is not None and group in act:
                return fn(*a, **kw)
            if group is not None:
                act.add(group)
            t0 = _now()
            try:
                return fn(*a, **kw)
            finally:
                t1 = _now()
                if group is not None:
                    act.discard(group)
                b = buckets[int(t0 * 10)]
                b[0] += 1
                b[1] += t1 - t0
                if size is not None:
                    b[2] += size(a)

        setattr(owner, attr, wrapper)

    def wrapper_cost(self, n: int = 20000) -> dict[str, float]:
        """Seconds one span wrapper and one count wrapper add per call,
        measured on a no-op in a throw-away tracer."""
        probe = Tracer()

        class _Box:
            @staticmethod
            def f():
                return None

            g = f

        probe.span(_Box, "f", "probe")
        probe.count(_Box, "g", "probe")
        out = {}
        for label, fn in (("bare", lambda: None), ("span", _Box.f), ("count", _Box.g)):
            t0 = time.perf_counter()
            for _ in range(n):
                fn()
            out[label] = (time.perf_counter() - t0) / n
        return {"span": max(0.0, out["span"] - out["bare"]), "count": max(0.0, out["count"] - out["bare"])}

    def dump(self, path: str, jobs: list | None = None) -> None:
        doc = {
            "spans": self.spans,
            "counters": {k: {str(b): v for b, v in d.items()} for k, d in self.counters.items()},
            "calls": self.calls,
            "wrapper_cost": self.wrapper_cost(),
            "jobs": jobs or [],
        }
        with open(path, "w") as f:
            json.dump(doc, f)


def spark_jobs(sc) -> list[list]:
    """[job id, submission (monotonic s), tasks completed] for every
    retained Spark job, read from the JVM status tracker."""
    jt = sc._jsc.statusTracker()
    offset = time.time() - _now()
    out, miss, jid = [], 0, 0
    while miss < 64:
        info = jt.getJobInfo(jid)
        if info is None:
            miss += 1
        else:
            miss = 0
            submit, tasks = None, 0
            for sid in info.stageIds():
                si = jt.getStageInfo(sid)
                if si is None:
                    continue
                tasks += si.numCompletedTasks()
                if si.submissionTime() > 0:
                    s = si.submissionTime() / 1000.0 - offset
                    submit = s if submit is None else min(submit, s)
            if submit is not None:
                out.append([jid, submit, tasks])
        jid += 1
    return out


def wrap_server_layers(tr: Tracer) -> None:
    """Wrap the public layer functions the server calls. Runs before the
    server modules are imported, so ``from x import f`` binds the wrapper."""
    from pyspark.sql import SparkSession

    from duck_server_spark.engine import types
    from duck_server_spark.plans import rewrites

    # leaf modules first: later imports bind these names directly
    for fn in ("rewrite_pg_query", "rewrite_ch_query", "rewrite_common"):
        tr.span(rewrites, fn, "plans.rewrite", group="rewrite")
    for fn in ("render_pg_text", "render_pg_binary", "render_ch_text", "render_json_value"):
        tr.count(types, fn, "types.render", group="render")
    tr.count(SparkSession, "sql", "catalyst.sql")

    from duck_server_spark.engine import constraints, transactions
    from duck_server_spark.sources import formats, ingest

    tr.span(constraints, "validate_append", "constraints.validate", group="validate")
    tr.span(transactions, "gated_append", "txn.gated_append", group="gated")
    tr.span(transactions, "publish_pointer_swap", "txn.publish")
    tr.count(ingest.BatchAppender, "add_many", "ingest.append")
    tr.span(ingest.BatchAppender, "flush", "ingest.flush")
    for cls in {*formats.WRITERS.values()}:
        for klass in cls.__mro__:
            if "write_row" in klass.__dict__ and klass is not formats.FormatWriter:
                if not getattr(klass.write_row, "__wrapped__", None):
                    tr.count(klass, "write_row", "ch.encode")
    for cls in {*formats.READERS.values()}:
        for klass in cls.__mro__:
            if "feed" in klass.__dict__ and klass is not formats.FormatReader:
                if not getattr(klass.feed, "__wrapped__", None):
                    tr.count(klass, "feed", "ch.decode")

    from duck_server_spark.engine import executor

    tr.span(executor.Engine, "query", "executor.query")
    tr.span(executor.Engine, "execute", "executor.execute")
    tr.span(executor.Engine, "stream_batches", "executor.stream_batches",
            key=lambda a, res: id(res[1]) if isinstance(res, tuple) and len(res) == 2 else None)
    tr.span(executor._BatchStream, "next_batch", "stream.next_batch", key=lambda a, res: id(a[0]))

    from duck_server_spark.server.pg import wire_server

    tr.count(wire_server.PgConnection, "send_data_row", "pg.data_row")
    tr.count(wire_server.PgConnection, "send_row_description", "pg.row_description")
    tr.count(wire_server.PgConnection, "_send", "pg.send", size=lambda a: 5 + len(a[2]) if len(a) > 2 else 5)
