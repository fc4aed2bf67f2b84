"""Span recording around the server's public entry points.

``install()`` runs inside the traced server process (see
``traced_server.py``); it wraps each entry point with a recorder and
changes no code of the program. A span is ``(name, start_ns, end_ns,
parent, root, busy_ns, attrs)`` on the system-wide monotonic clock,
so the load generator's timestamps line up with the server's. Spans
of one request share the id of the handler span that opened it on
that thread (``root``). Spans stay in memory and are written as JSON
lines at exit.

A drain of ``DataFrame.toLocalIterator`` is not contiguous: its rows
are pulled while the serializer runs. It is one span whose
``busy_ns`` is the time spent inside the iterator, and that busy time
is what it subtracts from its parent's self time.
"""

from __future__ import annotations

import atexit
import functools
import json
import threading
import time

_tls = threading.local()
_spans: list[list] = []
_lock = threading.Lock()
_now = time.monotonic_ns


def _stack() -> list:
    stack = getattr(_tls, "stack", None)
    if stack is None:
        stack = _tls.stack = []
    return stack


def _new(name: str, attrs: dict | None = None) -> list:
    """A span that starts now, under the innermost open span of this
    thread."""
    stack = _stack()
    with _lock:
        idx = len(_spans)
        parent = stack[-1][0] if stack else -1
        root = stack[0][0] if stack else idx
        span = [idx, name, _now(), 0, parent, root, None, attrs or {}]
        _spans.append(span)
    return span


def _open(name: str, attrs: dict | None = None) -> list:
    span = _new(name, attrs)
    _stack().append(span)
    return span


def _close(span: list) -> None:
    span[3] = _now()
    _tls.stack.pop()


def _wrap(name: str, fn, attrs_of=None):
    @functools.wraps(fn)
    def inner(*args, **kwargs):
        span = _open(name, attrs_of(*args, **kwargs) if attrs_of else None)
        try:
            return fn(*args, **kwargs)
        finally:
            _close(span)

    return inner


class _Drain:
    """Iterator proxy that records the time spent pulling rows."""

    def __init__(self, it):
        self.it = it
        self.span = None
        self.busy = 0

    def __iter__(self):
        return self

    def __next__(self):
        if self.span is None:
            self.span = _new("spark.drain")
        t0 = _now()
        try:
            return next(self.it)
        finally:
            self.busy += _now() - t0
            self.span[6] = self.busy
            self.span[3] = _now()


def install() -> None:
    """Wrap the entry points. Must run before the server starts."""
    from pyspark.sql.classic.dataframe import DataFrame  # the class the session returns

    import cowsdb_spark.engine as engine_mod
    import cowsdb_spark.formats as formats_mod
    import cowsdb_spark.server.http_server as http_mod
    import cowsdb_spark.server.native_server as native_mod

    E = engine_mod.Engine
    E.execute_with_format = _wrap("engine.execute_with_format", E.execute_with_format)
    E.execute_to_df = _wrap("engine.execute_to_df", E.execute_to_df)
    E.insert_rows = _wrap(
        "engine.insert_rows", E.insert_rows, lambda self, t, names, rows, *a, **k: {"rows": len(rows)}
    )
    E.table_columns = _wrap("engine.table_columns", E.table_columns)  # native INSERT's sample block
    engine_mod.translate = _wrap("dialect.translate", engine_mod.translate)
    engine_mod.serialize = _wrap("formats.serialize", engine_mod.serialize)
    qr = formats_mod.QueryResult
    qr.from_dataframe = classmethod(
        _wrap("formats.from_dataframe", qr.from_dataframe.__func__)
    )
    DataFrame.collect = _wrap("spark.collect", DataFrame.collect)
    to_local = DataFrame.toLocalIterator

    @functools.wraps(to_local)
    def to_local_iterator(self, *args, **kwargs):
        return _Drain(to_local(self, *args, **kwargs))

    DataFrame.toLocalIterator = to_local_iterator
    native_mod.encode_column = _wrap("formats.native_encode", native_mod.encode_column)
    native_mod.read_block = _wrap("formats.native_decode", native_mod.read_block)
    # request roots: one per handled request, keyed by the client's port
    H = http_mod._Handler
    H._run = _wrap("wire.http", H._run, lambda self, *a, **k: {"peer": self.client_address[1]})
    N = native_mod.NativeServer
    N._handle_query = _wrap(
        "wire.native", N._handle_query, lambda self, client, *a, **k: {"peer": client.getpeername()[1]}
    )


def start_job_poller(spark, interval: float = 0.25) -> None:
    """Record each Spark job's first-seen time and task count from the
    status tracker, as ``spark.job`` spans with no duration."""
    tracker = spark.sparkContext.statusTracker()
    seen: set[int] = set()

    def poll():
        while True:
            try:
                ids = [i for i in tracker.getJobIdsForGroup(None) if i not in seen]
                for jid in sorted(ids):
                    info = tracker.getJobInfo(jid)
                    if info is None or info.status == "RUNNING":
                        continue
                    tasks = 0
                    for sid in info.stageIds:
                        st = tracker.getStageInfo(sid)
                        if st is not None and st.numTasks:
                            tasks += st.numTasks
                    seen.add(jid)
                    t = _now()
                    with _lock:
                        _spans.append([len(_spans), "spark.job", t, t, -1, -1, None,
                                       {"job": jid, "tasks": tasks}])
            except Exception:  # noqa: BLE001 - the JVM is going away at exit
                return
            time.sleep(interval)

    threading.Thread(target=poll, name="perfbench-jobs", daemon=True).start()


def dump_at_exit(path: str) -> None:
    def write():
        with _lock:
            spans = list(_spans)
        with open(path, "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")

    atexit.register(write)


# ------------------------------------------------------------------ analysis


def load(path: str) -> list[list]:
    with open(path) as f:
        return [json.loads(line) for line in f]


def self_times(spans: list[list]) -> dict[int, int]:
    """Self time of each span: its duration (or busy time) minus the
    time its direct children cover."""
    covered: dict[int, int] = {}
    for s in spans:
        if s[4] >= 0:
            dur = s[6] if s[6] is not None else s[3] - s[2]
            covered[s[4]] = covered.get(s[4], 0) + dur
    return {
        s[0]: (s[6] if s[6] is not None else s[3] - s[2]) - covered.get(s[0], 0)
        for s in spans
    }
