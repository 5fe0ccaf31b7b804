"""Measurement from outside the program: spans, /proc and streaming progress.

- ``Tracer`` times calls into the program's public functions by
  replacing them, in every loaded ``etl_extractor_spark`` module, with a
  timing wrapper. Each span records (pass, path, start, end). While the
  tracer is ``on``, every wrapped function records a span and the span
  path is set as the Spark job description, so every job in the event
  log names the span that started it. While it is off, only the
  functions named in ``always`` record spans, and no job is tagged.
- ``proc_stats`` / ``proc_tree`` / ``cpu_seconds`` / ``peak_rss_mb`` read
  ``/proc`` for the driver, the JVM it launched and the JVM's Python
  workers; ``steal_seconds`` reads the host's steal time.
- ``StreamProgress`` is a ``StreamingQueryListener`` that keeps every
  micro-batch progress report.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import pkgutil
import sys
import threading
import time
from datetime import datetime, timezone

from eventlog import job_description

PKG = "etl_extractor_spark"
# the layers whose public functions get spans (``plans`` ops are spanned
# by the benchmark's own call sites)
LAYERS = ("session", "sources", "pipeline", "sinks", "streaming")


class Tracer:
    def __init__(self):
        self.on = False
        self.always: set[str] = set()
        self.sc = None  # SparkContext, set once the session is up
        self.pass_no = 0
        self.spans: list[tuple[int, str, float, float]] = []
        self._local = threading.local()
        self._main = threading.main_thread()

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _describe(self, stack: list[str]) -> None:
        if self.on and self.sc is not None and threading.current_thread() is self._main:
            self.sc.setJobDescription(job_description(self.pass_no, "/".join(stack)) if stack else None)

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            if not (self.on or name in self.always):
                return fn(*args, **kwargs)
            with _Span(self, name):
                return fn(*args, **kwargs)

        return timed

    def patch(self, names: set[str] | None = None) -> None:
        """Wrap the public functions of the layer modules (or only the
        qualified ``layer.module.fn`` names given) and rebind every loaded
        reference to them. A wrapped function records spans while the
        tracer is on, or always if its name is in ``always``."""
        for layer in LAYERS:
            mod = importlib.import_module(f"{PKG}.{layer}")
            for info in pkgutil.walk_packages(getattr(mod, "__path__", []), f"{mod.__name__}."):
                try:
                    importlib.import_module(info.name)
                except ImportError:
                    pass  # an optional dependency is missing; nothing there to time
        wrapped: dict[int, object] = {}
        for modname, mod in list(sys.modules.items()):
            short = modname[len(PKG) + 1:]
            if not modname.startswith(f"{PKG}.") or short.split(".")[0] not in LAYERS:
                continue
            for attr, fn in vars(mod).items():
                if attr.startswith("_") or not inspect.isfunction(fn) or fn.__module__ != modname:
                    continue
                if names is None or f"{short}.{attr}" in names:
                    wrapped[id(fn)] = self.wrap(fn, f"{short}.{attr}")
        for modname, mod in list(sys.modules.items()):
            if modname == PKG or modname.startswith(f"{PKG}."):
                for attr, val in list(vars(mod).items()):
                    if inspect.isfunction(val) and id(val) in wrapped:
                        setattr(mod, attr, wrapped[id(val)])


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        stack = self.tracer._stack()
        stack.append(self.name)
        self.path = "/".join(stack)
        self.tracer._describe(stack)
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        t1 = time.time()
        tr = self.tracer
        tr.spans.append((tr.pass_no, self.path, self.t0, t1))
        stack = tr._stack()
        stack.pop()
        tr._describe(stack)
        return False


# --- /proc -------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> list[str] | None:
    """The fields of ``<path>/stat`` after the command name: [0] is the
    state, [1] the parent pid, [3] the session id, [11:15] the CPU ticks."""
    try:
        with open(f"{path}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def proc_stats() -> dict[int, list[str]]:
    """``_stat`` fields of every live process, by pid."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(f"/proc/{name}")
            if st:
                out[int(name)] = st
    return out


def proc_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for pid, st in proc_stats().items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds of the processes and their reaped children."""
    total = 0.0
    for pid in pids:
        st = _stat(f"/proc/{pid}")
        if st:
            total += sum(int(x) for x in st[11:15]) / _TICK  # utime stime cutime cstime
    return total


def steal_seconds() -> float:
    """CPU time the hypervisor took from this machine's vCPUs, summed over
    all of them: the ``steal`` field of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


# --- streaming progress ---------------------------------------------------------

def stream_progress_listener():
    """A listener instance keeping (epoch_s, query_run, durationMs,
    input_rows, state_rows) per micro-batch in ``.batches``. Built lazily
    so importing this module does not import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[float, str, dict, int, int]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ts = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
            self.batches.append((
                ts.replace(tzinfo=timezone.utc).timestamp(),
                str(p.runId),
                dict(p.durationMs),
                int(p.numInputRows),
                sum(int(s.numRowsTotal) for s in p.stateOperators),
            ))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def drain(self, quiet_s: float = 0.5, limit_s: float = 5.0) -> None:
            """Wait until no progress report has arrived for ``quiet_s``."""
            end = time.time() + limit_s
            seen = -1
            while time.time() < end and seen != len(self.batches):
                seen = len(self.batches)
                time.sleep(quiet_s)

    return StreamProgress()
