"""Layer attribution from outside the program.

The benchmark wraps the public functions and methods it calls into
each layer.  A wrapper does two things when it is entered:

- it tags every Spark job started from then on with the layer name
  (``SparkContext.setJobDescription``), so the event log can be
  rolled up per layer (rollup.py);
- it charges the driver wall time since the last switch to the layer
  that was active, so the layer times of one operation add up to its
  wall time.

Two kinds of wrapper cover the crawl loop, whose actions are issued
from ``CrawlEngine.run_batch`` itself rather than from the layer
functions that build the plans:

- ``scoped``: the layer is active only while the call runs (store
  reads and writes, bloom build, seq assignment, report and index
  functions);
- ``sticky``: the layer stays active after the call returns, until the
  next wrapper is entered.  ``next_batch``, ``parse_pages`` and
  ``col_is_valid`` open the scheduler, parse and link phases of a
  batch, and the actions run_batch issues after them are charged to
  those phases.

Job descriptions read ``<layer>#<op>``; ``<op>`` names the operation
(batch ``b3``, query ``q17``) so per-operation rollups are possible.
"""

from __future__ import annotations

import functools
import os
import resource
import time
from collections import defaultdict

IDLE = "idle"
_TICK = os.sysconf("SC_CLK_TCK")


class CpuClock:
    """CPU seconds the program has used so far: this driver process,
    the Spark JVM minus its JIT compiler threads, and every process
    under the JVM (the Python workers), reaped children included.

    JIT compilation is left out because how much of it lands inside a
    measured region depends on timing, not on the program."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def __call__(self) -> float:
        me = resource.getrusage(resource.RUSAGE_SELF)
        ticks = 0
        for pid in self._tree():
            fields = _stat(f"/proc/{pid}/stat")
            if fields:
                ticks += sum(int(x) for x in fields[11:15])  # u/s time, cu/cs time
        for tid in os.listdir(f"/proc/{self.jvm_pid}/task"):
            path = f"/proc/{self.jvm_pid}/task/{tid}/stat"
            try:
                with open(path) as f:
                    if "CompilerThre" not in f.read(64):
                        continue
            except OSError:
                continue
            fields = _stat(path)
            if fields:
                ticks -= int(fields[11]) + int(fields[12])
        return me.ru_utime + me.ru_stime + ticks / _TICK

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = defaultdict(list)
        for name in os.listdir("/proc"):
            if name.isdigit():
                fields = _stat(f"/proc/{name}/stat")
                if fields:
                    children[int(fields[1])].append(int(name))
        out, todo = [], [self.jvm_pid]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out


def _stat(path: str) -> list[str] | None:
    """Fields of a /proc stat file after the command name, or None if
    the process or thread has exited."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.layer = IDLE
        self.op = ""
        self.wall: dict[str, float] = defaultdict(float)
        self._t = time.perf_counter()
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ switching

    def switch(self, layer: str) -> str:
        """Make ``layer`` active; return the layer that was active."""
        now = time.perf_counter()
        self.wall[self.layer] += now - self._t
        self._t = now
        prev, self.layer = self.layer, layer
        self.sc.setJobDescription(f"{layer}#{self.op}" if self.op else layer)
        return prev

    def set_op(self, op: str) -> None:
        """Name the operation jobs started from now on belong to."""
        self.op = op
        self.switch(self.layer)

    def begin_op(self, op: str, layer: str) -> None:
        self.op = op
        self.switch(layer)

    def end_op(self) -> None:
        self.op = ""
        self.switch(IDLE)

    def scoped(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            prev = self.switch(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.switch(prev)

        return wrapper

    def sticky(self, layer: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.switch(layer)
            return fn(*args, **kwargs)

        return wrapper

    # ------------------------------------------------------------ patching

    def patch(self, owner, name: str, wrap) -> None:
        original = getattr(owner, name)
        self._patches.append((owner, name, original))
        setattr(owner, name, wrap(original))

    def unpatch(self) -> None:
        while self._patches:
            owner, name, original = self._patches.pop()
            setattr(owner, name, original)


def instrument_crawl(tracer: Tracer, batches: list[dict]) -> None:
    """Wrap the crawl loop's layer calls; append one record per
    ``run_batch`` call to ``batches`` (batch id, fetched, new, bloom
    builds, epoch start/end in ms, wall seconds)."""
    from spacetime_crawler4py_spark.crawl import loop
    from spacetime_crawler4py_spark.frontier.store import FrontierStore

    t = tracer
    t.patch(loop.CrawlEngine, "__init__", lambda f: t.scoped("crawl.loop.init", f))
    for name in ("pending", "discovered", "completed", "max_seq", "committed_batches"):
        t.patch(FrontierStore, name, lambda f: t.scoped("frontier.store.read", f))
    for name in ("append_crawl_order", "append_discovered", "append_rows", "commit"):
        t.patch(FrontierStore, name, lambda f: t.scoped("frontier.store.write", f))
    # names the loop module bound at import: wrapping them there leaves
    # other callers (the scheduler's own seq index) untouched
    t.patch(loop, "next_batch", lambda f: t.sticky("frontier.scheduler", f))
    t.patch(loop, "parse_pages", lambda f: t.sticky("operators.parse", f))
    t.patch(loop, "col_is_valid", lambda f: t.sticky("crawl.links", f))
    bloom_builds = [0]

    def wrap_build_bloom(f):
        scoped = t.scoped("frontier.bloom.build", f)

        @functools.wraps(f)
        def build_bloom(*args, **kwargs):
            bloom_builds[0] += 1
            return scoped(*args, **kwargs)

        return build_bloom

    t.patch(loop, "build_bloom", wrap_build_bloom)
    t.patch(loop, "with_contiguous_index", lambda f: t.scoped("operators.ids", f))

    def wrap_run_batch(f):
        @functools.wraps(f)
        def run_batch(engine, batch_id):
            t.begin_op(f"b{batch_id}", "crawl.loop.run_batch")
            start_ms, t0 = time.time() * 1000, time.perf_counter()
            builds0 = bloom_builds[0]
            try:
                meta = f(engine, batch_id)
            finally:
                wall = time.perf_counter() - t0
                t.end_op()
            batches.append(
                {
                    "batch_id": batch_id,
                    "n_batch": meta["n_batch"],
                    "n_new": meta.get("n_new", 0),
                    "bloom_builds": bloom_builds[0] - builds0,
                    "start_ms": start_ms,
                    "end_ms": time.time() * 1000,
                    "wall_s": wall,
                }
            )
            return meta

        return run_batch

    t.patch(loop.CrawlEngine, "run_batch", wrap_run_batch)
