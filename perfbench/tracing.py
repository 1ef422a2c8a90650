"""In-memory spans, a span-recording SnapshotStore, and a process-tree
resident-memory sampler.

Spans are recorded from the benchmark's side of each call into the program
(session build, ``CrawlJob.__init__``/``run()``, every store call, every
query call); nothing inside the program is instrumented. Each span carries
a name, start, end, parent id and the run id as its request id, and the
list is written out once, when the run ends.
"""

from __future__ import annotations

import inspect
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

from bodhium_webscrapper_spark.plans.checkpoint import SnapshotStore


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stack = threading.local()
        self._waves: dict[tuple[int, int], dict] = {}

    def _current(self) -> int | None:
        stack = getattr(self._stack, "ids", None)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record one span around the block; yields its attribute dict, so
        the block can attach figures (e.g. bytes written) to it."""
        sid = next(self._ids)
        rec = {
            "id": sid,
            "name": name,
            "parent": parent if parent is not None else self._current(),
            "request_id": self.run_id,
            "thread": threading.current_thread().name,
            **attrs,
        }
        stack = self._stack.__dict__.setdefault("ids", [])
        stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wave_span(self, run_span: int, wave: int) -> int:
        """Id of the synthetic span of one wave, child of ``run_span``. It
        starts with the wave's first store call and ends with its last,
        the finalize thread's included."""
        with self._lock:
            rec = self._waves.get((run_span, wave))
            if rec is None:
                rec = {
                    "id": next(self._ids),
                    "name": f"wave {wave}",
                    "parent": run_span,
                    "request_id": self.run_id,
                    "thread": "",
                    "start": time.time(),
                    "end": time.time(),
                }
                self._waves[(run_span, wave)] = rec
                self.spans.append(rec)
            return rec["id"]

    def close_wave(self, sid: int) -> None:
        with self._lock:
            for rec in self._waves.values():
                if rec["id"] == sid:
                    rec["end"] = max(rec["end"], time.time())

    def descendants(self, root: int) -> list[dict]:
        kids: dict[int | None, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out, todo = [], [root]
        while todo:
            for s in kids.get(todo.pop(), []):
                out.append(s)
                todo.append(s["id"])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["start"]), f)


# store calls that take a wave argument get the wave's span as parent
_TRACED = [
    "write", "write_bucketed", "read", "row_count", "column_sum", "read_columns",
    "artifact_bytes", "partition_metrics", "compact_deltas", "read_deltas",
    "write_rows", "commit_wave", "has_artifact", "committed_wave",
]
WRITES = {"write", "write_bucketed", "write_rows", "compact_deltas", "commit_wave"}


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _traced(method):
    sig = inspect.signature(method)

    def wrapper(self, *args, **kwargs):
        bound = sig.bind(self, *args, **kwargs).arguments
        wave = bound.get("wave")
        artifact = bound.get("name")
        parent = None
        if wave is not None and self.run_span is not None:
            parent = self.tracer.wave_span(self.run_span, wave)
        elif self.tracer._current() is None:
            parent = self.run_span
        depth = self._depth.__dict__.setdefault("n", 0)
        self._depth.n = depth + 1
        try:
            with self.tracer.span(
                f"store.{method.__name__}", parent=parent, wave=wave,
                artifact=artifact, top=depth == 0,
            ) as rec:
                out = method(self, *args, **kwargs)
        finally:
            self._depth.n = depth
        if method.__name__ in WRITES and wave is not None and artifact is not None:
            rec["bytes"] = _dir_bytes(self.wave_dir(wave, artifact))
        if parent is not None and wave is not None:
            self.tracer.close_wave(parent)
        return out

    wrapper.__name__ = method.__name__
    wrapper.__doc__ = method.__doc__
    return wrapper


class TracingStore(SnapshotStore):
    """SnapshotStore that records a span around every public call. The
    ``scheduled`` write is the schedule action and the ``page_results``
    write is the fetch action; calls from the wave-finalize thread get
    their wave as parent like every other wave-tagged call. A store call
    made inside another (``column_sum`` reads through ``read_columns``) is
    recorded with ``top=False`` so sums over calls count it once."""

    def __init__(self, root: str, tracer: Tracer):
        super().__init__(root)
        self.tracer = tracer
        self.run_span: int | None = None
        self._depth = threading.local()  # nesting of store calls per thread


for _name in _TRACED:
    setattr(TracingStore, _name, _traced(getattr(SnapshotStore, _name)))


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Python driver, the JVM and the Python workers), sampled from /proc."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def sample(self) -> None:
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._stop.set()
        self._thread.join()
        self.sample()
        return self.peak_bytes / 1e6
