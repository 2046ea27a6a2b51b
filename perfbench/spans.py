"""In-memory spans for the traced run, and the arithmetic over them.

A span is (id, name, start, end, parent, run, attrs).  Spans are kept in
memory while the run lasts and written to a JSON-lines side file at the
end.  Parents come from a per-thread stack, so a span opened inside
another on the same thread is its child; Spark's foreachBatch callbacks
run on their own thread and start their own stacks.

`wrap_callable` instruments a program function from the benchmark's own
code: it replaces every module-level reference to the function (modules
that did `from x import f` hold their own reference) with a timing
wrapper, and `Tracer.restore` puts the originals back.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.tables: dict[str, list] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "parent": stack[-1] if stack else None,
            "run": self.run_id, "start": time.perf_counter(), "end": None,
            "attrs": attrs,
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def set_attr(self, obj: object, attr: str, new: object) -> None:
        self._patches.append((obj, attr, getattr(obj, attr)))
        setattr(obj, attr, new)

    def restore(self) -> None:
        for obj, attr, old in reversed(self._patches):
            setattr(obj, attr, old)
        self._patches.clear()

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"run": self.run_id, "tables": self.tables,
                                **(extra or {})}) + "\n")
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def wrap_callable(tracer: Tracer, owner: object, attr: str, name: str,
                  attrs_fn=None) -> None:
    """Time every call of owner.attr as a span called `name`.  For a
    plain function, module-level aliases in the program's modules are
    patched too."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        extra = attrs_fn(*args, **kwargs) if attrs_fn else {}
        with tracer.span(name, **extra):
            return orig(*args, **kwargs)

    tracer.set_attr(owner, attr, wrapper)
    if isinstance(owner, type):
        return
    for mod in list(sys.modules.values()):
        modname = getattr(mod, "__name__", "") or ""
        if mod is owner or not (
            modname.startswith("ingestprocessstoreinnrt_spark")
            or modname == "__spark_entry__"
        ):
            continue
        if getattr(mod, attr, None) is orig:
            tracer.set_attr(mod, attr, wrapper)


def wrap_context_manager(tracer: Tracer, owner: type, attr: str,
                         enter_name: str, exit_name: str) -> None:
    """Time a @contextmanager method's acquisition and its release as
    two spans; the body between them is not part of either."""
    orig = getattr(owner, attr)

    @contextlib.contextmanager
    def wrapper(*args, **kwargs):
        cm = orig(*args, **kwargs)
        with tracer.span(enter_name):
            cm.__enter__()
        try:
            yield
        except BaseException:
            with tracer.span(exit_name):
                if not cm.__exit__(*sys.exc_info()):
                    raise
        else:
            with tracer.span(exit_name):
                cm.__exit__(None, None, None)

    tracer.set_attr(owner, attr, wrapper)


# --- arithmetic over recorded spans ---------------------------------------


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of `intervals`."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]]
    return out


# --- Spark event log ------------------------------------------------------

BATCH_ID_PROP = "streaming.sql.batchId"
JOB_GROUP_PROP = "spark.jobGroup.id"


def fold_event_log(path: str, key_prop: str) -> dict[str, dict]:
    """Fold task metrics of a Spark JSON event log by a job property
    (job group on the read path, streaming batch id on the write path).
    Jobs without the property fold under ''."""
    stage_key: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(k: str) -> dict:
        return out.setdefault(k, {
            "jobs": 0, "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
        })

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                k = str((ev.get("Properties") or {}).get(key_prop, ""))
                bucket(k)["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_key[sid] = k
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                b = bucket(stage_key.get(ev.get("Stage ID"), ""))
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                b["tasks"] += 1
                b["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                b["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                b["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                b["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 2**20
                b["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 2**20
    return out


def total_of(folded: dict[str, dict]) -> dict[str, float]:
    tot: dict[str, float] = {}
    for b in folded.values():
        for k, v in b.items():
            tot[k] = tot.get(k, 0) + v
    return tot
