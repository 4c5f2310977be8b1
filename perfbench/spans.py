"""In-memory spans recorded around the calls the benchmark makes into the
program's layers.

A span is ``(name, layer, start, end, parent, op)``; times are epoch
seconds so they line up with Spark's job and stage timestamps. Spans
stay in memory and are written out once, when the run ends. The
``catalog`` layer is traced by swapping ``load_table`` and
``register_views`` for timing wrappers in every module of the package
that imported them; ``build``, ``exec`` and micro-batch spans are opened
by the workloads around their own calls.
"""

from __future__ import annotations

import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

PACKAGE = "gmall_211027_flink_spark"
CATALOG_FUNCS = ("load_table", "register_views")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    """Records spans; a disabled tracer records nothing and costs one
    attribute check per call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []
        self.op = 0
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(sid, name, layer, time.time(), 0.0, parent, self.op)
        self.spans.append(rec)
        self._stack.append(sid)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield
        finally:
            t1 = time.perf_counter()
            rec.end = time.time()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t1

    def add(self, name: str, layer: str, start: float, end: float) -> None:
        """A span observed after the fact (a micro-batch from progress),
        under the span open at the time of the call."""
        if self.enabled:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(len(self.spans), name, layer, start, end,
                                   parent, self.op))

    def patch_catalog(self) -> None:
        """Wrap the catalog entry points wherever the package bound them;
        the wrappers record spans only while the tracer is enabled."""
        catalog = sys.modules[f"{PACKAGE}.catalog"]
        originals = {n: getattr(catalog, n) for n in CATALOG_FUNCS}
        wrappers = {n: self._wrap(f, f"catalog.{n}")
                    for n, f in originals.items()}
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE
                                   or mod_name.startswith(PACKAGE + ".")):
                continue
            for n, orig in originals.items():
                if getattr(mod, n, None) is orig:
                    self._patched.append((mod, n, orig))
                    setattr(mod, n, wrappers[n])

    def unpatch(self) -> None:
        for mod, n, orig in reversed(self._patched):
            setattr(mod, n, orig)
        self._patched.clear()

    def _wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name, "catalog"):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: list[tuple[float, float]], lo: float,
         hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals
            if e > lo and s < hi]


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time per layer: each span's duration minus the part of it
    that its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        covered = union_s(clip(children.get(s.id, []), s.start, s.end))
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
    return out
