"""Spark-free core of the benchmark: percentiles, the span tracer, the
wrappers that install spans at every binding of a traced function, host
probes (/proc steal and peak RSS) and the result-line check against
``BENCHMARK.json``.

Nothing here imports pyspark, so ``test_harness.py`` runs without a JVM.
"""

from __future__ import annotations

import functools
import json
import math
import os
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# -- statistics ---------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-quantile (0 <= q <= 1) of ``values``,
    the same rule as numpy's default and ``statistics.quantiles(...,
    method="inclusive")``."""
    if not values:
        raise ValueError("percentile of no values")
    if not 0.0 <= q <= 1.0:
        raise ValueError(f"quantile {q} outside [0, 1]")
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


# -- host probes ---------------------------------------------------------------


def interleave(n_a: int, n_b: int, a: Callable[[], Any], b: Callable[[], Any]) -> None:
    """Call ``a`` ``n_a`` times and ``b`` ``n_b`` times, the ``a`` calls
    spread evenly among the ``b`` calls, so that timings of each kind
    sample the whole stretch rather than one end of it."""
    n = n_a + n_b
    for k in range(n):
        if (k + 1) * n_a // n > k * n_a // n:
            a()
        else:
            b()


def steal_seconds() -> float:
    """Cumulative hypervisor steal of the whole host, in CPU-seconds."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# -- spans ----------------------------------------------------------------------


@dataclass
class Span:
    name: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    jobs: int = 0
    steal_s: float = 0.0
    child_s: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)
    result: Any = None

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Duration minus the part covered by direct child spans."""
        return self.dur - self.child_s


class JobCounter:
    """Interface the tracer uses to count engine jobs per span. ``enter``
    opens a fresh job group, ``leave`` returns how many jobs ran in it
    and restores the enclosing group (``None`` = no group)."""

    def enter(self, group: str) -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def leave(self, group: str, restore: str | None) -> int:  # pragma: no cover
        raise NotImplementedError


class Tracer:
    """In-memory span recorder. Spans nest by call order on one thread;
    each span that counts jobs gets its own job group, so a span's job
    count excludes jobs of nested spans that count their own."""

    def __init__(self, jobs: JobCounter | None = None):
        self.jobs = jobs
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._groups: list[str] = []
        self.overhead_s = 0.0

    def reset(self) -> None:
        if self._stack:
            raise RuntimeError("reset inside an open span")
        self.spans.clear()
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, *, count_jobs: bool = True, **attrs):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent, attrs=attrs)
        idx = len(self.spans)
        self.spans.append(sp)
        self._stack.append(idx)
        group = None
        if self.jobs is not None and count_jobs:
            group = f"perfbench-{idx}"
            self.jobs.enter(group)
            self._groups.append(group)
        steal0 = steal_seconds()
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t_in
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.steal_s = steal_seconds() - steal0
            if group is not None:
                self._groups.pop()
                sp.jobs = self.jobs.leave(group, self._groups[-1] if self._groups else None)
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.dur
            self.overhead_s += time.perf_counter() - sp.end

    def descendants(self, idx: int) -> list[int]:
        """Indices of every span nested (at any depth) under span ``idx``."""
        out, inside = [], {idx}
        for j in range(idx + 1, len(self.spans)):
            if self.spans[j].parent in inside:
                inside.add(j)
                out.append(j)
        return out

    def ancestors(self, idx: int):
        p = self.spans[idx].parent
        while p is not None:
            yield p
            p = self.spans[p].parent


def attribute(tracer: Tracer, root: int, classify: Callable[[Span], str | None]) -> dict[str, list[float]]:
    """Split span ``root`` into layers: every nested span's self time and
    own jobs go to the nearest span (itself or an ancestor below
    ``root``) that ``classify`` names; the rest, including ``root``'s own
    self time, goes to ``"self"``. Returns ``{layer: [self_s, jobs]}``;
    the ``self_s`` values sum to ``root``'s duration."""
    out: dict[str, list[float]] = {"self": [tracer.spans[root].self_s, tracer.spans[root].jobs]}
    for j in tracer.descendants(root):
        layer = None
        for k in (j, *tracer.ancestors(j)):
            if k == root:
                break
            layer = classify(tracer.spans[k])
            if layer:
                break
        acc = out.setdefault(layer or "self", [0.0, 0])
        acc[0] += tracer.spans[j].self_s
        acc[1] += tracer.spans[j].jobs
    return out


# -- wrapping ----------------------------------------------------------------


@dataclass
class Target:
    """A traced function: ``owner.attr`` (``owner`` is a module or a
    class). ``name`` is the span name; ``attrs(args, kwargs)`` adds span
    attributes; ``count_jobs`` is off for functions that never run
    engine jobs, which keeps their spans cheap."""

    owner: Any
    attr: str
    name: str
    count_jobs: bool = True
    attrs: Callable[[tuple, dict], dict] | None = None


def _make_wrapper(tracer: Tracer, t: Target, orig: Callable) -> Callable:
    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        extra = t.attrs(args, kwargs) if t.attrs else {}
        with tracer.span(t.name, count_jobs=t.count_jobs, **extra) as sp:
            sp.result = orig(*args, **kwargs)
            return sp.result

    wrapper.__perfbench_orig__ = orig
    return wrapper


def install(tracer: Tracer, targets: list[Target]) -> tuple[int, Callable[[], None]]:
    """Wrap every target at every binding: the defining attribute plus
    every module in ``sys.modules`` whose namespace holds the same
    function object (``from x import f`` copies the binding). A caller
    that routes around every wrapped binding shows up as time moving
    into its parent's self time, not as a silent speed-up.

    A target missing from its owner is skipped. Returns how many
    bindings were wrapped and a function that restores them all."""
    patched: list[tuple[Any, str, Any]] = []
    for t in targets:
        orig = t.owner.__dict__.get(t.attr) if isinstance(t.owner, type) else getattr(t.owner, t.attr, None)
        if orig is None:
            continue
        if isinstance(orig, staticmethod):
            raise TypeError(f"{t.attr}: static methods are not traced")
        wrapper = _make_wrapper(tracer, t, orig)
        if isinstance(t.owner, type):
            patched.append((t.owner, t.attr, orig))
            setattr(t.owner, t.attr, wrapper)
            continue
        for mod in list(sys.modules.values()):
            ns = getattr(mod, "__dict__", None)
            if not ns:
                continue
            for key, val in list(ns.items()):
                if val is orig:
                    patched.append((mod, key, orig))
                    setattr(mod, key, wrapper)

    def restore() -> None:
        for obj, key, orig in reversed(patched):
            setattr(obj, key, orig)
        patched.clear()

    return len(patched), restore


# -- result line -----------------------------------------------------------------


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_names(spec: dict) -> None:
    """Raise if a metric or workload name or unit breaks the naming rules
    or is used twice."""
    seen = set()
    for w in spec["workloads"]:
        if not NAME_RE.match(w["name"]) or w["name"] in seen:
            raise ValueError(f"bad or repeated workload name {w['name']!r}")
        seen.add(w["name"])
    seen = set()
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not NAME_RE.match(m["name"]) or m["name"] in seen:
            raise ValueError(f"bad or repeated metric name {m['name']!r}")
        if not UNIT_RE.match(m["unit"]):
            raise ValueError(f"bad unit {m['unit']!r} for {m['name']}")
        seen.add(m["name"])


def result_line(spec: dict, trace: bool, correct: bool, attempted: int, failed: int,
                values: dict[str, float]) -> str:
    """The benchmark's final stdout line. ``values`` must hold exactly the
    end-to-end metrics (untraced run) or the per-layer metrics (traced
    run) that ``BENCHMARK.json`` lists; every value must be finite."""
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    names = [m["name"] for m in wanted]
    missing = sorted(set(names) - set(values))
    extra = sorted(set(values) - set(names))
    if missing or extra:
        raise ValueError(f"metric set mismatch: missing {missing}, unexpected {extra}")
    metrics = {}
    for m in wanted:
        v = float(values[m["name"]])
        if not math.isfinite(v):
            raise ValueError(f"{m['name']} is not finite: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if attempted < 1:
        raise ValueError("no operation attempted")
    return json.dumps(
        {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed), "metrics": metrics}
    )

