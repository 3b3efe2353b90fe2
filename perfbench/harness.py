"""Closed-loop op recording shared by the workloads.

One client issues one op at a time and waits for its result.  In a traced
run each op type alternates between its plain call and its traced
composition, so both see the same conditions and their difference is the
tracing overhead.
"""

from __future__ import annotations

import math
import statistics
import time
import traceback
from collections import defaultdict
from contextlib import nullcontext
from dataclasses import dataclass, field


def p50(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return float(s[max(0, math.ceil(q / 100.0 * len(s)) - 1)])


@dataclass
class Ctx:
    spark: object
    workdir: str
    tracer: object | None = None


@dataclass
class Recorder:
    traced: bool
    plain_ms: dict = field(default_factory=lambda: defaultdict(list))
    traced_ms: dict = field(default_factory=lambda: defaultdict(list))
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    _pending: list = field(default_factory=list)
    _traceable: set = field(default_factory=set)

    def op(self, kind: str, plain, traced=None, check=None):
        """Run one op, timed; ``check(answer)`` runs later, in :meth:`verify`.

        Returns the answer, or None when the op raised (a failed op).
        """
        use_traced = (
            self.traced and traced is not None
            and len(self.plain_ms[kind]) > len(self.traced_ms[kind])
        )
        fn = traced if use_traced else plain
        if traced is not None:
            self._traceable.add(kind)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            answer = fn()
        except Exception:  # a failed op is a result to report, not a crash
            self.failed += 1
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            return None
        ms = (time.perf_counter() - t0) * 1000.0
        (self.traced_ms if use_traced else self.plain_ms)[kind].append(ms)
        if check is not None:
            self._pending.append((kind, answer, check))
        return answer

    def check(self, kind: str, problem: str | None) -> None:
        """Record a check that is not tied to a timed op (start-up goldens)."""
        self.attempted += 1
        if problem:
            self.failed += 1
            self.errors.append(f"{kind}: {problem}")

    def verify(self) -> None:
        for kind, answer, check in self._pending:
            problem = check(answer)
            if problem:
                self.failed += 1
                self.errors.append(f"{kind}: {problem}")
        self._pending.clear()

    def all_traced(self) -> bool:
        """True unless this is a traced run in which some op kind still
        lacks a traced sample."""
        return not self.traced or all(self.traced_ms[k] for k in self._traceable)

    def n_ops(self) -> int:
        return sum(len(v) for v in self.plain_ms.values()) + sum(
            len(v) for v in self.traced_ms.values()
        )

    def overhead_share(self, kinds) -> float:
        """(traced − plain) / plain, on the medians over ``kinds``."""
        plain = [x for k in kinds for x in self.plain_ms[k]]
        traced = [x for k in kinds for x in self.traced_ms[k]]
        if not plain or not traced:
            return 0.0
        return (p50(traced) - p50(plain)) / p50(plain)


def closed_loop(seconds: float, steps, rec: Recorder) -> float:
    """Run ``steps`` (an iterator of ``step(rec)`` callables) until
    ``seconds`` pass.

    Returns the elapsed wall time; the step running at the deadline
    finishes.  At least one step always runs.  A traced run goes on past
    the deadline, up to three times ``seconds``, until every op kind has a
    traced sample.
    """
    t0 = time.perf_counter()
    for step in steps:
        step(rec)
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds and (rec.all_traced() or elapsed >= 3 * seconds):
            break
    return time.perf_counter() - t0


def class_weighted_ms(samples: dict, prefix: str, weights: dict) -> float:
    """Mean over query classes of each class's median latency, weighted by
    the class's share of the planned queries.

    ``samples[f"{prefix}.{cls}"]`` holds a class's latencies.  Unlike the
    median over all queries, this does not jump between the fast (cached)
    and slow modes when a run happens to hold a few more of one class.  A
    class without samples drops out of the weights.
    """
    meds = {c: p50(samples[f"{prefix}.{c}"]) for c in weights if samples.get(f"{prefix}.{c}")}
    return sum(weights[c] * m for c, m in meds.items()) / sum(weights[c] for c in meds) if meds else 0.0


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def span_ms(tracer, name: str) -> list[float]:
    return [s["end_ms"] - s["start_ms"] for s in tracer.named(name)]


def maybe_span(tracer, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer is not None else nullcontext({})
