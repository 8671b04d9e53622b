"""What every workload shares: timed operations, failure counting, the
set-up repetitions, the end-to-end metrics, and the traced MATCH read."""

from __future__ import annotations

import random
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable, Iterator

import stats
from tracing import Tracer, now_ms

SETUP_REPS = 3


@dataclass
class Op:
    kind: str
    ms: float
    ok: bool = True
    error: str = ""


class OpFailed(Exception):
    """Raised inside ``Run.op`` when an output check fails."""


@dataclass
class Run:
    """One workload run: the session, the seeded generator, the clock
    budget and the operations done so far."""

    spark: object
    rng: random.Random
    seconds: float
    work: str
    tracer: Tracer = field(default_factory=lambda: Tracer(False))
    ops: list[Op] = field(default_factory=list)
    details: dict = field(default_factory=dict)

    @contextmanager
    def op(self, kind: str) -> Iterator[None]:
        """Time one operation.  An exception (engine error or a failed
        check) marks the operation failed instead of ending the run."""
        t0 = time.perf_counter()
        rec = Op(kind, 0.0)
        self.ops.append(rec)
        try:
            with self.tracer.span("op:" + kind):
                yield
        except Exception as exc:  # a failed op is counted, not fatal
            rec.ok, rec.error = False, f"{type(exc).__name__}: {exc}"[:300]
        finally:
            rec.ms = (time.perf_counter() - t0) * 1000.0

    def fail(self, index: int, why: str) -> None:
        """Mark an already-timed operation failed (a check that runs after
        the timed loop)."""
        self.ops[index].ok = False
        self.ops[index].error = why[:300]

    def latencies(self, *kinds: str) -> list[float]:
        return [o.ms for o in self.ops if o.kind in kinds]


def timed_setup(once: Callable[[int], object]) -> tuple[float, list[float], object]:
    """Run the workload's set-up ``SETUP_REPS`` times; return the median
    seconds, every sample, and the last set-up's result."""
    samples, result = [], None
    for i in range(SETUP_REPS):
        t0 = time.perf_counter()
        result = once(i)
        samples.append(time.perf_counter() - t0)
    return stats.median(samples), samples, result


@dataclass
class Loop:
    """Wall-clock bounds of a measured loop, in epoch ms and seconds."""

    start_ms: float = 0.0
    end_ms: float = 0.0
    t0: float = 0.0
    wall_s: float = 0.0

    def begin(self) -> "Loop":
        self.start_ms, self.t0 = now_ms(), time.perf_counter()
        return self

    def finish(self) -> "Loop":
        self.end_ms, self.wall_s = now_ms(), time.perf_counter() - self.t0
        return self


def end_to_end(run: Run, loop: Loop, setup_s: float,
               read_kinds: tuple[str, ...]) -> dict[str, tuple[float, str]]:
    reads = run.latencies(*read_kinds)
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(run.ops) / loop.wall_s, "1/s"),
        "read_p50_ms": (stats.median(reads), "ms"),
    }


def tail_summary(run: Run, kinds: tuple[str, ...]) -> dict:
    """Median and the highest percentile with at least ten samples beyond
    it, with the sample count, for the human-readable report."""
    xs = run.latencies(*kinds)
    p = stats.tail_percentile(len(xs))
    out = {"n": len(xs), "p50_ms": round(stats.median(xs), 3) if xs else None}
    if p is not None and p > 50:
        out[f"p{p:g}_ms"] = round(stats.percentile(xs, p), 3)
    return out


def plan_ms(df) -> float:
    """Analysis + optimisation + planning time Catalyst recorded for
    ``df``'s query execution (phase summaries carry start/end ms)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            p = opt.get()
            total += p.endTimeMs() - p.startTimeMs()
    return total


def tundraql_read(run: Run, db, text: str) -> list:
    """One TundraQL MATCH through ``Database.sql``, collected.  Traced, the
    parse is timed on its own and the plan phases are read afterwards."""
    from tundradb_spark.ql.parser import parse_statement

    tr = run.tracer
    if tr.enabled:
        with tr.span("ql.parse"):
            parse_statement(text)
    with tr.span("match.construct"):
        df = db.sql(text)
    with tr.span("spark.execute"):
        rows = df.collect()
    if tr.enabled:
        run.details.setdefault("plan_ms", []).append(plan_ms(df))
    return rows
