"""Shared pieces of the workloads: the run context and the closed-loop
client."""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass, field

from perfbench.measure import pct


@dataclass
class Op:
    kind: str
    latency_s: float
    traced: bool
    result: object = None
    error: str | None = None


@dataclass
class Context:
    """What a workload receives: the session, its own directories, the
    seed, and the tracer of a traced run (``None`` when untraced)."""

    spark: object
    work: str
    data: dict[str, str]
    seed: int
    tracer: object = None
    ops: list[Op] = field(default_factory=list)
    events: int = 0  # open-loop events attempted (not in ``ops``)
    mismatches: list[str] = field(default_factory=list)
    elapsed_s: float = 0.0

    def engine(self, name: str):
        from myduckserver_spark.engine import Engine

        return Engine(self.spark, f"{self.work}/{name}")

    def mismatch(self, msg: str) -> None:
        self.mismatches.append(msg)


def run_closed(ctx: Context, rounds, seconds: float) -> None:
    """One client: send the next operation when the previous returns.
    ``rounds`` yields lists of ``(kind, fn)``; ``fn()`` returns the
    result kept for checking. Rounds start until ``seconds`` pass and
    always run to the end, so every run measures whole rounds of the
    workload's mix.

    In a traced run half of the operations are traced, picked by the
    Thue-Morse sequence (aperiodic, so no operation class of a
    repeating mix is always on one side); the traced and untraced
    halves see the same mix and their latency difference is the
    tracing overhead."""
    tracer = ctx.tracer
    start = time.perf_counter()
    deadline = start + seconds
    i = 0
    rounds = iter(rounds)
    # a round is drawn only once it will run: drawing it may update the
    # workload's model of the expected state
    while time.perf_counter() < deadline:
        for kind, fn in next(rounds):
            traced = tracer is not None and bin(i).count("1") % 2 == 0
            if traced:
                tracer.begin_op(i)
            t0 = time.perf_counter()
            result, error = None, None
            try:
                result = fn()
            except Exception:  # noqa: BLE001 — a failed op is counted
                error = traceback.format_exc(limit=3)
            t1 = time.perf_counter()
            if traced:
                tracer.end_op()
            ctx.ops.append(Op(kind, t1 - t0, traced, result, error))
            i += 1
    ctx.elapsed_s = time.perf_counter() - start


def canon_rows(rows) -> list[tuple]:
    """Rows in the oracle harness's type-strict canonical form, sorted,
    so a pandas result and a Python model compare order-insensitively."""
    from myduckserver_spark.oracle import _canon

    return sorted(tuple(_canon(v) for v in r) for r in rows)


def closed_loop_metrics(ctx: Context) -> dict:
    lat = [o.latency_s * 1e3 for o in ctx.ops if o.error is None]
    by_kind: dict[str, list[float]] = {}
    for o in ctx.ops:
        if o.error is None:
            by_kind.setdefault(o.kind.split(".")[0], []).append(
                o.latency_s * 1e3)
    return {
        "latency_p50_ms": pct(lat, 50),
        "latency_p90_ms": pct(lat, 90),
        "throughput_ops_s": len(lat) / ctx.elapsed_s,
        "samples": len(lat),
        "p50_ms_by_kind": {k: round(pct(v, 50), 1)
                           for k, v in sorted(by_kind.items())},
    }


def trace_overhead_ms(ctx: Context) -> float:
    """Median latency of traced minus untraced operations."""
    on = [o.latency_s * 1e3 for o in ctx.ops if o.traced and not o.error]
    off = [o.latency_s * 1e3 for o in ctx.ops
           if not o.traced and not o.error]
    return pct(on, 50) - pct(off, 50)
