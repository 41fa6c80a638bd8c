#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload olap_read --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The inputs are generated from
``--seed``; the engine, its warehouse, Spark's scratch space and the
inputs all live under ``.perfbench_work/`` in the checkout and are
removed at exit. With ``--trace 0`` the last line of standard output is
a JSON object holding the end-to-end metrics of BENCHMARK.json; with
``--trace 1`` it holds the per-layer metrics, and the spans are written
to ``.perfbench_out/``. The exit code is 0 only when every operation
succeeded and every result matched its reference.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'}"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def _import_engine():
    """Put the checkout on the path and check the engine comes from it."""
    sys.path.insert(0, str(ROOT))
    import myduckserver_spark

    where = Path(myduckserver_spark.__file__).resolve()
    if ROOT not in where.parents:
        raise ImportError(f"engine imported from {where}, not {ROOT}")


def _workload(name: str):
    """The workload class; module ``perfbench.<name>`` defines it."""
    import importlib

    return importlib.import_module(f"perfbench.{name}").WORKLOAD


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit (it exits when its
    stdin, the gateway's liveness pipe, closes)."""
    import subprocess

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def run(args, spec: dict, work: Path) -> tuple[dict, dict, dict]:
    from perfbench import datagen
    from perfbench.harness import Context
    from perfbench.measure import tree_bytes, versions_retained, vm_hwm_mb

    wl_cls = _workload(args.workload)
    data = datagen.write_tables(wl_cls.tables(args.seed), str(work / "data"))

    t0 = time.perf_counter()
    from myduckserver_spark.session import build_session

    spark = build_session(extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    })
    try:
        ctx = Context(spark, str(work), data, args.seed)
        wl = wl_cls(ctx)
        session_s = time.perf_counter() - t0
        t = time.perf_counter()
        wl.load()
        load_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t

        if args.trace:
            from perfbench.tracer import Tracer

            ctx.tracer = Tracer(spark)
            ctx.tracer.install()
        try:
            wl.run(args.seconds)
        finally:
            if ctx.tracer is not None:
                ctx.tracer.uninstall()
        t = time.perf_counter()
        wl.verify()
        verify_s = time.perf_counter() - t
        e2e = wl.e2e()
        e2e["setup_s"] = session_s + load_s + warmup_s
        jvm = spark.sparkContext._gateway.proc.pid
        rss = {"python": vm_hwm_mb(), "jvm": vm_hwm_mb(jvm)}

        failed = [o for o in ctx.ops if o.error is not None]
        for o in failed[:3]:
            print(f"FAILED {o.kind}: {o.error}", file=sys.stderr)
        for m in ctx.mismatches[:10]:
            print(f"MISMATCH {m}", file=sys.stderr)
        counts = {"attempted": len(ctx.ops) + ctx.events,
                  "failed": len(failed) + len(ctx.mismatches)}

        layer = {name: 0.0 for name in
                 (m["name"] for m in spec["per_layer"])}
        if ctx.tracer is not None:
            user = wl.user_bytes()
            wh = work / "wh"
            from perfbench.harness import trace_overhead_ms

            layer["trace.overhead_ms"] = trace_overhead_ms(ctx)
            layer.update(ctx.tracer.layer_metrics(user))
            layer.update(wl.layer())
            layer["catalog.versions_retained"] = versions_retained(str(wh))
            layer["catalog.storage_bytes_per_user_byte"] = (
                tree_bytes(str(wh)) / user)
            layer["setup.session_ms"] = session_s * 1e3
            layer["setup.load_ms"] = load_s * 1e3
            layer["rss_peak_mb"] = rss["python"] + rss["jvm"]
            out = ROOT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            ctx.tracer.dump(str(out / f"{args.workload}-seed{args.seed}"
                                      "-spans.jsonl"))
        e2e["error_rate"] = counts["failed"] / max(1, counts["attempted"])
        e2e["phases_s"] = {"session": session_s, "load": load_s,
                           "warmup": warmup_s, "verify": verify_s,
                           "rss_mb": rss}
        return e2e, layer, counts
    finally:
        _stop_spark(spark)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops the JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    _env(work)
    try:
        _import_engine()
        e2e, layer, counts = run(args, spec, work)
    except Exception:  # noqa: BLE001 — report and exit without a result
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:
            pass  # another run is using it

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    for m in spec["end_to_end"]:
        if not math.isfinite(e2e[m["name"]]):
            print(f"{m['name']} has no samples", file=sys.stderr)
            return 1
    for name, v in layer.items():
        if not math.isfinite(v):
            layer[name] = 0.0  # no samples: the layer was not exercised
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} samples={e2e['samples']} "
          f"attempted={counts['attempted']} failed={counts['failed']}")
    for m in spec["end_to_end"]:
        print(f"#   {m['name']} = {e2e[m['name']]:.4f} {m['unit']}")
    print(f"#   error_rate = {e2e['error_rate']:.4f} (failed/attempted)")
    print(f"#   phases_s = {json.dumps(e2e['phases_s'])}")
    if "p50_ms_by_kind" in e2e:
        print(f"#   p50_ms_by_kind = {json.dumps(e2e['p50_ms_by_kind'])}")
    if args.trace:
        for name, v in sorted(layer.items()):
            print(f"#   {name} = {v:.4f}")
    correct = counts["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]} for m in wanted},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
