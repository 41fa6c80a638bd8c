"""Spans around the engine's public layer functions, recorded from the
benchmark's side (the engine itself is not instrumented).

``Tracer.install`` replaces each listed function with a wrapper that,
while tracing is on, records ``(name, start, end, parent, op, thread,
info)`` in memory. Spans of one benchmark operation share its op id;
``parent`` is the enclosing span on the same thread. Each traced
operation also runs under its own Spark job group, so jobs, stages,
tasks and bytes are attributed to exactly that operation — never the
session-wide job list, which background or concurrent jobs pollute.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

from perfbench.measure import new_file_bytes


def _targets():
    """(owner, attribute, span name) for every wrapped function.

    Module-level functions are patched on every module that imported
    them by name, because such a module calls its own binding."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from myduckserver_spark import catalog, engine, infoschema, statements
    from myduckserver_spark.functions import mysql_compat, pg_compat
    from myduckserver_spark.operators import cdc
    from myduckserver_spark.streaming import cdc_source, multi_applier

    t = [
        (engine.Engine, "execute", "engine.execute"),
        (engine.Engine, "sql", "engine.sql"),
        (engine.Engine, "replica_poll", "engine.replica_poll"),
        (statements, "split_statements", "statements.split"),
        (statements, "parse_statement", "statements.parse"),
        (mysql_compat, "translate_mysql", "functions.translate_mysql"),
        (engine, "translate_mysql", "functions.translate_mysql"),
        (pg_compat, "translate_postgres", "functions.translate_postgres"),
        (infoschema, "register_referenced", "infoschema.register"),
        (catalog.ParquetTable, "read", "catalog.read"),
        (catalog.ParquetTable, "count", "catalog.count"),
        (catalog.ParquetTable, "prepare_snapshot", "catalog.snapshot_write"),
        (catalog.ParquetTable, "overwrite_pruned", "catalog.snapshot_write"),
        (catalog.Catalog, "commit_multi", "catalog.commit"),
        (catalog.Catalog, "merge_batch_multi", "catalog.merge_batch_multi"),
        (cdc, "apply_cdc", "operators.apply_cdc"),
        (catalog, "apply_cdc", "operators.apply_cdc"),
        (cdc_source.FileCdcFeed, "append", "streaming.feed_append"),
        (multi_applier.MultiTableCdcApplier, "poll", "streaming.poll"),
    ]
    for m in ("collect", "toPandas", "count", "take", "first", "head",
              "isEmpty", "toLocalIterator", "foreach", "foreachPartition"):
        if hasattr(DataFrame, m):
            t.append((DataFrame, m, "spark.action"))
    for m in ("parquet", "save", "csv", "json", "saveAsTable", "insertInto"):
        t.append((DataFrameWriter, m, "spark.action"))
    return t


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.active = False  # a traced run: the generator's appends count
        self.enabled = False  # the current operation is traced
        self.op: int | None = None  # current operation (pump/client thread)
        self.spans: list[tuple] = []
        self.counters: dict[str, float] = {}
        self.op_stats: dict[int, dict] = {}
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []
        self._last_read: dict[str, object] = {}

    # ------------------------------------------------------- installation
    def install(self) -> None:
        from myduckserver_spark.streaming import cdc_source

        self.active = True
        for owner, attr, name in _targets():
            own = attr in vars(owner)  # else inherited: shadow, then delete
            self._patched.append((owner, attr,
                                  vars(owner)[attr] if own else None))
            setattr(owner, attr, self._wrap(getattr(owner, attr), name))
        orig_events = cdc_source.FileCdcFeed.events_after
        self._patched.append((cdc_source.FileCdcFeed, "events_after",
                              orig_events))
        cdc_source.FileCdcFeed.events_after = self._wrap_reader(orig_events)

    def uninstall(self) -> None:
        self.active = False
        for owner, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    def _stack(self) -> list:
        s = getattr(self._tls, "stack", None)
        if s is None:
            s = self._tls.stack = []
        return s

    def _wrap(self, fn, name):
        tracer = self

        generator_side = name == "streaming.feed_append"

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if generator_side:
                if not tracer.active:
                    return fn(*args, **kwargs)
                op = None  # the load generator is not an operation
            elif not tracer.enabled:
                return fn(*args, **kwargs)
            else:
                op = tracer.op
                tracer._join_group(op)
            stack = tracer._stack()
            parent = stack[-1] if stack else -1
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append(None)
            stack.append(idx)
            tid = threading.get_ident()
            start = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                tracer.spans[idx] = (name, start, time.perf_counter(),
                                     parent, op, tid, None)
                raise
            finally:
                end = time.perf_counter()
                stack.pop()
            tracer.spans[idx] = (name, start, end, parent, op, tid,
                                 tracer._info(name, args, out))
            return out

        return wrapper

    def _wrap_reader(self, gen_fn):
        """Feed reads are generators consumed interleaved with the
        applier's buffering, so they are counted (time inside the
        generator, events yielded) rather than spanned."""
        tracer = self

        @functools.wraps(gen_fn)
        def wrapper(*args, **kwargs):
            it = gen_fn(*args, **kwargs)
            busy, n = 0.0, 0
            try:
                while True:
                    t0 = time.perf_counter()
                    try:
                        ev = next(it)
                    except StopIteration:
                        busy += time.perf_counter() - t0
                        return
                    busy += time.perf_counter() - t0
                    n += 1
                    yield ev
            finally:
                if tracer.enabled:
                    tracer.count("streaming.feed_read_s", busy)
                    tracer.count("streaming.feed_read_events", n)

        return wrapper

    def _info(self, name, args, out):
        if name == "catalog.read":
            prev = self._last_read.get(args[0].name)
            self._last_read[args[0].name] = out
            return {"hit": prev is out}
        if name == "catalog.snapshot_write":
            table = args[0]
            version = out["version"] if isinstance(out, dict) else out
            return {"bytes": new_file_bytes(
                os.path.join(table.dir, f"v{version}"))}
        return None

    def count(self, key: str, value: float) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0.0) + value

    # ------------------------------------------------ Spark attribution
    def _join_group(self, op) -> None:
        """Run this thread's Spark jobs under the operation's job group
        (threads a layer starts internally inherit nothing)."""
        if op is None or getattr(self._tls, "group", None) == op:
            return
        self.sc.setJobGroup(f"perfbench-op-{op}", "perfbench", False)
        self._tls.group = op

    def begin_op(self, op: int) -> None:
        self.op = op
        self.enabled = True
        self._join_group(op)

    def end_op(self) -> None:
        """Stop tracing and attribute the finished operation's Spark
        work (outside the operation's timed region)."""
        self.enabled = False
        op, self.op = self.op, None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self._tls.group = None
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.op_stats[op] = self._group_stats(f"perfbench-op-{op}")

    def _group_stats(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        empty_q = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        stats = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0,
                 "input_bytes": 0}
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            stats["jobs"] += 1
            for sid in info.stageIds:
                si = tracker.getStageInfo(sid)
                if si is None or si.numCompletedTasks == 0:
                    continue  # skipped: its output was reused
                stats["stages"] += 1
                stats["tasks"] += si.numCompletedTasks
                sd = store.stageAttempt(
                    sid, si.currentAttemptId, False,
                    self.sc._jvm.java.util.ArrayList(), False, empty_q)._1()
                stats["shuffle_bytes"] += sd.shuffleReadBytes()
                stats["input_bytes"] += sd.inputBytes()
        return stats

    # ------------------------------------------------------- derivation
    def _layer_spans(self, prefix: str) -> list[tuple]:
        """Outermost spans of a layer (a layer re-entering itself, e.g.
        a parser parsing a nested statement, is counted once)."""
        out = []
        for s in self.spans:
            if s is None or not s[0].startswith(prefix):
                continue
            p = s[3]
            while p >= 0 and not self.spans[p][0].startswith(prefix):
                p = self.spans[p][3]
            if p < 0:
                out.append(s)
        return out

    def _self_ms(self, name: str) -> float:
        children: dict[int, float] = {}
        for s in self.spans:
            if s is not None and s[3] >= 0:
                children[s[3]] = children.get(s[3], 0.0) + s[2] - s[1]
        total = 0.0
        for i, s in enumerate(self.spans):
            if s is not None and s[0] == name:
                total += (s[2] - s[1]) - children.get(i, 0.0)
        return total * 1e3

    def _ms(self, prefix: str) -> float:
        return sum(s[2] - s[1] for s in self._layer_spans(prefix)) * 1e3

    def layer_metrics(self, user_bytes: int) -> dict[str, float]:
        """Per-operation layer metrics over the traced operations."""
        n_ops = max(1, len(self.op_stats))
        spans = [s for s in self.spans if s is not None]
        # a span whose call raised carries no info
        reads = [s for s in spans if s[0] == "catalog.read" and s[6]]
        counts = [s for s in spans if s[0] == "catalog.count"]
        ran_action = set()  # spans with a Spark action below them
        for s in spans:
            if s[0] == "spark.action":
                p = s[3]
                while p >= 0 and p not in ran_action:
                    ran_action.add(p)
                    p = self.spans[p][3]
        count_hits = sum(
            1 for i, s in enumerate(self.spans)
            if s is not None and s[0] == "catalog.count"
            and i not in ran_action)
        writes = [s for s in spans
                  if s[0] == "catalog.snapshot_write" and s[6]]
        written = sum(s[6]["bytes"] for s in writes)

        def per_op(key):
            return sum(st[key] for st in self.op_stats.values()) / n_ops

        return {
            "engine.execute_self_ms": self._self_ms("engine.execute") / n_ops,
            "engine.sql_self_ms": self._self_ms("engine.sql") / n_ops,
            "statements.parse_ms": self._ms("statements.") / n_ops,
            "functions.translate_ms": self._ms("functions.") / n_ops,
            "infoschema.register_ms": self._ms("infoschema.") / n_ops,
            "catalog.read_ms": self._ms("catalog.read") / n_ops,
            "catalog.read_calls_per_op": len(reads) / n_ops,
            "catalog.read_memo_hit_ratio": (
                sum(1 for s in reads if s[6]["hit"]) / len(reads)
                if reads else 0.0),
            "catalog.count_ms": self._ms("catalog.count") / n_ops,
            "catalog.count_memo_hit_ratio": (
                count_hits / len(counts) if counts else 0.0),
            "catalog.snapshot_write_ms": self._ms("catalog.snapshot_write")
            / n_ops,
            "catalog.snapshot_writes_per_op": len(writes) / n_ops,
            "catalog.bytes_written_per_user_byte": (
                written / user_bytes if user_bytes else 0.0),
            "catalog.commit_ms": self._ms("catalog.commit") / n_ops,
            "operators.apply_cdc_ms": self._ms("operators.apply_cdc") / n_ops,
            "spark.jobs_per_op": per_op("jobs"),
            "spark.stages_per_op": per_op("stages"),
            "spark.tasks_per_op": per_op("tasks"),
            "spark.action_ms": self._ms("spark.action") / n_ops,
            "spark.shuffle_bytes_per_op": per_op("shuffle_bytes"),
            "spark.input_bytes_per_op": per_op("input_bytes"),
            "trace.spans_per_op": sum(1 for s in spans if s[4] is not None)
            / n_ops,
        }

    def spans_by_name(self, name: str) -> list[tuple]:
        return [s for s in self.spans if s is not None and s[0] == name]

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        keys = ("name", "start", "end", "parent", "op", "thread", "info")
        with open(path, "w") as f:
            for s in self.spans:
                if s is not None:
                    f.write(json.dumps(dict(zip(keys, s))) + "\n")
