"""cdc_ingest: replication of a binlog-style change stream into the
engine while a reader queries the replicated tables.

A generator thread appends seeded transactions through the file feed's
public ``append`` on an open-loop schedule: a ladder of event rates,
each held for an equal share of the run. Each transaction is an
``orders`` insert, update or delete plus a ``customer`` balance update
(two events). The engine replicates them after ``CHANGE REPLICATION
SOURCE TO ...; START REPLICA``; a pump thread calls
``Engine.replica_poll`` (no faster than the applier's 200 ms tick) and,
every half second, runs an aggregate read over the replicated tables,
alternating the MySQL and Postgres dialects.

Each event is timed from when it was due, not from when the generator
managed to append it, until the ``replica_poll`` that committed a
position at or past it returned (its freshness). A rung of the ladder
is sustained when every event due in it was appended and its
freshness p90 is within FRESHNESS_LIMIT_MS; a growing backlog shows as
a growing freshness. The workload's latency is the freshness over the
sustained rungs, and its throughput the input rate achieved in the
highest sustained rung.

``orders`` is replicated without ``o_orderdate``: feed rows are JSON
and the applier cannot turn a JSON string into a DATETIME value."""

from __future__ import annotations

import bisect
import decimal
import random
import threading
import time
import traceback

from perfbench import datagen
from perfbench.harness import Op, canon_rows
from perfbench.measure import pct

LADDER = (100, 200, 400)  # events per second
FRESHNESS_LIMIT_MS = 20000.0
TICK_S = 0.2  # the applier's flush interval (reference: 200 ms)
READ_EVERY_S = 0.5

ORDERS = "orders_r"
CUSTOMER = "customer_r"
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderpriority"]
CUSTOMER_COLS = ["c_custkey", "c_name", "c_nationkey", "c_acctbal",
                 "c_mktsegment"]
READS = [
    ("mysql", f"SELECT COUNT(*) AS n, SUM(CAST(o_totalprice AS "
              f"DECIMAL(18,2))) AS s FROM {ORDERS}", ORDERS),
    ("postgres", f"SELECT COUNT(*) AS n, SUM(c_acctbal::numeric(18,2)) "
                 f"AS s FROM {CUSTOMER}", CUSTOMER),
]
INSERT, UPDATE, DELETE = 2, 1, 0  # operators.cdc action codes
CENT = decimal.Decimal("0.01")


def _cents(v: float) -> decimal.Decimal:
    return decimal.Decimal(repr(v)).quantize(CENT, decimal.ROUND_HALF_UP)


class _State:
    """The source database: table contents plus running aggregates (the
    fourth column, ``o_totalprice`` / ``c_acctbal``, is the one summed)."""

    def __init__(self, orders: dict, customers: dict):
        self.tables = {ORDERS: orders, CUSTOMER: customers}
        self.sums = {t: sum((_cents(r[3]) for r in rows.values()),
                            decimal.Decimal(0))
                     for t, rows in self.tables.items()}

    def apply(self, table: str, action: int, row: tuple) -> None:
        rows = self.tables[table]
        old = rows.pop(row[0], None)
        if old is not None:
            self.sums[table] -= _cents(old[3])
        if action != DELETE:
            rows[row[0]] = row
            self.sums[table] += _cents(row[3])

    def aggregate(self, table: str) -> tuple[int, decimal.Decimal]:
        return len(self.tables[table]), self.sums[table]


class CdcIngest:
    name = "cdc_ingest"

    @staticmethod
    def tables(seed: int) -> dict:
        t = datagen.tpch_tables(seed)
        return {"orders": t["orders"].select(ORDER_COLS),
                "customer": t["customer"].select(CUSTOMER_COLS)}

    def __init__(self, ctx):
        from myduckserver_spark.streaming.cdc_source import FileCdcFeed

        self.ctx = ctx
        self.engine = ctx.engine("wh")
        self.rng = random.Random(ctx.seed)
        self.feed_dir = f"{ctx.work}/feed"
        self.feed = FileCdcFeed(self.feed_dir)
        # (position, due, appended at, table, action, row), position order
        self.events: list[tuple] = []
        self.polls: list[tuple] = []  # (end time, committed position)
        self.reads: list[tuple] = []  # (committed position, read, result)
        self.flushes: list = []
        self.append_s: list[float] = []
        self.lateness_s: list[float] = []
        self.cycle_s: list[tuple[bool, float]] = []  # (traced, seconds)
        self.backlog_max = 0
        self.poll_failures = 0

    # ------------------------------------------------------------ load
    def load(self) -> None:
        import pyarrow.parquet as pq

        e = self.engine
        e.execute(f"DROP TABLE IF EXISTS {ORDERS}")
        e.execute(f"DROP TABLE IF EXISTS {CUSTOMER}")
        e.execute(
            f"CREATE TABLE {ORDERS} (o_orderkey BIGINT NOT NULL, "
            "o_custkey BIGINT, o_orderstatus VARCHAR(1), o_totalprice DOUBLE, "
            "o_orderpriority VARCHAR(15), PRIMARY KEY (o_orderkey))")
        e.execute(
            f"CREATE TABLE {CUSTOMER} (c_custkey BIGINT NOT NULL, "
            "c_name VARCHAR(25), c_nationkey INT, c_acctbal DOUBLE, "
            "c_mktsegment VARCHAR(10), PRIMARY KEY (c_custkey))")
        for table, src in ((ORDERS, "orders"), (CUSTOMER, "customer")):
            e.execute(f"COPY {table} FROM '{self.ctx.data[src]}' "
                      "(FORMAT parquet)", dialect="postgres")
        rows = {
            t: {r[cols[0]]: tuple(r[c] for c in cols) for r in
                pq.read_table(self.ctx.data[src], columns=cols).to_pylist()}
            for t, src, cols in ((ORDERS, "orders", ORDER_COLS),
                                 (CUSTOMER, "customer", CUSTOMER_COLS))
        }
        self.start = rows
        self.source = _State(dict(rows[ORDERS]), dict(rows[CUSTOMER]))
        self.order_keys = sorted(rows[ORDERS])
        self.next_key = max(self.order_keys) + 1

    # ---------------------------------------------------- transactions
    def _txn(self) -> list[tuple]:
        """One seeded source transaction as (table, action, row) events,
        applied to the source state as it is generated."""
        r, src = self.rng, self.source
        orders, customers = src.tables[ORDERS], src.tables[CUSTOMER]
        p = r.random()
        if p < 0.5 or len(self.order_keys) < 100:
            key = self.next_key
            self.next_key += 1
            self.order_keys.append(key)
            action = INSERT
        else:
            i = r.randrange(len(self.order_keys))
            key = self.order_keys[i]
            action = UPDATE if p < 0.85 else DELETE
            if action == DELETE:
                self.order_keys[i] = self.order_keys[-1]
                self.order_keys.pop()
        if action == DELETE:
            order = orders[key]
        else:
            old = orders.get(key)
            order = (key, old[1] if old else r.randrange(len(customers)),
                     r.choice("FOP"), round(r.uniform(1000, 400000), 2),
                     r.choice(datagen.PRIORITIES))
        cust = customers[r.randrange(len(customers))]
        cust = cust[:3] + (round(cust[3] + r.uniform(-100, 100), 2),) \
            + cust[4:]
        events = [(ORDERS, action, order), (CUSTOMER, UPDATE, cust)]
        for ev in events:
            src.apply(*ev)
        return events

    def _append(self, txn_seq: int, events: list[tuple]) -> list[int]:
        out = []
        for stmt, (table, action, row) in enumerate(events):
            cols = ORDER_COLS if table == ORDERS else CUSTOMER_COLS
            payload = dict(zip(cols, row))
            if action == DELETE:
                payload = {cols[0]: row[0]}
            out.append(self.feed.append(action, payload, txn_seq=txn_seq,
                                        txn_stmt=stmt, table=table))
        return out

    # ------------------------------------------------------------ warm-up
    def warmup(self) -> None:
        """Attach the replica, then replicate 20 transactions and run
        each read once, so the flush and read paths have compiled."""
        e = self.engine
        e.execute(f"CHANGE REPLICATION SOURCE TO SOURCE_HOST = "
                  f"'file://{self.feed_dir}', SOURCE_USER = 'bench'")
        e.execute("START REPLICA")
        now = time.perf_counter()
        for seq in range(20):
            events = self._txn()
            for pos, ev in zip(self._append(seq, events), events):
                self.events.append((pos, now, now) + ev)
        self.txn_seq = 20
        self.n_warm = len(self.events)
        for r in e.replica_poll():
            self.polls.append((time.perf_counter(), r.position))
        for i in range(len(READS)):
            self._read(i)

    def _read(self, i: int):
        dialect, sql, _table = READS[i]
        row = self.engine.sql(sql, dialect=dialect).collect()[0]
        return int(row[0]), decimal.Decimal(row[1]).quantize(CENT)

    # ---------------------------------------------------------------- run
    def run(self, seconds: float) -> None:
        rung_s = seconds / len(LADDER)
        # the schedule: (due offset, transaction) for every rung
        schedule = []
        for k, rate in enumerate(LADDER):
            n = int(rate * rung_s / 2)  # two events per transaction
            schedule += [(k * rung_s + j * 2.0 / rate, self._txn())
                         for j in range(n)]
        self.rung_s = rung_s
        self.t0 = time.perf_counter() + 0.05
        self.gen_done = threading.Event()
        gen = threading.Thread(target=self._generate, args=(schedule,))
        pump = threading.Thread(target=self._pump)
        gen.start()
        pump.start()
        gen.join()
        pump.join()
        self.ctx.elapsed_s = self.polls[-1][0] - self.t0
        self.ctx.events = sum(len(events) for _o, events in schedule)
        if self.pump_error:
            raise RuntimeError(self.pump_error)

    def _generate(self, schedule) -> None:
        try:
            for offset, events in schedule:
                due = self.t0 + offset
                now = time.perf_counter()
                if now - due >= FRESHNESS_LIMIT_MS / 1e3:
                    break  # hopelessly late: the rest count as missed
                if now < due:
                    time.sleep(due - now)
                t = time.perf_counter()
                positions = self._append(self.txn_seq, events)
                end = time.perf_counter()
                self.append_s.append((end - t) / len(events))
                self.lateness_s.append(t - due)
                self.txn_seq += 1
                for pos, ev in zip(positions, events):
                    self.events.append((pos, due, end) + ev)
        finally:
            self.scheduled = schedule
            self.gen_done.set()

    def _pump(self) -> None:
        """Poll, read, repeat; after the generator stops, drain."""
        tracer = self.ctx.tracer
        self.pump_error = None
        committed = self.polls[-1][1] if self.polls else 0
        last_read = 0.0
        cycle = 0
        try:
            while True:
                done = self.gen_done.is_set()
                traced = tracer is not None and \
                    bin(cycle).count("1") % 2 == 0
                if traced:
                    tracer.begin_op(cycle)
                t0 = time.perf_counter()
                try:
                    results = self.engine.replica_poll()
                except Exception:  # noqa: BLE001 — counted, then retried
                    self.poll_failures += 1
                    results = []
                    traceback.print_exc()
                t1 = time.perf_counter()
                for r in results:
                    self.flushes.append(r)
                    if r.applied:
                        committed = max(committed, r.position)
                self.polls.append((t1, committed))
                self.backlog_max = max(self.backlog_max,
                                       self.events[-1][0] - committed)
                if t1 - last_read >= READ_EVERY_S and not done:
                    i = len(self.reads) % len(READS)
                    r0 = time.perf_counter()
                    try:
                        res, err = self._read(i), None
                    except Exception:  # noqa: BLE001 — a failed read
                        res, err = None, traceback.format_exc(limit=3)
                    last_read = time.perf_counter()
                    self.reads.append((committed, i, res))
                    self.ctx.ops.append(Op(f"read.{READS[i][0]}",
                                           last_read - r0, traced, res, err))
                if tracer is not None:
                    self.cycle_s.append((traced, time.perf_counter() - t0))
                if traced:
                    tracer.end_op()
                cycle += 1
                if done and committed >= self.events[-1][0]:
                    return
                if self.poll_failures > 10:
                    raise RuntimeError("replica_poll keeps failing")
                rest = TICK_S - (time.perf_counter() - t0)
                if rest > 0:
                    time.sleep(rest)
        except Exception:  # noqa: BLE001 — surfaced by run()
            self.pump_error = traceback.format_exc()
            self.gen_done.wait()

    # ------------------------------------------------------------ results
    def _freshness(self) -> list[tuple]:
        """(rung, freshness ms, appended at) per event of the run; the
        freshness is ``None`` when the event was due but never
        appended."""
        ends = [p[0] for p in self.polls]
        commits = [p[1] for p in self.polls]
        # committed positions only grow, so bisect finds the first poll
        out = []
        for pos, due, appended, *_ in self.events[self.n_warm:]:
            i = bisect.bisect_left(commits, pos)
            rung = min(int((due - self.t0) / self.rung_s), len(LADDER) - 1)
            out.append((rung, (ends[i] - due) * 1e3, appended))
        for offset, events in self.scheduled[self.txn_seq - 20:]:
            rung = min(int(offset / self.rung_s), len(LADDER) - 1)
            out += [(rung, None, None)] * len(events)
        return out

    def _rungs(self) -> list[dict]:
        fresh = self._freshness()
        out = []
        for k, rate in enumerate(LADDER):
            rung = [(f, a) for r, f, a in fresh if r == k]
            ok = [f for f, _a in rung if f is not None]
            last = max((a for _f, a in rung if a is not None), default=None)
            p90 = pct(ok, 90)
            out.append({
                "rate": rate, "fresh": ok, "p50": pct(ok, 50), "p90": p90,
                # events appended per second, from the rung's start to
                # its last append: the input rate the engine was offered
                "achieved": (len(ok) / (last - self.t0 - k * self.rung_s)
                             if last else 0.0),
                "sustained": len(ok) == len(rung) and len(ok) > 0
                and p90 <= FRESHNESS_LIMIT_MS,
            })
        return out

    def verify(self) -> None:
        # replay the appended events (the generator may have missed the
        # tail of the schedule) up to each read's committed position
        state = _State(dict(self.start[ORDERS]), dict(self.start[CUSTOMER]))
        events = self.events  # appended in position order
        j = 0
        for committed, i, res in self.reads:
            while j < len(events) and events[j][0] <= committed:
                state.apply(*events[j][3:])
                j += 1
            if res is not None and res != state.aggregate(READS[i][2]):
                self.ctx.mismatch(f"read {READS[i][1][:40]} at position "
                                  f"{committed}: {res} != "
                                  f"{state.aggregate(READS[i][2])}")
        for ev in events[j:]:
            state.apply(*ev[3:])
        self.final = state
        # the final tables: every appended event applied
        for table, cols in ((ORDERS, ORDER_COLS), (CUSTOMER, CUSTOMER_COLS)):
            got = self.engine.sql(f"SELECT * FROM {table}").toPandas()
            have = canon_rows(got[cols].itertuples(index=False))
            want = canon_rows(state.tables[table].values())
            if have != want:
                self.ctx.mismatch(f"final {table}: {len(have)} rows differ "
                                  f"from the source's {len(want)}")
        self.final_bytes = self._user_bytes()
        if self.poll_failures:
            self.ctx.mismatch(f"{self.poll_failures} replica_poll calls failed")

    def _user_bytes(self) -> int:
        import pyarrow as pa

        total = 0
        for table, cols in ((ORDERS, ORDER_COLS), (CUSTOMER, CUSTOMER_COLS)):
            rows = list(self.final.tables[table].values())
            total += pa.table({c: [r[i] for r in rows]
                               for i, c in enumerate(cols)}).nbytes
        return total

    def e2e(self) -> dict:
        rungs = self._rungs()
        sustained = [r for r in rungs if r["sustained"]] or rungs[:1]
        good = [f for r in sustained for f in r["fresh"]]
        return {
            "latency_p50_ms": pct(good, 50),
            "latency_p90_ms": pct(good, 90),
            "throughput_ops_s": sustained[-1]["achieved"],
            "samples": len(good),
        }

    def layer(self) -> dict:
        rungs = self._rungs()
        reads = [o.latency_s * 1e3 for o in self.ctx.ops if o.error is None]
        reasons: dict[str, int] = {}
        for f in self.flushes:
            reasons[f.reason] = reasons.get(f.reason, 0) + 1
        out = {
            "ingest.read_p50_ms": pct(reads, 50),
            "ingest.read_p90_ms": pct(reads, 90),
            "generator.lateness_ms": pct([x * 1e3 for x in self.lateness_s],
                                         90),
            "streaming.feed_append_p50_ms": pct(
                [x * 1e3 for x in self.append_s], 50),
            "streaming.feed_append_p90_ms": pct(
                [x * 1e3 for x in self.append_s], 90),
            "streaming.flush_rows": (sum(f.rows for f in self.flushes)
                                     / max(1, len(self.flushes))),
            "streaming.backlog_events_max": self.backlog_max,
            "streaming.flush_failed": self.poll_failures + sum(
                1 for f in self.flushes if not f.applied),
        }
        for reason in ("Query", "RowCountLimit", "MemoryLimit", "TimeTick"):
            out[f"streaming.flushes.{reason}"] = reasons.get(reason, 0)
        for r in rungs:
            out[f"ingest.r{r['rate']}.freshness_p50_ms"] = r["p50"]
            out[f"ingest.r{r['rate']}.freshness_p90_ms"] = r["p90"]
        tracer = self.ctx.tracer
        if tracer is not None:
            n = tracer.counters.get("streaming.feed_read_events", 0)
            out["streaming.feed_read_ms_per_event"] = (
                tracer.counters.get("streaming.feed_read_s", 0) * 1e3 / n
                if n else 0.0)
            polls = tracer.spans_by_name("streaming.poll")
            out["streaming.poll_ms"] = (
                sum(s[2] - s[1] for s in polls) * 1e3 / len(polls)
                if polls else 0.0)
            on = [c for t, c in self.cycle_s if t]
            off = [c for t, c in self.cycle_s if not t]
            out["trace.overhead_ms"] = (pct(on, 50) - pct(off, 50)) * 1e3
        return out

    def user_bytes(self) -> int:
        return self.final_bytes


WORKLOAD = CdcIngest
