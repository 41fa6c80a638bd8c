"""point_dml: one client running a key-skewed OLTP mix on a PRIMARY KEY
table copied from ``orders``.

Every block of 10 operations holds the same classes in a seeded order:
2 point SELECTs by key (read-your-writes checks), a single-row and a
100-row INSERT, 2 UPDATEs and a DELETE by key, 2 INSERT ... ON
DUPLICATE KEY UPDATE and a REPLACE. Keys are drawn 80% from a hot set
of 64 keys. A Python model of the table applies the same statements;
each statement's affected-row count, each point SELECT and the final
table contents are compared with it."""

from __future__ import annotations

import datetime as dt
import random

from perfbench import datagen
from perfbench.harness import canon_rows, closed_loop_metrics, run_closed

TABLE = "orders_dml"
COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"]
BLOCK = (["select"] * 2 + ["insert1", "insert100"] + ["update"] * 2
         + ["delete"] + ["upsert"] * 2 + ["replace"])
HOT_KEYS = 64
NEW_KEY_BASE = 10_000_000


def _lit(v) -> str:
    if isinstance(v, str):
        return "'" + v + "'"
    if isinstance(v, dt.datetime):
        return "'" + v.strftime("%Y-%m-%d %H:%M:%S") + "'"
    return repr(v)


def _values(row: tuple) -> str:
    return "(" + ", ".join(_lit(v) for v in row) + ")"


class PointDml:
    name = "point_dml"

    @staticmethod
    def tables(seed: int) -> dict:
        return {"orders": datagen.tpch_tables(seed)["orders"]}

    def __init__(self, ctx):
        self.ctx = ctx
        self.engine = ctx.engine("wh")
        self.rng = random.Random(ctx.seed)
        self.next_key = NEW_KEY_BASE

    def load(self) -> None:
        import pyarrow.parquet as pq

        e = self.engine
        e.execute(f"DROP TABLE IF EXISTS {TABLE}")
        e.execute(
            f"CREATE TABLE {TABLE} (o_orderkey BIGINT NOT NULL, "
            "o_custkey BIGINT, o_orderstatus VARCHAR(1), o_totalprice DOUBLE, "
            "o_orderdate DATETIME, o_orderpriority VARCHAR(15), "
            "PRIMARY KEY (o_orderkey))")
        e.execute(f"COPY {TABLE} FROM '{self.ctx.data['orders']}' "
                  "(FORMAT parquet)", dialect="postgres")
        rows = pq.read_table(self.ctx.data["orders"]).to_pylist()
        self.model = {r["o_orderkey"]: tuple(r[c] for c in COLS)
                      for r in rows}
        keys = sorted(self.model)
        self.hot = self.rng.sample(keys, HOT_KEYS)
        self.keys = keys

    # ----------------------------------------------------------- the mix
    def _key(self) -> int:
        if self.rng.random() < 0.8:
            return self.rng.choice(self.hot)
        return self.rng.choice(self.keys)

    def _row(self, key: int) -> tuple:
        r = self.rng
        return (key, r.randrange(1500), r.choice("FOP"),
                round(r.uniform(1000, 400000), 2),
                dt.datetime(1992, 1, 1) + dt.timedelta(days=r.randrange(2400)),
                r.choice(datagen.PRIORITIES))

    def _new_key(self) -> int:
        self.next_key += 1
        return self.next_key

    def _stmt(self, kind: str):
        """(sql, expected affected rows or select row) for one op; the
        model is updated as the statement will change the table."""
        m = self.model
        if kind == "select":
            k = self._key()
            return (f"SELECT * FROM {TABLE} WHERE o_orderkey = {k}",
                    ("row", m.get(k)))
        if kind == "insert1":
            row = self._row(self._new_key())
            m[row[0]] = row
            return f"INSERT INTO {TABLE} VALUES {_values(row)}", 1
        if kind == "insert100":
            rows = [self._row(self._new_key()) for _ in range(100)]
            m.update((r[0], r) for r in rows)
            return (f"INSERT INTO {TABLE} VALUES "
                    + ", ".join(_values(r) for r in rows), 100)
        if kind == "update":
            k, add = self._key(), round(self.rng.uniform(1, 50), 2)
            status = self.rng.choice("FOP")
            sql = (f"UPDATE {TABLE} SET o_totalprice = o_totalprice + {add}, "
                   f"o_orderstatus = '{status}' WHERE o_orderkey = {k}")
            if k not in m:
                return sql, 0
            old = m[k]
            new = (k, old[1], status, old[3] + add, old[4], old[5])
            m[k] = new
            return sql, int(new != old)
        if kind == "delete":
            k = self._key()
            return (f"DELETE FROM {TABLE} WHERE o_orderkey = {k}",
                    int(m.pop(k, None) is not None))
        key = self._key() if self.rng.random() < 0.7 else self._new_key()
        row = self._row(key)
        old = m.get(key)
        if kind == "upsert":
            sql = (f"INSERT INTO {TABLE} VALUES {_values(row)} ON DUPLICATE "
                   "KEY UPDATE o_totalprice = VALUES(o_totalprice), "
                   "o_orderstatus = VALUES(o_orderstatus)")
            if old is None:
                m[key] = row
                return sql, 1
            new = (key, old[1], row[2], row[3], old[4], old[5])
            m[key] = new
            return sql, 0 if new == old else 2
        m[key] = row  # replace
        return f"REPLACE INTO {TABLE} VALUES {_values(row)}", \
            1 if old is None else 2

    def _blocks(self):
        """Blocks of BLOCK in a seeded order. A block is drawn (and the
        model updated) only when it is about to run."""
        while True:
            kinds = list(BLOCK)
            self.rng.shuffle(kinds)
            yield [(kind, self._op(*self._stmt(kind))) for kind in kinds]

    def _op(self, sql, expect):
        def fn():
            r = self.engine.execute(sql)
            if isinstance(expect, tuple):
                return expect, r.toPandas()
            return expect, r.affected_rows

        return fn

    # ---------------------------------------------------------- phases
    def warmup(self) -> None:
        """One block, so each statement class has compiled once."""
        for kind, fn in next(self._blocks()):
            expect, got = fn()
            if not self._matches(expect, got):
                raise AssertionError(f"warm-up {kind} mismatch")

    def run(self, seconds: float) -> None:
        run_closed(self.ctx, self._blocks(), seconds)

    @staticmethod
    def _matches(expect, got) -> bool:
        if not isinstance(expect, tuple):
            return expect == got
        row = expect[1]
        return canon_rows(got[COLS].itertuples(index=False)) == \
            canon_rows([] if row is None else [row])

    def verify(self) -> None:
        for op in self.ctx.ops:
            if op.error is None and not self._matches(*op.result):
                self.ctx.mismatch(f"{op.kind}: expected {op.result[0]!r}, "
                                  f"got {op.result[1]!r}")
        got = self.engine.sql(f"SELECT * FROM {TABLE}").toPandas()
        have = canon_rows(got[COLS].itertuples(index=False))
        want = canon_rows(self.model.values())
        if have != want:
            self.ctx.mismatch(f"final {TABLE}: {len(have)} rows differ from "
                              f"the model's {len(want)}")
        self.final_rows = got

    def e2e(self) -> dict:
        return closed_loop_metrics(self.ctx)

    def layer(self) -> dict:
        return {}

    def user_bytes(self) -> int:
        import pyarrow as pa

        return pa.Table.from_pandas(self.final_rows, preserve_index=False).nbytes


WORKLOAD = PointDml
