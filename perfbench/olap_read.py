"""olap_read: one client sending TPC-H-style headline queries as SQL
text, about half in the MySQL and half in the Postgres dialect, plus
one BI-handshake metadata query per round of seven (12.5%).

Every round holds each query class once, in a seeded order with seeded
parameters, so the latency distribution does not depend on how a seed
happens to weight the classes. Results are checked against DuckDB
running the same query over the same parquet files, compared with the
engine's own oracle harness (type-strict, order-insensitive)."""

from __future__ import annotations

import random
import re

from perfbench import datagen
from perfbench.harness import closed_loop_metrics, run_closed

TABLES = ["region", "nation", "customer", "supplier", "orders", "lineitem"]

# Neutral query text. DEC/DBL/BIG(x) are casts, T(name) a table name and
# LIMIT_n a row limit; render() spells them per dialect.
QUERIES = {
    "q1": """
SELECT l_returnflag, l_linestatus,
  DBL(ROUND(SUM(DEC(l_quantity)), 2)) AS sum_qty,
  DBL(ROUND(SUM(DEC(l_extendedprice)), 2)) AS sum_base_price,
  DBL(ROUND(SUM(DEC(l_extendedprice * (1 - l_discount))), 2)) AS sum_disc_price,
  DBL(ROUND(SUM(DEC(l_extendedprice * (1 - l_discount) * (1 + l_tax))), 2)) AS sum_charge,
  DBL(ROUND(SUM(DEC(l_quantity)), 3)) / COUNT(*) AS avg_qty,
  DBL(ROUND(SUM(DEC(l_discount)), 3)) / COUNT(*) AS avg_disc,
  BIG(COUNT(*)) AS count_order
FROM T(lineitem)
WHERE l_shipdate <= TIMESTAMP '{cutoff}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",
    "q3": """
SELECT l_orderkey,
  DBL(ROUND(SUM(DEC(l_extendedprice * (1 - l_discount))), 2)) AS revenue,
  o_orderdate
FROM T(customer) JOIN T(orders) ON c_custkey = o_custkey
JOIN T(lineitem) ON l_orderkey = o_orderkey
WHERE c_mktsegment = '{segment}'
  AND o_orderdate < TIMESTAMP '{day}' AND l_shipdate > TIMESTAMP '{day}'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT_10""",
    "q5": """
SELECT n_name, DBL(ROUND(SUM(DEC(l_extendedprice * (1 - l_discount))), 2)) AS revenue
FROM T(customer) JOIN T(orders) ON c_custkey = o_custkey
JOIN T(lineitem) ON l_orderkey = o_orderkey
JOIN T(supplier) ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN T(nation) ON s_nationkey = n_nationkey
JOIN T(region) ON n_regionkey = r_regionkey
WHERE r_name = '{region}'
  AND o_orderdate >= TIMESTAMP '{year}-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '{next_year}-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name""",
    "q6": """
SELECT DBL(ROUND(SUM(DEC(l_extendedprice * l_discount)), 2)) AS revenue,
  BIG(COUNT(*)) AS n_rows
FROM T(lineitem)
WHERE l_shipdate >= TIMESTAMP '{year}-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '{next_year}-01-01 00:00:00'
  AND l_discount >= {dlo} AND l_discount <= {dhi} AND l_quantity < {qty}""",
    "q10": """
SELECT c_custkey, c_name,
  DBL(ROUND(SUM(DEC(l_extendedprice * (1 - l_discount))), 2)) AS revenue,
  c_acctbal, n_name
FROM T(customer) JOIN T(orders) ON c_custkey = o_custkey
JOIN T(lineitem) ON l_orderkey = o_orderkey
JOIN T(nation) ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '{year}-{month}-01 00:00:00'
  AND o_orderdate < TIMESTAMP '{year}-{month3}-01 00:00:00'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT_20""",
    "q13": """
SELECT c_count, BIG(COUNT(*)) AS custdist
FROM (SELECT c_custkey, BIG(COUNT(o_orderkey)) AS c_count
      FROM T(customer) LEFT JOIN T(orders)
        ON c_custkey = o_custkey AND o_orderpriority <> '{priority}'
      GROUP BY c_custkey) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC""",
    "q18": """
SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice,
  DBL(ROUND(SUM(DEC(l_quantity)), 2)) AS sum_qty
FROM T(customer) JOIN T(orders) ON c_custkey = o_custkey
JOIN T(lineitem) ON o_orderkey = l_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM T(lineitem) GROUP BY l_orderkey
                     HAVING SUM(DEC(l_quantity)) > {qty})
GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT_100""",
}

_CASTS = {
    "duckdb": {"DEC": "CAST({} AS DECIMAL(18,6))", "DBL": "CAST({} AS DOUBLE)",
               "BIG": "CAST({} AS BIGINT)"},
    "mysql": {"DEC": "CAST({} AS DECIMAL(18,6))", "DBL": "CAST({} AS DOUBLE)",
              "BIG": "CAST({} AS SIGNED)"},
    "postgres": {"DEC": "({})::numeric(18,6)", "DBL": "({})::double precision",
                 "BIG": "({})::bigint"},
}


def _params(rng: random.Random, kind: str) -> dict:
    year = rng.randint(1993, 1997)
    month = rng.choice([1, 4, 7, 10])
    return {
        "q1": lambda: {"cutoff": f"1998-{rng.randint(7, 9):02d}-01 00:00:00"},
        "q3": lambda: {"segment": rng.choice(datagen.SEGMENTS),
                       "day": f"1995-03-{rng.randint(1, 28):02d} 00:00:00"},
        "q5": lambda: {"region": rng.choice(datagen.REGIONS),
                       "year": year, "next_year": year + 1},
        "q6": lambda: {"year": year, "next_year": year + 1,
                       "dlo": f"{(d := rng.randint(3, 8)) / 100 - 0.01:.2f}",
                       "dhi": f"{d / 100 + 0.01:.2f}",
                       "qty": rng.choice([24, 25])},
        "q10": lambda: {"year": year, "month": f"{month:02d}",
                        "month3": f"{month + 2:02d}"},
        "q13": lambda: {"priority": rng.choice(datagen.PRIORITIES)},
        "q18": lambda: {"qty": rng.choice([150, 160, 170, 180])},
    }[kind]()


def _expand_casts(sql: str, casts: dict[str, str]) -> str:
    """Replace NAME(expr) markers innermost-first, matching parens."""
    pat = re.compile(r"\b(DEC|DBL|BIG)\(")
    while True:
        found = None
        for m in pat.finditer(sql):
            found = m  # the last marker holds no other marker
        if found is None:
            return sql
        depth, i = 1, found.end()
        while depth:
            depth += {"(": 1, ")": -1}.get(sql[i], 0)
            i += 1
        inner = sql[found.end():i - 1]
        sql = sql[:found.start()] + casts[found.group(1)].format(inner) \
            + sql[i:]


def render(kind: str, params: dict, dialect: str) -> str:
    sql = QUERIES[kind].format(**params)
    sql = _expand_casts(sql, _CASTS[dialect])
    quote = {"mysql": "`{}`", "postgres": '"{}"', "duckdb": "{}"}[dialect]
    sql = re.sub(r"\bT\((\w+)\)", lambda m: quote.format(m.group(1)), sql)
    limit = "LIMIT 0, {}" if dialect == "mysql" else "LIMIT {}"
    return re.sub(r"\bLIMIT_(\d+)", lambda m: limit.format(m.group(1)), sql)


# BI-handshake metadata queries: (dialect, SQL, expected first-column
# values as a sorted list; ``None`` = the loaded table names).
def _metadata(columns: dict[str, list[str]]):
    return [
        ("mysql", "SHOW TABLES", None),
        ("mysql", "SELECT table_name FROM information_schema.tables "
                  "WHERE table_schema = DATABASE()", None),
        ("postgres", "SELECT c.relname FROM pg_catalog.pg_class c "
                     "JOIN pg_catalog.pg_namespace n "
                     "ON n.oid = c.relnamespace WHERE c.relkind = 'r' "
                     "AND n.nspname = current_schema()", None),
        ("mysql", "SHOW COLUMNS FROM orders", sorted(columns["orders"])),
        ("postgres", "SELECT column_name FROM information_schema.columns "
                     "WHERE table_name = 'lineitem' "
                     "ORDER BY ordinal_position",
         sorted(columns["lineitem"])),
    ]


class OlapRead:
    name = "olap_read"

    def __init__(self, ctx):
        import pyarrow.parquet as pq

        self.ctx = ctx
        self.engine = ctx.engine("wh")
        self.columns = {t: pq.read_schema(ctx.data[t]).names for t in TABLES}
        self.rng = random.Random(ctx.seed)
        self.meta = _metadata(self.columns)
        self._expected: dict[str, tuple] = {}

    @staticmethod
    def tables(seed: int) -> dict:
        return {t: v for t, v in datagen.tpch_tables(seed).items()
                if t in TABLES}

    def load(self) -> None:
        """Bulk load through the engine's statements: CTAS from the
        parquet file, and CREATE + COPY FROM for ``lineitem``."""
        e = self.engine
        for t in TABLES:
            e.execute(f"DROP TABLE IF EXISTS {t}")
            path = self.ctx.data[t]
            if t == "lineitem":
                e.execute(f"CREATE TABLE {t} AS SELECT * FROM '{path}' "
                          "LIMIT 0")
                e.execute(f"COPY {t} FROM '{path}' (FORMAT parquet)",
                          dialect="postgres")
            else:
                e.execute(f"CREATE TABLE {t} AS SELECT * FROM '{path}'")

    def _rounds(self):
        """Seeded rounds: the 7 query classes in a shuffled order plus
        one metadata query. Each class alternates dialects from round
        to round, starting from a seeded one."""
        first = {k: self.rng.randrange(2) for k in QUERIES}
        dialects = ("mysql", "postgres")
        n = 0
        while True:
            kinds = list(QUERIES)
            self.rng.shuffle(kinds)
            ops = [self._query_op(k, _params(self.rng, k),
                                  dialects[(first[k] + n) % 2])
                   for k in kinds]
            ops.insert(self.rng.randrange(len(ops) + 1),
                       self._meta_op(self.meta[n % len(self.meta)]))
            yield ops
            n += 1

    def _query_op(self, kind, params, dialect):
        sql = render(kind, params, dialect)
        duck = render(kind, params, "duckdb")

        def fn():
            return ("q", duck, self.engine.sql(sql, dialect=dialect)
                    .toPandas())

        return f"{kind}.{dialect}", fn

    def _meta_op(self, spec):
        dialect, sql, expected = spec

        def fn():
            return ("m", expected,
                    self.engine.execute(sql, dialect=dialect).toPandas())

        return f"meta.{dialect}", fn

    def warmup(self) -> None:
        for _kind, fn in next(self._rounds()):
            fn()

    def run(self, seconds: float) -> None:
        run_closed(self.ctx, self._rounds(), seconds)

    def verify(self) -> None:
        from myduckserver_spark.oracle import _frame_rows, duckdb_conn

        con = duckdb_conn(self.ctx.work + "/data")
        try:
            for op in self.ctx.ops:
                if op.error is not None:
                    continue
                tag, spec, got = op.result
                if tag == "m":
                    want = spec if spec is not None else sorted(TABLES)
                    have = sorted(str(v) for v in got.iloc[:, 0])
                    if have != want:
                        self.ctx.mismatch(f"{op.kind}: {have} != {want}")
                    continue
                if spec not in self._expected:
                    odf = con.sql(spec).df()
                    self._expected[spec] = (sorted(odf.columns),
                                            _frame_rows(odf))
                cols, rows = self._expected[spec]
                if sorted(got.columns) != cols or _frame_rows(got) != rows:
                    self.ctx.mismatch(f"{op.kind}: result differs from "
                                      f"DuckDB for {spec.strip()[:60]}")
        finally:
            con.close()

    def e2e(self) -> dict:
        return closed_loop_metrics(self.ctx)

    def layer(self) -> dict:
        return {}

    def user_bytes(self) -> int:
        import pyarrow.parquet as pq

        return sum(pq.read_table(self.ctx.data[t]).nbytes for t in TABLES)


WORKLOAD = OlapRead
