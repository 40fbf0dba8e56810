"""The benchmark's three workloads: seeded operation streams plus the
DuckDB texts each result is checked against.

An operation is one statement (``read``/``write``) or one pipeline run
(``pipeline``). Operations come in *units* — one pass over every olap
template, one block of ten oltp statements (seven reads, three writes),
one pass over the four dedup pipelines — and a run always executes whole
units, so every run sees the same mix. Unit 0 is the warm-up where the
workload has one.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field
from typing import Iterator


@dataclass
class Op:
    kind: str  # "read" | "write" | "pipeline"
    template: str
    text: str  # Impala SQL, or the pipeline name
    duck: str  # DuckDB SQL of the same operation
    unit: int = 0
    latency: float = 0.0
    cpu_s: float = 0.0
    error: str | None = None
    ok: bool | None = None
    result: tuple | None = field(default=None, repr=False)
    layers: dict = field(default_factory=dict, repr=False)
    traced: bool = False
    rows_changed: int = 0


def _day(rng: random.Random, lo: dt.date, hi: dt.date) -> dt.date:
    return lo + dt.timedelta(days=rng.randrange((hi - lo).days + 1))


def _ts(d: dt.date) -> str:
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


_DEC = "CAST({c} AS DECIMAL(18,4))"
_REVENUE = (
    "CAST(ROUND(SUM(" + _DEC.format(c="l_extendedprice")
    + " * (1 - " + _DEC.format(c="l_discount") + ")), 2) AS DOUBLE)"
)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


# ---------------------------------------------------------------------------
# olap_frontdoor: the relational headline shapes, plain Impala SQL
# ---------------------------------------------------------------------------

def _pricing_summary(rng):
    d = _day(rng, dt.date(1999, 1, 1), dt.date(2001, 6, 1))
    sql = f"""
    SELECT l_returnflag, l_linestatus,
      CAST(SUM({_DEC.format(c='l_quantity')}) AS DOUBLE) AS sum_qty,
      CAST(ROUND(SUM({_DEC.format(c='l_extendedprice')}), 2) AS DOUBLE) AS sum_base_price,
      CAST(ROUND(SUM({_DEC.format(c='l_extendedprice')} * (1 - {_DEC.format(c='l_discount')})), 2) AS DOUBLE) AS sum_disc_price,
      CAST(ROUND(SUM({_DEC.format(c='l_extendedprice')} * (1 - {_DEC.format(c='l_discount')}) * (1 + {_DEC.format(c='l_tax')})), 2) AS DOUBLE) AS sum_charge,
      ROUND(CAST(SUM({_DEC.format(c='l_quantity')}) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
      ROUND(CAST(SUM({_DEC.format(c='l_extendedprice')}) AS DOUBLE) / COUNT(*), 6) AS avg_price,
      ROUND(CAST(SUM({_DEC.format(c='l_discount')}) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
      CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= {_ts(d)}
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus"""
    return sql, sql


def _q3(rng):
    seg, d = rng.choice(SEGMENTS), _day(rng, dt.date(1996, 3, 1), dt.date(2000, 3, 31))
    body = f"""
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = '{seg}'
      AND o_orderdate < {_ts(d)}
      AND l_shipdate > {_ts(d)}
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10"""
    head = f"SELECT l_orderkey, {_REVENUE} AS revenue, {{date}} AS o_orderdate, o_orderpriority"
    return (head.format(date="CAST(o_orderdate AS STRING)") + body,
            head.format(date="strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')") + body)


def _q5(rng):
    region, year = rng.choice(REGIONS), rng.randrange(1995, 2001)
    sql = f"""
    SELECT n_name, {_REVENUE} AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = '{region}'
      AND o_orderdate >= {_ts(dt.date(year, 1, 1))}
      AND o_orderdate < {_ts(dt.date(year + 1, 1, 1))}
    GROUP BY n_name
    ORDER BY revenue DESC, n_name"""
    return sql, sql


def _q10(rng):
    year, q = rng.randrange(1995, 2001), rng.randrange(4)
    lo = dt.date(year, 3 * q + 1, 1)
    hi = dt.date(year + (q == 3), (3 * q + 3) % 12 + 1, 1)
    sql = f"""
    SELECT c_custkey, c_name, {_REVENUE} AS revenue,
           CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= {_ts(lo)} AND o_orderdate < {_ts(hi)}
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20"""
    return sql, sql


def _fact_fact(rng):
    status = rng.choice("FOP")
    sql = f"""
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM({_DEC.format(c='l_extendedprice')}) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = '{status}'
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""
    return sql, sql


def _three_way(rng):
    seg = rng.choice(SEGMENTS)
    sql = f"""
    SELECT r_name, n_name,
           CAST(SUM({_DEC.format(c='c_acctbal')}) AS DOUBLE) AS total_bal,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE c_mktsegment = '{seg}'
    GROUP BY r_name, n_name"""
    return sql, sql


def _count_distinct(rng):
    d = _day(rng, dt.date(1995, 1, 1), dt.date(2000, 12, 31))
    sql = f"""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders WHERE o_orderdate >= {_ts(d)}
    GROUP BY o_orderstatus"""
    return sql, sql


def _ranking(rng):
    seg, n = rng.choice(SEGMENTS), rng.randrange(3, 11)
    sql = f"""
    SELECT c_custkey, c_nationkey, rnk, drnk
    FROM (
      SELECT c_custkey, c_nationkey,
             CAST(RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk,
             CAST(DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS drnk
      FROM customer WHERE c_mktsegment = '{seg}'
    ) t
    WHERE rnk <= {n}"""
    return sql, sql


def _not_in(rng):
    bal = round(rng.uniform(9960.0, 9995.0), 2)
    sql = f"""
    SELECT n_name FROM nation
    WHERE n_nationkey NOT IN (SELECT c_nationkey FROM customer WHERE c_acctbal > {bal})"""
    return sql, sql


def _tumbling(rng):
    d = _day(rng, dt.date(2024, 1, 1), dt.date(2024, 1, 24))
    where = f"WHERE ts >= {_ts(d)} AND ts < {_ts(d + dt.timedelta(days=7))}"
    tail = f"""
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS total_value
    FROM events {where}
    GROUP BY 1, 2"""
    return ("SELECT CAST(unix_timestamp(ts) DIV 300 * 300 AS BIGINT) AS window_start," + tail,
            "SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS window_start,"
            + tail)


OLAP_TEMPLATES = {
    "pricing_summary": _pricing_summary,
    "tpch_q3": _q3,
    "tpch_q5": _q5,
    "tpch_q10": _q10,
    "join_fact_fact": _fact_fact,
    "join_three_way": _three_way,
    "multi_count_distinct": _count_distinct,
    "ranking_analytic": _ranking,
    "subquery_not_in": _not_in,
    "tumbling_window": _tumbling,
}


def olap_units(seed: int) -> Iterator[list[Op]]:
    rng = random.Random(f"olap:{seed}")
    unit = 0
    while True:
        ops = []
        for name, make in OLAP_TEMPLATES.items():
            text, duck = make(rng)
            ops.append(Op("read", name, text.strip(), duck.strip(), unit))
        yield ops
        unit += 1


# ---------------------------------------------------------------------------
# oltp_mixed: short reads and writes on two managed tables
# ---------------------------------------------------------------------------

#: ord_p holds the first N_ORDERS orders, cust_pk every customer
N_ORDERS, N_CUSTOMERS = 30_000, 15_000

#: set-up statements: (Impala text, DuckDB text)
OLTP_SETUP = [
    ("CREATE TABLE ord_p (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,"
     " o_totalprice DOUBLE, o_orderdate TIMESTAMP)"
     " PARTITIONED BY (o_orderpriority STRING) STORED AS PARQUET",
     "CREATE TABLE ord_p (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR,"
     " o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR)"),
    ("INSERT INTO ord_p PARTITION (o_orderpriority) SELECT o_orderkey, o_custkey,"
     " o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders"
     f" WHERE o_orderkey < {N_ORDERS}",
     "INSERT INTO ord_p SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,"
     f" o_orderdate, o_orderpriority FROM orders WHERE o_orderkey < {N_ORDERS}"),
    ("CREATE TABLE cust_pk (c_custkey BIGINT, c_name STRING, c_nationkey INT,"
     " c_acctbal DOUBLE, c_mktsegment STRING, PRIMARY KEY (c_custkey))",
     "CREATE TABLE cust_pk (c_custkey BIGINT PRIMARY KEY, c_name VARCHAR,"
     " c_nationkey INTEGER, c_acctbal DOUBLE, c_mktsegment VARCHAR)"),
    ("INSERT INTO cust_pk SELECT c_custkey, c_name, c_nationkey, c_acctbal,"
     " c_mktsegment FROM customer",
     "INSERT INTO cust_pk SELECT c_custkey, c_name, c_nationkey, c_acctbal,"
     " c_mktsegment FROM customer"),
]
OLTP_TABLES = {"ord_p": ["o_orderpriority"], "cust_pk": []}


class _Keys:
    """Skewed key draws: 40% from a small hot set, 20% from keys written
    in the last few operations (read-after-write), the rest uniform."""

    def __init__(self, rng: random.Random, n: int):
        self.rng, self.n = rng, n
        self.hot = [rng.randrange(n) for _ in range(16)]
        self.recent: list[int] = []

    def draw(self) -> int:
        r = self.rng.random()
        if r < 0.4:
            return self.rng.choice(self.hot)
        if r < 0.6 and self.recent:
            return self.rng.choice(self.recent)
        return self.rng.randrange(self.n)

    def wrote(self, k: int) -> None:
        self.recent = (self.recent + [k])[-8:]


def _oltp_read(t: int, rng, ok: _Keys, ck: _Keys) -> tuple[str, str]:
    if t == 0:
        return "cust_point", (
            "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"
            f" FROM cust_pk WHERE c_custkey = {ck.draw()}")
    if t == 1:
        return "ord_point", (
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,"
            f" o_orderpriority FROM ord_p WHERE o_orderkey = {ok.draw()}")
    if t == 2:
        return "ord_by_cust", (
            "SELECT o_orderkey, o_orderstatus, o_totalprice FROM ord_p"
            f" WHERE o_custkey = {ck.draw()} ORDER BY o_orderkey")
    if t == 3:
        k = ok.draw()
        return "ord_range_partition", (
            "SELECT CAST(COUNT(*) AS BIGINT) AS n,"
            " CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total"
            f" FROM ord_p WHERE o_orderpriority = '{rng.choice(PRIORITIES)}'"
            f" AND o_orderkey BETWEEN {k} AND {k + 999}")
    k = ck.draw()
    return "cust_orders_join", (
        "SELECT c.c_custkey, c.c_name, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders"
        " FROM cust_pk c LEFT JOIN ord_p o ON o.o_custkey = c.c_custkey"
        f" WHERE c.c_custkey BETWEEN {k} AND {k + 4} GROUP BY c.c_custkey, c.c_name")


def _oltp_write(t: int, nth: int, rng, ok: _Keys, ck: _Keys,
                seq: int) -> tuple[str, str, str]:
    on_orders = nth % 2 == 0  # the nth UPDATE / DELETE: alternate the tables
    if t == 0:
        k = ok.draw() % (N_ORDERS - 20)
        off = (seq + 1) * 1_000_000
        sel = (f"SELECT o_orderkey + {off}, o_custkey, 'N', o_totalprice, o_orderdate,"
               f" o_orderpriority FROM orders WHERE o_orderkey BETWEEN {k} AND {k + 19}")
        ok.wrote(k + off)
        return ("insert_select", f"INSERT INTO ord_p PARTITION (o_orderpriority) {sel}",
                f"INSERT INTO ord_p {sel}")
    if t == 1:
        delta = rng.randrange(1, 400) / 4
        if on_orders:
            k = ok.draw()
            ok.wrote(k)
            sql = (f"UPDATE ord_p SET o_orderstatus = 'U', o_totalprice = o_totalprice"
                   f" + {delta} WHERE o_orderkey = {k}")
        else:
            k = ck.draw()
            ck.wrote(k)
            sql = f"UPDATE cust_pk SET c_acctbal = c_acctbal + {delta} WHERE c_custkey = {k}"
        return "update", sql, sql
    if t == 2:
        if on_orders:
            sql = f"DELETE FROM ord_p WHERE o_orderkey = {ok.draw()}"
        else:
            sql = f"DELETE FROM cust_pk WHERE c_custkey = {ck.draw()}"
        return "delete", sql, sql
    # a quarter of upserts insert a new key, the rest replace an existing one
    k = N_CUSTOMERS + rng.randrange(1000) if rng.random() < 0.25 else ck.draw()
    ck.wrote(k)
    vals = (f"({k}, 'Customer#{k:09d}', {rng.randrange(25)},"
            f" {rng.randrange(-99999, 999999) / 100}, '{rng.choice(SEGMENTS)}')")
    return ("upsert", f"UPSERT INTO cust_pk VALUES {vals}",
            f"INSERT OR REPLACE INTO cust_pk VALUES {vals}")


def oltp_units(seed: int) -> Iterator[list[Op]]:
    """Blocks of seven reads and three writes (the warm-up block runs
    each template once instead). Which templates a block holds cycles
    with the block number, the same for every seed; the seed draws their
    order, keys and values."""
    rng = random.Random(f"oltp:{seed}")
    ok, ck = _Keys(rng, N_ORDERS), _Keys(rng, N_CUSTOMERS)
    unit, seq = 0, 0
    nth = [0] * 4  # writes of each kind so far
    while True:
        if unit == 0:  # warm-up: every template once
            slots = [("read", t) for t in range(5)] + [("write", t) for t in range(4)]
        else:
            slots = [("read", (7 * unit + i) % 5) for i in range(7)]
            slots += [("write", (3 * unit + i) % 4) for i in range(3)]
        rng.shuffle(slots)
        ops = []
        for kind, t in slots:
            if kind == "read":
                name, sql = _oltp_read(t, rng, ok, ck)
                ops.append(Op("read", name, sql, sql, unit))
            else:
                name, sql, duck = _oltp_write(t, nth[t], rng, ok, ck, seq)
                nth[t] += 1
                ops.append(Op("write", name, sql, duck, unit))
            seq += 1
        yield ops
        unit += 1


# ---------------------------------------------------------------------------
# llm_dedup: the dedup pipelines, each checked by its registry oracle
# ---------------------------------------------------------------------------

#: pipeline name -> (registry function name, registry oracle name)
PIPELINES = {
    "minhash_dedup_clusters": ("q_dedup_clusters", "llm_dedup_clusters"),
    "embedding_near_dup": ("q_embedding_near_dup", "llm_embedding_near_dup"),
    "incremental_dedup": ("q_incremental_dedup", "llm_incremental_dedup"),
    "curation_funnel": ("q_curation_pipeline", "llm_curation_pipeline"),
}


def llm_units(seed: int) -> Iterator[list[Op]]:
    from impala_spark.queries import ORACLE_SQL

    unit = 0
    while True:
        yield [Op("pipeline", name, name, ORACLE_SQL[oracle], unit)
               for name, (_fn, oracle) in PIPELINES.items()]
        unit += 1


#: workload name -> (input table groups, unit stream, warm-up unit?).
#: llm_dedup has no warm-up: a curation pipeline is a batch job that
#: pays JIT and code generation in every fresh session, as measured here.
WORKLOADS = {
    "olap_frontdoor": (["tpch", "events"], olap_units, True),
    "oltp_mixed": (["tpch"], oltp_units, True),
    "llm_dedup": (["corpus"], llm_units, False),
}
