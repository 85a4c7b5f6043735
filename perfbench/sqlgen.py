"""Seeded SQL text for the ``adhoc_sql`` workload.

The stream is a sequence of rounds. Each round holds the seven
TPC-H-shaped queries and the nine short reference-grammar templates
once, plus the six cheapest templates twice more, shuffled: 21 of 28
queries are short, and every round has the same mix. Literals are drawn afresh for
every query, so each text is parsed and planned anew.

Every query is written so that Spark (through ``run_sql``) and DuckDB
run the same text and return bit-identical rows: money is summed as
integer cents, averages are integer sums divided by counts, and dates
come out as DATE.
"""

from __future__ import annotations

import numpy as np

from perfbench.gen import KEY_RANGE, REGIONS, SEGMENTS, VALUE_RANGE, date_literal



def _cents(x: str) -> str:
    return f"CAST(ROUND({x}*100) AS BIGINT)"


_REV = f"SUM({_cents('l_extendedprice')} * (100 - {_cents('l_discount')}))"


def _v(rng: np.random.Generator, lo: int = -VALUE_RANGE, hi: int = VALUE_RANGE) -> int:
    return int(rng.integers(lo, hi))


def _k(rng: np.random.Generator) -> int:
    return int(rng.integers(0, KEY_RANGE))


# ----------------------------------------------------- reference grammar
# Each returns (sql, bind args or None).


def _projection(rng):
    return f"SELECT A, C FROM table1 WHERE B == {_k(rng)};", None


def _star(rng):
    return f"SELECT * FROM table4 WHERE D > {_v(rng, 10_000)};", None


def _and_or(rng):
    return (
        f"SELECT A, B FROM table1 WHERE (A > {_v(rng)} AND C < {_v(rng)}) OR B == {_k(rng)};",
        None,
    )


def _negative(rng):
    return f"SELECT A, C FROM table3 WHERE A < -{_v(rng, 0)} AND B >= {_k(rng)};", None


def _glob(rng):
    d = int(rng.integers(1, 10))
    return f"SELECT A, B FROM table1 WHERE CAST(A AS STRING) GLOB '{d}*{int(rng.integers(0, 10))}';", None


def _distinct(rng):
    return f"SELECT DISTINCT B FROM table2 WHERE D > {_v(rng)};", None


def _aggregates(rng):
    return (
        f"SELECT max(A), min(C), sum(B), avg(A) FROM table1 WHERE C > {_v(rng, -VALUE_RANGE, 0)};",
        None,
    )


def _join(rng):
    return (
        "SELECT table1.A, table2.D FROM table1, table2 "
        f"WHERE table1.B = table2.B AND table1.A > {_v(rng, 10_000)};",
        None,
    )


def _bind(rng):
    return "SELECT A, B FROM table3 WHERE B == ? AND A > ?;", [_k(rng), _v(rng)]


SHORT = (_projection, _star, _and_or, _negative, _glob, _distinct, _aggregates, _join, _bind)
# The six cheapest templates run twice more per round, so 21 of 28
# queries are short and the median query falls in the middle of their
# cluster rather than on the edge between the cheap templates and
# DISTINCT / aggregate / join.
SHORT_EXTRA = (_projection, _star, _and_or, _negative, _glob, _bind) * 2


# ------------------------------------------------------- TPC-H shapes
# Order dates span 1992-01-01 plus seven years; ship dates follow their
# order by 1 to 121 days.


def _day(rng, lo: int, hi: int) -> int:
    return int(rng.integers(lo, hi))


def _q1(rng):
    d = date_literal(_day(rng, 365 * 5, 365 * 7))
    return f"""
SELECT l_returnflag, l_linestatus,
       SUM({_cents('l_quantity')}) AS sum_qty_c,
       SUM({_cents('l_extendedprice')}) AS sum_price_c,
       {_REV} AS sum_disc_price_c,
       CAST(SUM({_cents('l_quantity')}) AS DOUBLE) / COUNT(*) AS avg_qty_c,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{d}'
GROUP BY l_returnflag, l_linestatus""", None


def _q3(rng):
    d = date_literal(_day(rng, 365, 365 * 6))
    seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
    return f"""
SELECT o_orderkey, {_REV} AS revenue_c, CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '{d}' AND l_shipdate > TIMESTAMP '{d}'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_c DESC, o_orderkey
LIMIT 10""", None


def _q4(rng):
    start = _day(rng, 0, 365 * 6)
    return f"""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{date_literal(start)}'
  AND o_orderdate < TIMESTAMP '{date_literal(start + 90)}'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL '{int(rng.integers(30, 100))}' DAY)
GROUP BY o_orderpriority""", None


def _q5(rng):
    start = _day(rng, 0, 365 * 5)
    region = REGIONS[int(rng.integers(0, len(REGIONS)))]
    return f"""
SELECT n_name, {_REV} AS revenue_c
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = '{region}'
  AND o_orderdate >= TIMESTAMP '{date_literal(start)}'
  AND o_orderdate < TIMESTAMP '{date_literal(start + 365)}'
GROUP BY n_name""", None


def _q6(rng):
    start = _day(rng, 0, 365 * 6)
    disc = int(rng.integers(2, 9))
    return f"""
SELECT SUM({_cents('l_extendedprice')} * {_cents('l_discount')}) AS revenue_c
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '{date_literal(start)}'
  AND l_shipdate < TIMESTAMP '{date_literal(start + 365)}'
  AND l_discount BETWEEN 0.0{disc - 1} AND 0.0{disc + 1}
  AND l_quantity < {int(rng.integers(20, 30))}""", None


def _q18(rng):
    return f"""
SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
       {_cents('o_totalprice')} AS totalprice_c, SUM({_cents('l_quantity')}) AS qty_c
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
                     HAVING SUM(l_quantity) > {int(rng.integers(250, 300))})
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY totalprice_c DESC, o_orderkey
LIMIT 100""", None


def _q21(rng):
    return f"""
SELECT s_name, COUNT(*) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL '{int(rng.integers(60, 110))}' DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
  AND s_nationkey = n_nationkey AND n_name = 'NATION_{int(rng.integers(0, 25))}'
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100""", None


HEAVY = (_q1, _q3, _q4, _q5, _q6, _q18, _q21)


def rounds(seed: int):
    """Endless generator of rounds; a round is a list of
    (shape name, sql, args) in seeded order."""
    rng = np.random.default_rng((seed, 30))
    while True:
        picks = list(HEAVY) + list(SHORT) + list(SHORT_EXTRA)
        out = []
        for i in rng.permutation(len(picks)):
            fn = picks[int(i)]
            sql, args = fn(rng)
            out.append((fn.__name__.lstrip("_"), sql, args))
        yield out
