"""Inputs and reference check for the `sql_mix` workload.

The tables are TPC-H-shaped and made by DuckDB from the seed alone. The
statements are Flink SQL (window TVFs, ROW_NUMBER Top-N, a join with an
aggregate and a Q1-style scan), each paired with a DuckDB statement that
computes the same answer without the engine. Literals come from small
domains, so some statement texts repeat within a run.
"""
import json
import math
import random

import duckdb

# The engine's and DuckDB's floating-point sums differ in summation order
# only, so sums go through DECIMAL and the check allows for 1-ulp casts.
REL_TOL = 1e-9

DSUM = "CAST(SUM(CAST({c} AS DECIMAL(25,6))) AS DOUBLE)"

REPEATS = 3  # consecutive uses of each statement text within its template

# Column values are drawn from hash(row, column, seed), so one seed always
# gives the same tables.
TABLES = {
    "customer": """
        SELECT i + 1 AS c_custkey,
               'Customer#' || lpad(CAST(i + 1 AS VARCHAR), 9, '0') AS c_name,
               CAST(hash(i, 1, {seed}) % 25 AS INTEGER) AS c_nationkey,
               CAST(hash(i, 2, {seed}) % 1100000 AS BIGINT) / 100.0 - 999.99
                 AS c_acctbal,
               ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                'MACHINERY'][CAST(hash(i, 3, {seed}) % 5 AS BIGINT) + 1] AS c_mktsegment
        FROM range(15000) t(i)""",
    "orders": """
        SELECT i + 1 AS o_orderkey,
               CAST(hash(i, 1, {seed}) % 15000 + 1 AS BIGINT) AS o_custkey,
               ['F', 'O', 'P'][CAST(hash(i, 2, {seed}) % 3 AS BIGINT) + 1] AS o_orderstatus,
               CAST(hash(i, 3, {seed}) % 50000000 + 90000 AS BIGINT) / 100.0
                 AS o_totalprice,
               TIMESTAMP '1992-01-01' + to_days(CAST(hash(i, 4, {seed}) % 2400 AS INTEGER))
                 AS o_orderdate,
               ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                '5-LOW'][CAST(hash(i, 5, {seed}) % 5 AS BIGINT) + 1] AS o_orderpriority
        FROM range(150000) t(i)""",
    "lineitem": """
        SELECT i // 4 + 1 AS l_orderkey,
               CAST(hash(i, 1, {seed}) % 20000 + 1 AS BIGINT) AS l_partkey,
               CAST(hash(i, 2, {seed}) % 1000 + 1 AS BIGINT) AS l_suppkey,
               CAST(i % 4 + 1 AS INTEGER) AS l_linenumber,
               CAST(hash(i, 3, {seed}) % 50 + 1 AS DOUBLE) AS l_quantity,
               CAST(hash(i, 4, {seed}) % 10000000 + 90000 AS BIGINT) / 100.0
                 AS l_extendedprice,
               CAST(hash(i, 5, {seed}) % 11 AS BIGINT) / 100.0 AS l_discount,
               CAST(hash(i, 6, {seed}) % 9 AS BIGINT) / 100.0 AS l_tax,
               ['R', 'A', 'N'][CAST(hash(i, 7, {seed}) % 3 AS BIGINT) + 1] AS l_returnflag,
               ['O', 'F'][CAST(hash(i, 8, {seed}) % 2 AS BIGINT) + 1] AS l_linestatus,
               TIMESTAMP '1992-01-02' + to_days(CAST(hash(i, 9, {seed}) % 2500 AS INTEGER))
                 AS l_shipdate
        FROM range(600000) t(i)""",
    "events": """
        SELECT i + 1 AS event_id,
               TIMESTAMP '2024-01-01' + to_microseconds(
                 CAST(hash(i, 1, {seed}) % 86400000000 AS BIGINT)) AS ts,
               CAST(hash(i, 2, {seed}) % 1000 AS BIGINT) AS user_id,
               ['click', 'view', 'cart', 'buy', 'share'][CAST(hash(i, 3, {seed}) % 5 AS BIGINT) + 1]
                 AS event_type,
               CAST(hash(i, 4, {seed}) % 100000 AS BIGINT) / 100.0 AS value
        FROM range(100000) t(i)""",
}


def _us(col, minutes):
    """DuckDB: the start of the `minutes`-long window holding `col`, in
    epoch microseconds (the engine's window bounds are epoch aligned)."""
    w = minutes * 60_000_000
    return f"(epoch_us({col}) - epoch_us({col}) % {w})"


def _tumble(m, r):
    flink = (
        "SELECT window_start, window_end, event_type, COUNT(*) AS n, "
        f"{DSUM.format(c='value')} AS sum_value "
        f"FROM TABLE(TUMBLE(TABLE events, DESCRIPTOR(ts), INTERVAL '{m}' MINUTE)) "
        f"WHERE user_id % 3 = {r} "
        "GROUP BY window_start, window_end, event_type")
    s = _us("ts", m)
    duck = (
        f"SELECT {s} AS ws, {s} + {m * 60_000_000} AS we, event_type, COUNT(*), "
        f"{DSUM.format(c='value')} FROM events WHERE user_id % 3 = {r} "
        "GROUP BY 1, 2, 3")
    return flink, duck


def _hop(slide, r):
    size = 2 * slide
    flink = (
        "SELECT window_start, window_end, COUNT(*) AS n, "
        f"{DSUM.format(c='value')} AS sum_value "
        f"FROM TABLE(HOP(TABLE events, DESCRIPTOR(ts), INTERVAL '{slide}' MINUTE, "
        f"INTERVAL '{size}' MINUTE)) WHERE user_id % 3 <> {r} "
        "GROUP BY window_start, window_end")
    step = slide * 60_000_000
    duck = (
        f"SELECT {_us('ts', slide)} - g * {step} AS ws, "
        f"{_us('ts', slide)} - g * {step} + {size * 60_000_000} AS we, COUNT(*), "
        f"{DSUM.format(c='value')} FROM events "
        f"CROSS JOIN generate_series(0, 1) s(g) WHERE user_id % 3 <> {r} "
        "GROUP BY 1, 2")
    return flink, duck


def _cumulate(step, r):
    size = 4 * step
    flink = (
        "SELECT window_start, window_end, COUNT(*) AS n, "
        f"{DSUM.format(c='value')} AS sum_value "
        f"FROM TABLE(CUMULATE(TABLE events, DESCRIPTOR(ts), INTERVAL '{step}' MINUTE, "
        f"INTERVAL '{size}' MINUTE)) WHERE user_id % 3 <> {r} "
        "GROUP BY window_start, window_end")
    st, sz = step * 60_000_000, size * 60_000_000
    duck = (
        "WITH x AS (SELECT value, epoch_us(ts) AS t, "
        f"epoch_us(ts) - epoch_us(ts) % {sz} AS s FROM events "
        f"WHERE user_id % 3 <> {r}) "
        "SELECT s, e, COUNT(*), "
        f"{DSUM.format(c='value')} FROM (SELECT s, value, "
        f"unnest(generate_series(t - t % {st} + {st}, s + {sz}, {st})) AS e FROM x) "
        "GROUP BY 1, 2")
    return flink, duck


def _topn(status, n):
    text = (
        "SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM ("
        "SELECT o_orderpriority, o_orderkey, o_totalprice, ROW_NUMBER() OVER ("
        "PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn "
        f"FROM orders WHERE o_orderstatus = '{status}') WHERE rn <= {n}")
    return text, text


def _join_agg(year, month, r):
    text = (
        "SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n, "
        f"{DSUM.format(c='o_totalprice')} AS revenue "
        "FROM orders JOIN customer ON o_custkey = c_custkey "
        f"WHERE o_orderdate >= TIMESTAMP '{year}-{month}-01 00:00:00' "
        f"AND o_orderdate < TIMESTAMP '{year + 1}-{month}-01 00:00:00' "
        f"AND c_nationkey % 3 = {r} "
        "GROUP BY c_mktsegment, o_orderpriority")
    return text, text


def _q1(day):
    text = (
        "SELECT l_returnflag, l_linestatus, "
        f"{DSUM.format(c='l_quantity')} AS sum_qty, "
        f"{DSUM.format(c='l_extendedprice')} AS sum_base_price, "
        "COUNT(*) AS count_order "
        f"FROM lineitem WHERE l_shipdate <= TIMESTAMP '{day} 00:00:00' "
        "GROUP BY l_returnflag, l_linestatus")
    return text, text


# (name, statement maker, literal tuples). Statements go through the
# templates in this order, one statement per template per turn. Within a
# template each literal tuple, taken in a seeded order, is used for REPEATS
# consecutive turns: the first compiles the text, the others may be
# answered by FlinkSql's statement cache. A cycle of CYCLE statements thus
# holds every template REPEATS times, once with a new text and REPEATS - 1
# times with a repeated one, and the engine times only whole cycles, so
# every run has the same mix. The literals change the text, not the work:
# filters keep a fixed share of rows (a residue of a key mod 3, a one-year
# date range) and window sizes keep a fixed ratio to their slide or step,
# so the seed changes the data and the texts but not how much each
# statement does. Each template has 18 tuples, so texts only start to come
# back after 18 * CYCLE statements, more than a run issues.
TEMPLATES = [
    ("tumble", _tumble, [(m, r) for r in range(3) for m in (5, 10, 15, 20, 30, 60)]),
    ("hop", _hop, [(s, r) for r in range(3) for s in (5, 10, 15, 20, 30, 60)]),
    ("cumulate", _cumulate, [(s, r) for r in range(3) for s in (5, 10, 15, 20, 30, 60)]),
    ("topn", _topn, [(st, n) for st in ("F", "O", "P") for n in (3, 5, 10, 15, 20, 25)]),
    ("join_agg", _join_agg, [(y, m, r) for r in range(3) for y in (1993, 1994, 1995)
                             for m in ("01", "07")]),
    ("q1", _q1, [(f"{y}-{m:02d}-01",) for y in (1997, 1998) for m in range(1, 10)]),
]
CYCLE = len(TEMPLATES) * REPEATS


def statements(seed, count):
    """`count` statements as (id, flink_sql, duckdb_sql), seeded."""
    rng = random.Random(seed)
    order = {name: rng.sample(lits, len(lits)) for name, _, lits in TEMPLATES}
    out = []
    for i in range(count):
        name, make, literals = TEMPLATES[i % len(TEMPLATES)]
        turn = i // len(TEMPLATES)
        args = order[name][(turn // REPEATS) % len(literals)]
        flink, duck = make(*args)
        out.append((name + ":" + ",".join(map(str, args)), flink, duck))
    return out


def make_inputs(seed, work, count):
    """Writes the tables and the statement list; returns engine arguments."""
    data = work / "data"
    data.mkdir(parents=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{work / 'duckdb_tmp'}'")
    for name, sql in TABLES.items():
        con.execute(f"COPY ({sql.format(seed=seed)}) TO '{data / name}.parquet' "
                    "(FORMAT PARQUET)")
    con.close()
    path = work / "statements.tsv"
    path.write_text("".join(f"{i}\t{f}\n" for i, f, _ in statements(seed, count)))
    return ["--data", str(data), "--statements", str(path)]


def _key(row):
    return tuple((2, 0) if v is None else (1, v) if isinstance(v, str)
                 else (0, float(v)) for v in row)


def _same(a, b):
    if a is None or b is None or isinstance(a, str) or isinstance(b, str):
        return a == b
    return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-12)


def check(seed, count, work, rows_file):
    """Compares each collected statement result with DuckDB's answer over
    the same parquet files. Returns the ids whose results differ."""
    duck_sql = {i: d for i, _, d in statements(seed, count)}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{work / 'duckdb_tmp'}'")
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{work / 'data' / name}.parquet')")
    bad = []
    for line in rows_file.read_text().splitlines():
        got = json.loads(line)
        want = sorted(con.execute(duck_sql[got["id"]]).fetchall(), key=_key)
        have = sorted((tuple(r) for r in got["rows"]), key=_key)
        if len(want) != len(have) or not all(
                len(w) == len(h) and all(_same(x, y) for x, y in zip(w, h))
                for w, h in zip(want, have)):
            bad.append(got["id"])
    con.close()
    return bad
