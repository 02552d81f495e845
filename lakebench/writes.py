"""The `lakehouse_write` statement stream and its DuckDB replay.

`stream(seed)` runs one INSERT, MERGE, DELETE and UPDATE against one table
(written `{t}`), then an OPTIMIZE ... ZORDER BY and a VACUUM. The seed picks the rows each statement touches; the statement
kinds and their order are fixed, so streams of different seeds cost alike.
Each statement has a DuckDB form; a MERGE replays as a delete of the
matched keys followed by an insert of the source rows. `replay` runs the
DuckDB forms over the same input tables and returns the table's row count
and exact `sum(l_extendedprice)` after each statement: the answers the
engine's read after each commit must give.
"""
import random

COLUMNS = ("l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, "
           "l_discount, l_returnflag, l_shipdate")
SOURCE_SQL = f"SELECT {COLUMNS} FROM lineitem"
WARM_SQL = f"{SOURCE_SQL} WHERE l_orderkey % 10 = 0"
READ_SQL = ("SELECT count(*) AS n, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS s "
            "FROM {t}")
KINDS = ("insert", "merge", "delete", "update")


def _statement(rng, i, kind):
    """Spark and DuckDB forms of one statement; `i` makes new keys unique.
    Each touches the orders with one residue of `l_orderkey % 50` (2%)."""
    m = 50
    r = rng.randrange(m)
    where = f"l_orderkey % {m} = {r}"
    off = 1_000_000 * (i + 1)
    if kind == "insert":
        sql = (f"INSERT INTO {{t}} SELECT l_orderkey + {off} AS l_orderkey, "
               f"l_linenumber, l_partkey, l_quantity, l_extendedprice, l_discount, "
               f"l_returnflag, l_shipdate FROM lineitem WHERE {where}")
        return sql, [sql]
    if kind == "merge":
        # lines 1-3 of the chosen orders update in place (or re-insert if a
        # DELETE removed them); the other lines arrive under new keys
        src = (f"SELECT l_orderkey + CASE WHEN l_linenumber <= 3 THEN 0 ELSE {off} END "
               f"AS l_orderkey, l_linenumber, l_partkey, l_quantity + 1 AS l_quantity, "
               f"l_extendedprice + 1.5 AS l_extendedprice, l_discount, l_returnflag, "
               f"l_shipdate FROM lineitem WHERE {where}")
        sql = (f"MERGE INTO {{t}} AS a USING ({src}) AS b "
               "ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber "
               "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
        duck = [f"CREATE OR REPLACE TEMP TABLE merge_src AS {src}",
                "DELETE FROM {t} WHERE EXISTS (SELECT 1 FROM merge_src s WHERE "
                "s.l_orderkey = {t}.l_orderkey AND s.l_linenumber = {t}.l_linenumber)",
                "INSERT INTO {t} SELECT * FROM merge_src"]
        return sql, duck
    if kind == "delete":
        flag = rng.choice("ANR")
        sql = f"DELETE FROM {{t}} WHERE {where} AND l_returnflag = '{flag}'"
        return sql, [sql]
    sql = (f"UPDATE {{t}} SET l_extendedprice = l_extendedprice + 2.25, "
           f"l_discount = 0.05 WHERE {where}")
    return sql, [sql]


def stream(seed):
    """The seeded statements as a list of {kind, sql, duck}, with `{t}`
    standing for the table name: the four DML kinds, then the maintenance
    pair."""
    rng = random.Random(seed)
    out = []
    for i, kind in enumerate(KINDS):
        sql, duck = _statement(rng, i, kind)
        out.append({"kind": kind, "sql": sql, "duck": duck})
    out.append({"kind": "optimize", "sql": "OPTIMIZE {t} ZORDER BY (l_partkey, l_orderkey)",
                "duck": []})
    out.append({"kind": "vacuum", "sql": "VACUUM {t} RETAIN 2 VERSIONS", "duck": []})
    return out


def replay(con, stmts, source_sql):
    """The initial state of a table created by `source_sql` and its state
    after each statement, as "<rows>|<sum>" strings, from DuckDB over the
    `lineitem` view on `con`."""
    def state():
        n, s = con.execute(READ_SQL.replace("{t}", "t")).fetchone()
        return f"{n}|{s}"
    con.execute(f"CREATE OR REPLACE TABLE t AS {source_sql}")
    initial = state()
    after = []
    for st in stmts:
        for q in st["duck"]:
            con.execute(q.replace("{t}", "t"))
        after.append(state())
    return initial, after
