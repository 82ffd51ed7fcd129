"""Reference results for the output checks, computed by DuckDB from the
generated inputs alone. The timed path never produces a reference."""
import datetime as dt
import decimal
import math
import re

import duckdb

import gen

DIGEST = ("count(*), coalesce(sum(l_orderkey), 0), coalesce(sum(l_linenumber), 0), "
          "coalesce(sum(CAST(l_quantity AS BIGINT)), 0), "
          "coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)), 0), "
          "coalesce(sum(CAST(round(l_discount * 100) AS BIGINT)), 0)")
KEY = "(l_orderkey, l_linenumber)"


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def dml_expected(data_dir, plan):
    """Replay the op list on a DuckDB table; return, per op, the output
    the program must produce (None entries are not checked)."""
    con = _con()
    pq = lambda f: f"read_parquet('{data_dir}/{f}')"
    cohorts = " OR ".join(f"(l_shipdate >= {lo} AND l_shipdate < {hi})"
                          for lo, hi in plan["cohorts"])
    con.execute(f"CREATE TABLE t AS SELECT * FROM {pq('lineitem.parquet')} WHERE {cohorts}")
    snap = {}

    def keep(k):
        con.execute(f"CREATE OR REPLACE TABLE v{k + 1} AS SELECT * FROM t")
        snap[k] = f"v{k + 1}"

    def one(sql):
        return con.execute(sql).fetchone()[0]

    def digest(rel):
        return [int(x) for x in con.execute(f"SELECT {DIGEST} FROM {rel}").fetchone()]

    keep(-1)
    out = []
    for i, o in enumerate(plan["ops"]):
        k, pred = o["op"], o.get("pred")
        src = pq("src/" + o["file"]) if "file" in o else None
        exp = []
        if k == "append":
            con.execute(f"INSERT INTO t SELECT * FROM {src}")
        elif k in ("merge_into", "merge_into_mor"):
            exp = [one(f"SELECT count(*) FROM t WHERE {KEY} IN (SELECT {KEY} FROM {src})"),
                   one(f"SELECT count(*) FROM {src}"), None]
            con.execute(f"DELETE FROM t WHERE {KEY} IN (SELECT {KEY} FROM {src})")
            con.execute(f"INSERT INTO t SELECT * FROM {src}")
        elif k == "merge_apply":
            matched = one(f"SELECT count(*) FROM t WHERE {KEY} IN (SELECT {KEY} FROM {src})")
            exp = [matched, one(f"SELECT count(*) FROM {src}") - matched, None]
            con.execute(f"CREATE OR REPLACE TEMP TABLE s AS SELECT * FROM {src}")
            con.execute("UPDATE t SET l_quantity = s.l_quantity, "
                        "l_extendedprice = s.l_extendedprice FROM s "
                        "WHERE t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber")
            con.execute(f"INSERT INTO t SELECT * FROM s WHERE {KEY} NOT IN (SELECT {KEY} FROM t)")
        elif k in ("delete_where", "delete_where_mor"):
            exp = [one(f"SELECT count(*) FROM t WHERE {pred}")]
            con.execute(f"DELETE FROM t WHERE {pred}")
        elif k == "update_where":
            exp = [one(f"SELECT count(*) FROM t WHERE {pred}")]
            sets = ", ".join(f"{c} = {e}" for c, e in o["sets"])
            con.execute(f"UPDATE t SET {sets} WHERE {pred}")
        elif k == "replace_where":
            exp = [one(f"SELECT count(*) FROM t WHERE {pred}"), one(f"SELECT count(*) FROM {src}")]
            con.execute(f"DELETE FROM t WHERE {pred}")
            con.execute(f"INSERT INTO t SELECT * FROM {src}")
        elif k == "restore":
            con.execute(f"DELETE FROM t")
            con.execute(f"INSERT INTO t SELECT * FROM {snap[o['version']]}")
        elif k.startswith("read_where"):
            exp = digest(f"(SELECT * FROM t WHERE {pred})")
        elif k == "read_version":
            exp = digest(snap[o["version"]])
        elif k == "changes_between":
            a, b = digest(snap[o["from"]]), digest(snap[o["to"]])
            exp = [y - x for x, y in zip(a, b)]
        if o["write"]:
            keep(i)
        out.append(exp)
    con.close()
    return out


def matches(expected, got):
    """Element-wise equality; None in `expected` matches anything."""
    if len(expected) != len(got):
        return False
    return all(e is None or _same(e, g) for e, g in zip(expected, got))


def _same(e, g):
    if isinstance(e, float) or isinstance(g, float):
        return g is not None and abs(float(e) - float(g)) <= 1e-9 * max(1.0, abs(float(e)))
    return e == g


def pipeline_expected(data_dir, plan):
    """The catalog reads' results from DuckDB views that evaluate every
    model straight from the source parquet."""
    con = _con()
    for t in ("orders", "customer", "events"):
        con.execute(f"CREATE VIEW src_{t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    con.execute("CREATE VIEW src_events_hourly AS SELECT date_trunc('hour', ts) AS hour, "
                "event_type, count(*) AS n, sum(CAST(round(value * 100) AS BIGINT)) AS total_cents "
                "FROM src_events GROUP BY ALL")
    full = [gen._day(0), gen._day(gen.PIPE_DAYS)]
    bodies = {m[0]: (m[1], m[3]) for m in plan["models"]}

    def render(name, window):
        sql = bodies[name][1]
        sql = sql.replace("{{ var('start') }}", window[0]).replace("{{ var('end') }}", window[1])
        sql = re.sub(r"\{\{ source\('[a-z]+', '([a-z_]+)'\) \}\}", r"src_\1", sql)
        return re.sub(r"\{\{ ref\('([a-z_0-9]+)'\) \}\}", r"m_\1", sql)

    made = set()

    def create(name):  # parents first
        if name in made:
            return
        made.add(name)
        for parent in re.findall(r"ref\('([a-z_0-9]+)'\)", bodies[name][1]):
            create(parent)
        con.execute(f"CREATE VIEW m_{name} AS {render(name, full)}")
        if bodies[name][0] == "incremental":
            con.execute(f"CREATE VIEW v1_{name} AS {render(name, plan['build_day'])}")

    for name in bodies:
        create(name)
    d0, d1 = plan["build_day"][0], (dt.date.fromisoformat(plan["build_day"][0]) +
                                    dt.timedelta(days=1)).isoformat()
    con.execute(f"""CREATE VIEW m_customer_scd2 AS
        WITH s AS (SELECT c_custkey, c_acctbal, c_mktsegment, DATE '{d0}' AS snap_ts FROM src_customer
                   UNION ALL SELECT c_custkey, c_acctbal, c_mktsegment, DATE '{d1}'
                   FROM read_parquet('{data_dir}/{plan['scd2_changes']}')),
        f AS (SELECT *, lag(c_acctbal) OVER w AS pa, lag(c_mktsegment) OVER w AS pm,
                     lag(snap_ts) OVER w AS pt FROM s WINDOW w AS (PARTITION BY c_custkey ORDER BY snap_ts)),
        k AS (SELECT * FROM f WHERE pt IS NULL OR pa IS DISTINCT FROM c_acctbal
                                    OR pm IS DISTINCT FROM c_mktsegment)
        SELECT *, lead(snap_ts) OVER (PARTITION BY c_custkey ORDER BY snap_ts) IS NULL AS is_current
        FROM k""")
    out = []
    for r in plan["reads"]:
        sql = re.sub(r"\{cat\}\.mart\.([a-z_0-9]+) FOR SYSTEM_VERSION AS OF 1", r"v1_\1", r["sql"])
        sql = sql.replace("{cat}.raw.events_hourly", "src_events_hourly")
        sql = re.sub(r"\{cat\}\.mart\.([a-z_0-9]+)", r"m_\1", sql)
        out.append([_plain(x) for x in con.execute(sql).fetchone()])
    con.close()
    return out


def _plain(x):
    return float(x) if isinstance(x, decimal.Decimal) else x


# Canonical form of a result frame, as the repository's oracle gate
# (scripts/local_verify.py) compares them: columns by name, rows sorted,
# floats to 6 significant digits, and column types with every integer
# type that fits in 64 bits as one class.
INT64_CLASS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT", "USMALLINT", "UINTEGER"}


def _canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{(0.0 if v == 0 else v):.6g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _frame(con, sql):
    types = {r[0]: ("INT<=64" if r[1] in INT64_CLASS else r[1])
             for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_canon(r[i]) for i in idx) for r in cur.fetchall())
    return [cols[i] for i in idx], types, rows


def analytic_expected(data_dir, plan, info):
    """Per op: [] when the query's parquet output equals its oracle SQL's
    result in DuckDB, else a one-element list naming the difference (which
    no op output matches)."""
    con = _con()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    verdict = {}
    for name, sql in info["oracle"].items():
        if name in info["result_failures"]:
            verdict[name] = ["query failed: " + info["result_failures"][name]]
            continue
        try:
            want = _frame(con, sql)
            got = _frame(con, f"SELECT * FROM read_parquet('{info['results_dir']}/{name}/*.parquet')")
        except duckdb.Error as e:
            verdict[name] = [f"oracle error: {e}"]
            continue
        if want[0] != got[0]:
            verdict[name] = [f"columns {got[0]} != {want[0]}"]
        elif want[1] != got[1]:
            verdict[name] = [f"types {got[1]} != {want[1]}"]
        elif want[2] != got[2]:
            verdict[name] = [f"rows differ ({len(got[2])} vs {len(want[2])})"]
        else:
            verdict[name] = []
    con.close()
    return [verdict[o["op"]] for o in plan["ops"]]
