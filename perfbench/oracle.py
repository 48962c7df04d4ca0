"""DuckDB checks of the benchmark's answers, run outside the timed
window on the same generated parquet the engine loaded."""
import math
import os

import duckdb

REL_TOL = 1e-9
ABS_TOL = 1e-6


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
    return con


def _frames_equal(got_con, got_sql, exp_sql):
    got = got_con.execute(got_sql).fetchdf()
    exp = got_con.execute(exp_sql).fetchdf()
    if sorted(got.columns) != sorted(exp.columns):
        return "columns %s, expected %s" % (sorted(got.columns),
                                            sorted(exp.columns))
    cols = sorted(exp.columns)
    got, exp = got[cols], exp[cols]
    if len(got) != len(exp):
        return "row count %d, expected %d" % (len(got), len(exp))
    for c in cols:
        for i, (g, e) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if isinstance(g, float) and isinstance(e, float):
                if not (math.isclose(g, e, rel_tol=REL_TOL, abs_tol=ABS_TOL)
                        or (g != g and e != e)):
                    return "%s[%d]: %r, expected %r" % (c, i, g, e)
            elif not (g is None and e is None) and str(g) != str(e):
                return "%s[%d]: %r, expected %r" % (c, i, g, e)
    return None


def check_entries(con, entries):
    """{entry: error or None}: each pipeline entry's parquet answer
    against its oracle SQL (columns matched by name, rows in order)."""
    out = {}
    for e in entries:
        if e.get("err"):
            out[e["name"]] = "entry failed: %s" % e["err"]
            continue
        files = [os.path.join(e["path"], f)
                 for f in sorted(os.listdir(e["path"]))
                 if f.endswith(".parquet")]
        got_sql = "SELECT * FROM read_parquet(%r)" % files
        if not e.get("oracle"):
            n = con.execute("SELECT count(*) FROM (%s)" % got_sql).fetchone()
            out[e["name"]] = None if n[0] > 0 else "empty answer"
            continue
        try:
            out[e["name"]] = _frames_equal(con, got_sql, e["oracle"])
        except Exception as ex:
            out[e["name"]] = "oracle error: %s" % ex
    return out


DML_INIT = {
    "ord": "SELECT CAST(o_orderkey AS INTEGER) AS o_orderkey, "
           "CAST(o_custkey AS INTEGER) AS o_custkey, o_orderstatus, "
           "o_totalprice, o_orderpriority FROM '%s'",
    "kvt": "SELECT CAST(o_orderkey AS INTEGER) AS k, o_orderpriority || ':' "
           "|| CAST(o_custkey AS VARCHAR) AS v FROM '%s'",
}


def check_dml(data_dir, log, final):
    """Replay the successful writes in `log`, in order, in DuckDB,
    starting from the generated orders, and compare with the engine's
    final tables (`final`: table -> parquet directory). Returns an error
    or None."""
    con = duckdb.connect()
    try:
        src = os.path.join(data_dir, "orders.parquet")
        for t, sql in DML_INIT.items():
            con.execute("CREATE TABLE %s AS %s" % (t, sql % src))
        for stmt in log:
            con.execute(stmt)
        for t in ("ord", "kvt"):
            path = os.path.join(final[t], "*.parquet")
            norm = ("SELECT o_orderkey, o_custkey, o_orderstatus, "
                    "round(o_totalprice, 2), o_orderpriority FROM %s"
                    if t == "ord" else "SELECT k, v FROM %s")
            mine, theirs = norm % t, norm % ("read_parquet('%s')" % path)
            for a, b, what in ((mine, theirs, "missing"),
                               (theirs, mine, "unexpected")):
                n = con.execute("SELECT count(*) FROM (%s EXCEPT ALL %s)"
                                % (a, b)).fetchone()[0]
                if n:
                    return "%s: %d %s rows" % (t, n, what)
        return None
    except Exception as e:
        return "replay error: %s" % e
    finally:
        con.close()
