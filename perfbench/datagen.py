"""Seeded input generator: the benchmark's tables, written as parquet.

Every value is a pure function of (seed, row number, column), built
from DuckDB's `hash`, so the same seed always gives the same files.
The shapes follow the repository's test tables (orders, documents,
events) at sf0.1 row counts; `customer` sets only the range of
o_custkey.
"""
import os

import duckdb

BASE_ROWS = {"customer": 15000, "orders": 150000, "documents": 5000,
             "events": 100000}

WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query key window row table stream "
         "merge data big join the vector customer").split()


def _h(seed, *parts):
    """SQL for a non-negative 62-bit hash of the seed and `parts`."""
    return "CAST(hash(%d, %s) %% 4611686018427387903 AS BIGINT)" % (
        seed, ", ".join(parts))


def tables_sql(seed, scale=1.0):
    """(name, SELECT) pairs that build each table for `seed`, with row
    counts multiplied by `scale` (1.0 is sf0.1)."""
    h = lambda *p: _h(seed, *p)  # noqa: E731
    ROWS = {t: max(1, int(n * scale)) for t, n in BASE_ROWS.items()}
    words = "[" + ", ".join("'%s'" % w for w in WORDS) + "]"
    odate = "(TIMESTAMP '1992-01-01' + to_days(CAST(%s %% 2400 AS INTEGER)))"
    return [
        ("orders", f"""
            SELECT i AS o_orderkey,
              1 + {h('i', "'c'")} % {ROWS['customer']} AS o_custkey,
              ['O', 'F', 'P'][1 + {h('i', "'s'")} % 3] AS o_orderstatus,
              CAST(100000 + {h('i', "'p'")} % 40000000 AS BIGINT) / 100.0
                AS o_totalprice,
              {odate % h('i', "'d'")} AS o_orderdate,
              ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
               '5-LOW'][1 + {h('i', "'r'")} % 5] AS o_orderpriority
            FROM range(1, {ROWS['orders'] + 1}) t(i)"""),
        # documents: every fifth one is a near-copy of an earlier one
        # (about one token in eight replaced), so duplicate clusters and
        # near-duplicate joins have work to find
        ("documents", f"""
            WITH base AS (
              SELECT i, list_transform(
                  range(CAST(12 + {h('i', "'n'")} % 60 AS BIGINT)),
                  k -> {words}[1 + {h('i', 'k')} % {len(WORDS)}])
                AS toks
              FROM range(0, {ROWS['documents']}) t(i)),
            src AS (
              SELECT i, CASE WHEN i >= 10 AND {h('i', "'d'")} % 5 = 0
                THEN i - 1 - {h('i', "'o'")} % 10 ELSE i END AS j
              FROM range(0, {ROWS['documents']}) t(i))
            SELECT s.i AS doc_id,
              array_to_string(list_transform(range(len(b.toks)),
                k -> CASE WHEN s.j <> s.i
                           AND {h('s.i', 'k', "'m'")} % 8 = 0
                      THEN {words}[1 + {h('s.i', 'k')} % {len(WORDS)}]
                      ELSE b.toks[k + 1] END), ' ') AS text,
              ['en', 'en', 'en', 'de', 'zh'][1 + {h('s.i', "'l'")} % 5]
                AS lang,
              'src' || CAST({h('s.i', "'s'")} % 8 AS VARCHAR) AS source
            FROM src s JOIN base b ON b.i = s.j"""),
        ("events", f"""
            SELECT i AS event_id,
              TIMESTAMP '2024-01-01' + to_microseconds(
                i * 30000000 + {h('i', "'t'")} % 30000000) AS ts,
              {h('i', "'u'")} % {max(10, ROWS['events'] * 3 // 200)} AS user_id,
              ['view', 'view', 'view', 'click', 'purchase', 'signup',
               'error'][1 + {h('i', "'e'")} % 7] AS event_type,
              CAST({h('i', "'v'")} % 20000 AS BIGINT) / 100.0 AS value,
              '{{"k": ' || CAST({h('i', "'k'")} % 100 AS VARCHAR) || '}}'
                AS props
            FROM range(0, {ROWS['events']}) t(i)"""),
    ]


def generate(seed, out_dir, names=None, scale=1.0):
    """Write the tables for `seed` into `out_dir` (one parquet file per
    table) and return {table: {"rows": n, "bytes": size}}."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    sizes = {}
    try:
        for name, sql in tables_sql(seed, scale):
            if names is not None and name not in names:
                continue
            path = os.path.join(out_dir, name + ".parquet")
            con.execute("CREATE TABLE t_%s AS %s" % (name, sql))
            if name == "documents":
                con.execute("ALTER TABLE t_documents ADD COLUMN n_chars "
                            "BIGINT; UPDATE t_documents SET n_chars = "
                            "length(text)")
            con.execute("COPY (SELECT * FROM t_%s ORDER BY ALL) TO '%s' "
                        "(FORMAT parquet)" % (name, path))
            rows = con.execute("SELECT count(*) FROM t_%s" % name).fetchone()
            sizes[name] = {"rows": rows[0], "bytes": os.path.getsize(path)}
    finally:
        con.close()
    return sizes
