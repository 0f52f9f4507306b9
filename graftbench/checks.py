"""Output checks of a benchmark run, in DuckDB.

Every check compares a Spark output (parquet) with an independent DuckDB
computation over the same generated inputs:
  - an oracle key names a query of `SparkEntry.oracleSql`, which the JVM
    ships in its result file;
  - `kept_plus_rejected` checks that the cleaned rows plus the rows the
    cleaning predicate rejects add up to the raw extract;
  - star_serve replays its operations in order on the oracle star: each
    read's recorded rows must equal the same query in DuckDB at that point
    of the replay, and `serve_fact` / `serve_dim_customers` compare the
    final tables.
Rows compare as multisets. Float columns may differ by one cent or one
part in 10^9: sums of doubles in another order can round the other way
(a dashboard sum can land on the other side of a cent), every other
column is exact.
"""
import json
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]

# the benchmark's fact line key: the row number in the order of all columns
FACT_ID = ("row_number() OVER (ORDER BY invoice_id, line_no, date_dim_id, customer_dim_id, "
           "product_dim_id, unit_price, quantity)")
LATE_FACT_IDS = 1 << 40


def _connect(inputs):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        d = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(d):
            glob = f"{d}/*.parquet" if os.path.isdir(d) else d
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{glob}')")
    return con


def _diff(con, got_sql, want_sql, cols):
    """Rows in one side but not the other (multiset), or None when equal."""
    c = ", ".join(f'"{x}"' for x in cols)
    n_got = con.execute(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
    n_want = con.execute(f"SELECT count(*) FROM ({want_sql})").fetchone()[0]
    if n_got != n_want:
        return f"rows {n_got} vs oracle {n_want}"
    extra = con.execute(f"SELECT count(*) FROM (SELECT {c} FROM ({got_sql}) "
                        f"EXCEPT ALL SELECT {c} FROM ({want_sql}))").fetchone()[0]
    if not extra:
        return None
    types = dict(con.execute(f"SELECT column_name, column_type FROM (DESCRIBE {want_sql})")
                 .fetchall())
    floats = [x for x in cols if types.get(x) in ("DOUBLE", "FLOAT")]
    if floats:
        # align rows by the exact columns first, then compare floats loosely
        order = ", ".join(f'"{x}"' for x in [x for x in cols if x not in floats] + floats)
        got = con.execute(f"SELECT {c} FROM ({got_sql}) ORDER BY {order}").fetchall()
        want = con.execute(f"SELECT {c} FROM ({want_sql}) ORDER BY {order}").fetchall()
        fi = {i for i, x in enumerate(cols) if x in floats}

        def same(a, b):
            return all(math.isclose(x, y, rel_tol=1e-9, abs_tol=0.0100001)
                       if i in fi and x is not None and y is not None else x == y
                       for i, (x, y) in enumerate(zip(a, b)))
        bad = [(a, b) for a, b in zip(got, want) if not same(a, b)]
        if not bad:
            return None
        return f"{len(bad)} rows differ, e.g. {bad[0][0]} vs oracle {bad[0][1]}"
    row = con.execute(f"SELECT {c} FROM ({got_sql}) EXCEPT ALL "
                      f"SELECT {c} FROM ({want_sql}) LIMIT 1").fetchone()
    return f"{extra} rows differ, e.g. {row}"


def _columns(con, sql):
    return [d[0] for d in con.execute(f"SELECT * FROM ({sql}) LIMIT 0").description]


def _apply(con, e, sizes):
    """Apply one star_serve write to the replayed star."""
    k = e["kind"]
    if k == "append":
        inv = f"({e['base']} + i)"
        con.execute(
            "INSERT INTO r_fact SELECT "
            f"{inv}, 1, CAST(20011201 + i % 28 AS INTEGER), "
            f"1000000 + ({inv} * 7919) % {sizes['customer']}, "
            f"2000000 + ({inv} * 104729) % {sizes['part']}, "
            f"CAST(({inv} * 31) % 1000 AS DOUBLE) / CAST(10 AS DOUBLE) + CAST(1 AS DOUBLE), "
            f"CAST({inv} % 50 + 1 AS DOUBLE), {LATE_FACT_IDS} + {inv} "
            f"FROM range({e['n']}) t(i)")
    elif k == "merge":
        con.execute(f"UPDATE r_dim SET segment = '{e['segment']}', last_status = 'U' "
                    f"WHERE customer_id BETWEEN {e['lo']} AND {e['hi']}")
        for cid in e["fresh"]:
            con.execute(f"INSERT INTO r_dim VALUES ({cid}, 'New#{cid}', '{e['segment']}', "
                        f"DATE '2001-12-01', 'N')")
    elif k == "update":
        con.execute(f"UPDATE r_fact SET quantity = quantity + CAST(1 AS DOUBLE) "
                    f"WHERE invoice_id BETWEEN {e['lo']} AND {e['hi']}")
    elif k == "delete":
        con.execute(f"DELETE FROM r_fact WHERE invoice_id BETWEEN {e['lo']} AND {e['hi']}")
    else:
        raise ValueError(f"unknown op {k}")


def _in_year(y):
    return f"date_dim_id BETWEEN {y * 10000 + 101} AND {y * 10000 + 1231}"


def _read_sql(name, a):
    """DuckDB form of one star_serve read over the replayed star."""
    if name == "revenue":
        return ("SELECT CAST(f.date_dim_id // 100 AS INTEGER) AS month, c.segment, "
                "sum(f.unit_price * f.quantity) AS revenue, count(*) AS n "
                "FROM r_fact f JOIN r_dim c ON f.customer_dim_id = c.customer_id + 1000000 "
                f"WHERE f.{_in_year(a['year'])} GROUP BY 1, 2")
    if name == "topn":
        return ("SELECT * FROM (SELECT *, CAST(row_number() OVER (PARTITION BY brand "
                "ORDER BY revenue DESC, stock_code) AS INTEGER) AS rk FROM ("
                "SELECT d.brand, d.stock_code, sum(f.unit_price * f.quantity) AS revenue "
                "FROM r_fact f JOIN o_etl_scd1_products d ON f.product_dim_id = d.stock_code + 2000000 "
                f"WHERE f.{_in_year(a['year'])} GROUP BY 1, 2)) WHERE rk <= 5")
    if name == "distinct_customers":
        return ("SELECT CAST(date_dim_id // 100 AS INTEGER) AS month, "
                f"count(DISTINCT customer_dim_id) AS customers FROM r_fact "
                f"WHERE {_in_year(a['year'])} GROUP BY 1")
    if name == "lookup_point":
        return f"SELECT * FROM r_fact WHERE invoice_id IN ({', '.join(map(str, a['keys']))})"
    if name == "lookup_range":
        return f"SELECT * FROM r_fact WHERE invoice_id BETWEEN {a['lo']} AND {a['hi']}"
    raise ValueError(f"unknown read {name}")


def _same_rows(got, want):
    """Compare two row lists as multisets, floats loosely; None when equal."""
    if len(got) != len(want):
        return f"rows {len(got)} vs oracle {len(want)}"

    def norm(row):
        return tuple(v if isinstance(v, (int, float)) or v is None else str(v) for v in row)

    def key(row):  # exact columns first, so float noise does not reorder rows
        return ([(0, "") if v is None else (1, str(v)) for v in row if not isinstance(v, float)],
                [v for v in row if isinstance(v, float)])
    got = sorted(map(norm, got), key=key)
    want = sorted(map(norm, want), key=key)
    for a, b in zip(got, want):
        if len(a) != len(b) or not all(
                math.isclose(x, y, rel_tol=1e-9, abs_tol=0.0100001)
                if isinstance(x, float) and isinstance(y, (int, float)) else x == y
                for x, y in zip(a, b)):
            return f"row {list(a)} vs oracle {list(b)}"
    return None


def _serve(con, r):
    """Replay star_serve's operations in order from the oracle star;
    yields (op id, check name, error) for each read that disagrees."""
    con.execute(f"CREATE TEMP TABLE r_fact AS SELECT *, {FACT_ID} AS fact_id FROM o_etl_fact_build")
    con.execute("CREATE TEMP TABLE r_dim AS SELECT * FROM o_etl_scd1_customers")
    sizes = r["extra"]["sizes"]
    for o in sorted(r["ops"], key=lambda o: o["id"]):
        if o["kind"] == "write":
            _apply(con, o["params"], sizes)
        elif o["result"] is not None:
            res = o["result"]
            try:
                cols = ", ".join(f'"{c}"' for c in res["columns"])
                want = con.execute(f"SELECT {cols} FROM ({_read_sql(o['name'], o['params'])})").fetchall()
                err = _same_rows(res["rows"], want)
            except Exception as e:  # a check that cannot run is a failed check
                err = f"{type(e).__name__}: {e}"
            if err:
                yield o["id"], f"read {o['name']} {json.dumps(o['params'])}", err


def run(r):
    """Run every check of result `r`; yields (op id, check name, error)."""
    if not r["checks"]:
        return
    con = _connect(r["inputs"])
    oracle = r["oracle_sql"]
    made = set()

    def oracle_table(key):
        if key not in made:
            con.execute(f"CREATE TEMP TABLE o_{key} AS {oracle[key]}")
            made.add(key)
        return f"SELECT * FROM o_{key}"

    if r["workload"] == "star_serve":
        oracle_table("etl_fact_build")
        oracle_table("etl_scd1_customers")
        oracle_table("etl_scd1_products")
        yield from _serve(con, r)
    for c in r["checks"]:
        got = f"SELECT * FROM read_parquet('{c['path']}/*.parquet')"
        key = c["oracle"]
        try:
            if key == "kept_plus_rejected":
                kept = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
                rejected, raw = con.execute(
                    "SELECT count(*) FILTER (WHERE NOT coalesce(value > 0 AND "
                    "regexp_matches(event_type, '^[a-z_]+$'), false)), count(*) FROM events"
                ).fetchone()
                err = None if kept + rejected == raw and rejected > 0 else \
                    f"kept {kept} + rejected {rejected} != raw {raw}"
            elif key in ("serve_fact", "serve_dim_customers"):
                want = "SELECT * FROM " + ("r_fact" if key == "serve_fact" else "r_dim")
                err = _diff(con, got, want, _columns(con, want))
            else:
                want = oracle_table(key)
                cols = _columns(con, want)
                if key == "etl_fact_build":
                    want = f"SELECT *, {FACT_ID} AS fact_id FROM o_{key}"
                    cols = _columns(con, want)
                if sorted(cols) != sorted(_columns(con, got)):
                    yield c["op"], c["name"], f"columns {_columns(con, got)} vs oracle {cols}"
                    continue
                err = _diff(con, got, want, cols)
        except Exception as e:  # a check that cannot run is a failed check
            err = f"{type(e).__name__}: {e}"
        if err:
            yield c["op"], c["name"], err
    con.close()
