"""Expected results for the query workload, computed by DuckDB on the
raw parquet the run generated (not on the lake tables), untimed.

Each template mirrors one read in Query.scala; results are digested the
same way (values as text, '|'-joined, rows sorted, md5), so a digest
match means the same rows.
"""
import hashlib

import duckdb

ORDER_COLS = ("o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
              "CAST(o_orderdate AS VARCHAR), o_orderpriority")


def sql_for(tpl, params):
    if tpl in ("lookup", "lookup_sql"):
        return f"SELECT {ORDER_COLS} FROM orders WHERE o_orderkey = {int(params['key'])}"
    if tpl == "range_scan":
        return ("SELECT count(*), sum(l_quantity), sum(l_extendedprice * (100 - l_discount)) FROM lineitem "
                f"WHERE l_shipdate BETWEEN DATE '{params['from']}' AND DATE '{params['to']}'")
    if tpl == "partition_agg":
        return ("SELECT o_orderpriority, count(*), sum(o_totalprice) FROM orders "
                f"WHERE o_year = {int(params['year'])} GROUP BY o_orderpriority")
    if tpl == "time_travel":
        return ("SELECT count(*), sum(l_quantity) FROM lineitem "
                f"WHERE l_shipdate < DATE '{params['before']}'")
    if tpl == "join_agg":
        return ("SELECT o_orderpriority, l_returnflag, count(*), sum(l_extendedprice * (100 - l_discount)) "
                "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority, l_returnflag")
    if tpl == "window_topn":
        return ("SELECT * FROM (SELECT l_returnflag, l_suppkey, q, row_number() OVER "
                "(PARTITION BY l_returnflag ORDER BY q DESC, l_suppkey ASC) AS rn FROM "
                "(SELECT l_returnflag, l_suppkey, sum(l_quantity) AS q FROM lineitem "
                "GROUP BY l_returnflag, l_suppkey)) WHERE rn <= 3")
    raise ValueError(f"unknown template {tpl}")


def digest(rows):
    text = "\n".join(sorted("|".join("NULL" if v is None else str(v) for v in r) for r in rows))
    return hashlib.md5(text.encode("utf-8")).hexdigest(), len(rows)


def expected(raw_dir, requests):
    """{(tpl, params-key): (digest, rows)} for every distinct request."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in ("orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{raw_dir}/{t}/*.parquet')")
        out = {}
        for tpl, params in requests:
            key = (tpl, tuple(sorted(params.items())))
            if key not in out:
                out[key] = digest(con.execute(sql_for(tpl, params)).fetchall())
        return out
    finally:
        con.close()


def check_ops(raw_dir, ops):
    """Failed op ids with a reason: ops whose digest differs from
    DuckDB's answer to the same query."""
    reads = [o for o in ops if o.get("tpl")]
    want = expected(raw_dir, [(o["tpl"], o["params"]) for o in reads])
    bad = {}
    for o in reads:
        d, n = want[(o["tpl"], tuple(sorted(o["params"].items())))]
        if o["digest"] != d:
            bad[o["id"]] = f"{o['tpl']} {o['params']}: {o['rows_out']} rows, digest differs from DuckDB ({n} rows)"
    return bad
