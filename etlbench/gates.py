"""Correctness gates: each workload's outputs against DuckDB over the same
generated inputs.

A gate returns a list of mismatch messages; an empty list means the
batch is correct. The harness counts a batch (or task) with any message
as failed, so a wrong answer shows in ``failed`` and never as a speed-up.
Spark writes parquet directories; DuckDB reads them with a glob.
"""

from __future__ import annotations

import os

import duckdb


def connect(tables: dict | None = None) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for name, t in (tables or {}).items():
        con.register(name, t)
    return con


def pq(path: str) -> str:
    """DuckDB table expression over a Spark-written parquet directory."""
    return f"read_parquet('{os.path.join(path, '*.parquet')}')"


def diff_count(con, actual_sql: str, expected_sql: str) -> tuple[int, int]:
    """(rows only in actual, rows only in expected), as multisets."""
    extra = con.execute(
        f"SELECT count(*) FROM (({actual_sql}) EXCEPT ALL ({expected_sql}))"
    ).fetchone()[0]
    missing = con.execute(
        f"SELECT count(*) FROM (({expected_sql}) EXCEPT ALL ({actual_sql}))"
    ).fetchone()[0]
    return extra, missing


def _expect_equal(con, what: str, actual_sql: str, expected_sql: str) -> list[str]:
    extra, missing = diff_count(con, actual_sql, expected_sql)
    if extra or missing:
        return [f"{what}: {extra} unexpected rows, {missing} missing rows"]
    return []


# -- etl_bulk --------------------------------------------------------------

# dimension -> (BSE sk col, BSE nk col, DuckDB NK expression, source table)
BULK_DIMS = {
    "dm_customer": ("sk_customer", "nk_customer", "CAST(c_custkey AS VARCHAR)", "customer"),
    "dm_part": ("sk_part", "nk_part", "CAST(p_partkey AS VARCHAR)", "part"),
    "dm_supplier": ("sk_supplier", "nk_supplier", "CAST(s_suppkey AS VARCHAR)", "supplier"),
}


def dim_sk_sql(nk_expr: str, src: str) -> str:
    """The frozen SK rule: dense 1..n in natural-key order."""
    return (
        f"SELECT row_number() OVER (ORDER BY {nk_expr}) AS sk, {nk_expr} AS nk "
        f"FROM {src}"
    )


def date_sk_sql(earliest: str, latest: str) -> str:
    return (
        "SELECT row_number() OVER (ORDER BY d) AS sk, "
        "CAST(strftime(d, '%Y%m%d') AS INTEGER) AS nk FROM ("
        f"SELECT CAST(range AS DATE) AS d FROM range(DATE '{earliest}', "
        f"DATE '{latest}' + INTERVAL 1 DAY, INTERVAL 1 DAY))"
    )


def expected_fact_sql(earliest: str, latest: str) -> str:
    """ft_lineitem as the fact load must produce it: each FK resolved to
    its dimension SK, -1 when the NK has no dimension row (fk_audit is
    always -1: dm_audit is generated but not SK-loaded)."""
    maps = {
        d: dim_sk_sql(nk, src) for d, (_sk, _nk, nk, src) in BULK_DIMS.items()
    }
    return f"""
SELECT COALESCE(c.sk, -1) AS fk_customer, COALESCE(p.sk, -1) AS fk_part,
       COALESCE(s.sk, -1) AS fk_supplier, COALESCE(t.sk, -1) AS fk_date,
       -1 AS fk_audit, l.l_orderkey, l.l_linenumber,
       CAST(l.l_extendedprice AS DECIMAL(18,2)) AS l_extendedprice
FROM lineitem l
LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
LEFT JOIN ({maps['dm_customer']}) c ON CAST(o.o_custkey AS VARCHAR) = c.nk
LEFT JOIN ({maps['dm_part']}) p ON CAST(l.l_partkey AS VARCHAR) = p.nk
LEFT JOIN ({maps['dm_supplier']}) s ON CAST(l.l_suppkey AS VARCHAR) = s.nk
LEFT JOIN ({date_sk_sql(earliest, latest)}) t
       ON CAST(strftime(l.l_shipdate, '%Y%m%d') AS INTEGER) = t.nk
"""


UNMATCHED_SQL = {
    "fk_customer": "SELECT count(*) FROM lineitem l JOIN orders o "
    "ON l.l_orderkey = o.o_orderkey ANTI JOIN customer c ON o.o_custkey = c.c_custkey",
    "fk_part": "SELECT count(*) FROM lineitem l ANTI JOIN part p ON l.l_partkey = p.p_partkey",
    "fk_supplier": "SELECT count(*) FROM lineitem l "
    "ANTI JOIN supplier s ON l.l_suppkey = s.s_suppkey",
    "fk_audit": "SELECT count(*) FROM lineitem",
}

# facts whose customer is unknown join the dimension's -1 MISSING row
SUMMARY_EXPECTED_SQL = """
SELECT CASE WHEN c.c_custkey IS NULL THEN 'MISSING' ELSE n.n_name END AS c_nation,
       CAST(year(l.l_shipdate) AS INTEGER) AS cal_year,
       count(*) AS n_lines, CAST(sum(l.l_extendedprice) AS DECIMAL(38,2)) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY ALL
"""


def check_bulk(tables: dict, conf) -> list[str]:
    con = connect(tables)
    errs: list[str] = []
    bse = lambda t: pq(conf.layer_path("BSE", t))  # noqa: E731
    earliest, latest = conf.earliest_date_in_data, conf.latest_date_in_data
    dims = {d: (sk, nk, dim_sk_sql(expr, src)) for d, (sk, nk, expr, src) in BULK_DIMS.items()}
    dims["dm_date"] = ("sk_date", "date_id", date_sk_sql(earliest, latest))
    for dim, (sk, nk, expected) in dims.items():
        errs += _expect_equal(
            con, f"{dim} SKs",
            f"SELECT {sk} AS sk, {nk} AS nk FROM {bse(dim)} WHERE {sk} > 0", expected,
        )
        defaults = con.execute(
            f"SELECT list({sk} ORDER BY {sk}) FROM {bse(dim)} WHERE {sk} < 0"
        ).fetchone()[0]
        if defaults != [-2, -1]:
            errs.append(f"{dim} default rows: {defaults}, expected [-2, -1]")
    fact = bse("ft_lineitem")
    for fk, sql in UNMATCHED_SQL.items():
        want = con.execute(sql).fetchone()[0]
        got = con.execute(f"SELECT count(*) FROM {fact} WHERE {fk} = -1").fetchone()[0]
        if got != want:
            errs.append(f"ft_lineitem {fk}: {got} unmatched, DuckDB anti-join {want}")
    errs += _expect_equal(
        con, "ft_lineitem keys",
        "SELECT fk_customer, fk_part, fk_supplier, fk_date, fk_audit, l_orderkey, "
        f"l_linenumber, l_extendedprice FROM {fact}",
        expected_fact_sql(earliest, latest),
    )
    errs += _expect_equal(
        con, "su_revenue",
        "SELECT c_nation, cal_year, n_lines, CAST(revenue AS DECIMAL(38,2)) "
        f"FROM {pq(conf.layer_path('SUM', 'su_revenue'))}",
        SUMMARY_EXPECTED_SQL,
    )
    con.close()
    return errs


# -- curation_docs ---------------------------------------------------------


def check_curation(docs, shards_path: str) -> tuple[list[str], tuple, int]:
    """Kept docs are a subset of the input, hold no exact duplicate text,
    and fingerprint identically across batches. Returns (errors,
    fingerprint, kept count)."""
    con = connect({"documents": docs})
    kept = f"read_parquet('{os.path.join(shards_path, 'shard=*', '*.parquet')}', hive_partitioning = 1)"
    errs: list[str] = []
    n, n_text, fp = con.execute(
        f"SELECT count(*), count(DISTINCT text), "
        f"sum(hash(doc_id, text, shard) % 1000000007) FROM {kept}"
    ).fetchone()
    foreign = con.execute(
        f"SELECT count(*) FROM {kept} k ANTI JOIN documents d "
        "ON k.doc_id = d.doc_id AND k.text = d.text"
    ).fetchone()[0]
    if foreign:
        errs.append(f"{foreign} kept docs are not in the input")
    if n != n_text:
        errs.append(f"{n - n_text} exact duplicate texts among {n} kept docs")
    if n == 0:
        errs.append("no docs kept")
    con.close()
    return errs, (n, int(fp or 0)), n
