"""Seeded input tables for the benchmark, written as parquet with DuckDB.

Every table has the schema and row count of the sf0.1 fixture the engine's
queries are written against; values are drawn from `hash(row, column, seed)`,
so one seed always gives byte-identical inputs and another seed shifts every
key and value.
"""
import os

import duckdb

WORDS = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter big query a key window row table stream merge "
         "data vector join index page cache shard log commit snapshot delta "
         "schema token parse").split()

# (table, row count, SELECT over range(n) t(i) with {s} = seed)
TABLES = {
    "region": (5, """
        SELECT i::INTEGER AS r_regionkey,
          ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1] AS r_name
        FROM range({n}) t(i)"""),
    "nation": (25, """
        SELECT i::INTEGER AS n_nationkey, 'NATION_' || i::VARCHAR AS n_name,
          (i % 5)::INTEGER AS n_regionkey
        FROM range({n}) t(i)"""),
    "supplier": (1000, """
        SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
          (hash(i, 'n', {s}) % 25)::INTEGER AS s_nationkey,
          round((hash(i, 'b', {s}) % 1100000)::DOUBLE / 100 - 999.99, 2) AS s_acctbal
        FROM range({n}) t(i)"""),
    "part": (20000, """
        SELECT i::BIGINT AS p_partkey,
          ['large', 'hot', 'small', 'red', 'steel'][(hash(i, 'a', {s}) % 5)::INTEGER + 1] || ' ' ||
          ['ring', 'bolt', 'nut', 'gear', 'pipe'][(hash(i, 'b', {s}) % 5)::INTEGER + 1] AS p_name,
          'Brand#' || (1 + hash(i, 'br', {s}) % 50)::VARCHAR AS p_brand,
          ['LARGE', 'ECONOMY', 'STANDARD', 'SMALL', 'PROMO'][(hash(i, 't', {s}) % 5)::INTEGER + 1] AS p_type,
          (1 + hash(i, 'sz', {s}) % 50)::INTEGER AS p_size,
          round(900 + (i % 1000)::DOUBLE / 10, 2) AS p_retailprice
        FROM range({n}) t(i)"""),
    "customer": (15000, """
        SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
          (hash(i, 'n', {s}) % 25)::INTEGER AS c_nationkey,
          round((hash(i, 'b', {s}) % 1100000)::DOUBLE / 100 - 999.99, 2) AS c_acctbal,
          ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'][
            (hash(i, 'm', {s}) % 5)::INTEGER + 1] AS c_mktsegment
        FROM range({n}) t(i)"""),
    "orders": (150000, """
        SELECT i::BIGINT AS o_orderkey, (hash(i, 'c', {s}) % 15000)::BIGINT AS o_custkey,
          ['O', 'F', 'P'][(hash(i, 'st', {s}) % 3)::INTEGER + 1] AS o_orderstatus,
          round((hash(i, 'p', {s}) % 50000000)::DOUBLE / 100 + 900, 2) AS o_totalprice,
          TIMESTAMP '1992-01-01' + to_days((hash(i, 'd', {s}) % 2400)::INTEGER) AS o_orderdate,
          ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][
            (hash(i, 'pr', {s}) % 5)::INTEGER + 1] AS o_orderpriority
        FROM range({n}) t(i)"""),
    "lineitem": (600000, """
        SELECT (hash(i, 'o', {s}) % 150000)::BIGINT AS l_orderkey,
          (hash(i, 'p', {s}) % 20000)::BIGINT AS l_partkey,
          (hash(i, 's', {s}) % 1000)::BIGINT AS l_suppkey,
          (1 + hash(i, 'l', {s}) % 7)::INTEGER AS l_linenumber,
          (1 + hash(i, 'q', {s}) % 50)::DOUBLE AS l_quantity,
          round((hash(i, 'e', {s}) % 10000000)::DOUBLE / 100 + 900, 2) AS l_extendedprice,
          ((hash(i, 'di', {s}) % 11)::DOUBLE / 100) AS l_discount,
          ((hash(i, 't', {s}) % 9)::DOUBLE / 100) AS l_tax,
          ['A', 'N', 'R'][(hash(i, 'r', {s}) % 3)::INTEGER + 1] AS l_returnflag,
          ['O', 'F'][(hash(i, 'ls', {s}) % 2)::INTEGER + 1] AS l_linestatus,
          TIMESTAMP '1992-01-02' + to_days((hash(i, 'sd', {s}) % 2500)::INTEGER) AS l_shipdate
        FROM range({n}) t(i)"""),
    "events": (100000, """
        SELECT i::BIGINT AS event_id,
          TIMESTAMP '2024-01-01' + to_microseconds((hash(i, 'ts', {s}) % 2678400000000)::BIGINT) AS ts,
          (hash(i, 'u', {s}) % 2000)::BIGINT AS user_id,
          ['click', 'view', 'purchase', 'error', 'signup'][
            (hash(i, 'et', {s}) % 5)::INTEGER + 1] AS event_type,
          round((hash(i, 'v', {s}) % 20000)::DOUBLE / 100, 2) AS value,
          '{{"k": ' || (hash(i, 'k', {s}) % 100)::VARCHAR || '}}' AS props
        FROM range({n}) t(i)"""),
    "embeddings": (2000, """
        SELECT i::BIGINT AS vec_id,
          list_transform(range(64), j ->
            ((hash(i, j, {s}) % 2000)::DOUBLE / 10000.0 - 0.1
             + (hash(i % 8, j, {s}, 'c') % 2000)::DOUBLE / 5000.0 - 0.2)::FLOAT) AS embedding,
          (i % 8)::INTEGER AS label
        FROM range({n}) t(i)"""),
    # every fifth document is a near copy of an earlier one (a few words
    # replaced), so the near-duplicate queries find small clusters
    "documents": (5000, """
        WITH w AS (SELECT {words} AS ws),
        d AS (
          SELECT i, CASE WHEN i % 5 = 4 THEN hash(i, 'src', {s}) % i ELSE i END AS base
          FROM range({n}) t(i)),
        t AS (
          SELECT i, base, unnest(range(12 + (hash(base, 'len', {s}) % 40)::INTEGER)) AS j
          FROM d)
        SELECT i::BIGINT AS doc_id,
          string_agg(ws[(CASE WHEN i <> base AND hash(i, j, {s}) % 12 = 0
                         THEN hash(i, j, {s}, 'w') ELSE hash(base, j, {s}) END
                         % {nwords})::INTEGER + 1], ' ' ORDER BY j) AS text,
          ['en', 'de', 'fr', 'zh'][(hash(i, 'lang', {s}) % 4)::INTEGER + 1] AS lang,
          'src' || (hash(i, 'so', {s}) % 4)::VARCHAR AS source
        FROM t, w GROUP BY i, base ORDER BY doc_id"""),
}

# tables each workload reads
WORKLOAD_TABLES = {
    "dml_txn": ["events", "embeddings"],
    "scan_mix": list(TABLES),
    "stream_ingest": [],
}


def generate(workload, seed, out_dir):
    """Write the workload's input tables as `<out_dir>/<table>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    for name in WORKLOAD_TABLES[workload]:
        n, select = TABLES[name]
        q = select.format(s=seed, n=n, words=words, nwords=len(WORDS))
        if name == "documents":
            q = f"SELECT *, length(text)::BIGINT AS n_chars FROM ({q})"
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({q}) TO '{path}' (FORMAT PARQUET, COMPRESSION SNAPPY)")
    con.close()
