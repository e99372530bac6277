#!/usr/bin/env python3
"""Seeded generator for the benchmark's input tables.

Writes the ten fixture tables the headline queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schemas and value domains of the repository's
TPC-H-ish fixtures, plus three inputs of the lake workloads:

  lake_lineitem  lineitem rows shipped in 1997-1998 (24 months, so a table
                 partitioned by month(l_shipdate) has 24 partitions)
  lake_orders    the orders those rows belong to
  etl_extra      a tenth of lake_lineitem under new order keys, the
                 source of the ETL workload's INSERT..SELECT

Every value is a hash of (row, column, seed), so one seed always gives the
same rows whatever the thread count. Usage:

  python3 gen.py <out_dir> <seed> <scale_factor>
"""
import os
import sys

import duckdb

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def generate(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={min(4, os.cpu_count() or 1)}")
    # u(i, k): uniform [0, 1) from row i, column k and the seed
    con.execute(f"CREATE MACRO u(i, k) AS "
                f"(hash(i, k, {int(seed)}) % 1000000007) / 1000000007.0")
    con.execute("CREATE MACRO pick(i, k, xs) AS "
                "xs[1 + CAST(floor(u(i, k) * len(xs)) AS BIGINT)]")
    con.execute("CREATE MACRO ri(i, k, lo, hi) AS "
                "lo + CAST(floor(u(i, k) * (hi - lo + 1)) AS BIGINT)")

    n_cust = max(15, int(150000 * sf))
    n_supp = max(1, int(10000 * sf))
    n_part = max(20, int(200000 * sf))
    n_ord = max(150, int(1500000 * sf))
    n_li = max(600, int(6000000 * sf))
    n_ev = max(100, int(1000000 * sf))
    n_users = max(15, int(15000 * sf))
    n_doc = max(50, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))

    def write(name, sql):
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' "
                    "(FORMAT PARQUET, COMPRESSION SNAPPY)")

    write("region", """
      SELECT CAST(i AS INTEGER) AS r_regionkey,
             ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1]
               AS r_name
      FROM range(5) t(i) ORDER BY i""")
    write("nation", """
      SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
             CAST(ri(i, 1, 0, 4) AS INTEGER) AS n_regionkey
      FROM range(25) t(i) ORDER BY i""")
    write("customer", f"""
      SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0')
               AS c_name,
             CAST(ri(i, 1, 0, 24) AS INTEGER) AS c_nationkey,
             round(-999.99 + u(i, 2) * 10999.98, 2) AS c_acctbal,
             pick(i, 3, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD',
                         'MACHINERY']) AS c_mktsegment
      FROM range({n_cust}) t(i) ORDER BY i""")
    write("supplier", f"""
      SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0')
               AS s_name,
             CAST(ri(i, 1, 0, 24) AS INTEGER) AS s_nationkey,
             round(-999.99 + u(i, 2) * 10999.98, 2) AS s_acctbal
      FROM range({n_supp}) t(i) ORDER BY i""")
    write("part", f"""
      SELECT i AS p_partkey,
             pick(i, 1, ['blue', 'cold', 'hot', 'large', 'new', 'old', 'red',
                         'small']) || ' ' ||
             pick(i, 2, ['anvil', 'bolt', 'gear', 'gizmo', 'plate', 'ring',
                         'rod', 'widget']) AS p_name,
             'Brand#' || ri(i, 3, 1, 25) AS p_brand,
             pick(i, 4, ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL',
                         'STANDARD']) AS p_type,
             CAST(ri(i, 5, 1, 50) AS INTEGER) AS p_size,
             900.0 + ri(i, 6, 0, 999) / 10.0 AS p_retailprice
      FROM range({n_part}) t(i) ORDER BY i""")
    write("orders", f"""
      SELECT i AS o_orderkey, ri(i, 1, 0, {n_cust - 1}) AS o_custkey,
             pick(i, 2, ['F', 'O', 'P']) AS o_orderstatus,
             round(1000.0 + u(i, 3) * 499000.0, 2) AS o_totalprice,
             TIMESTAMP '1995-01-01' + to_days(CAST(ri(i, 4, 0, 2404) AS INTEGER))
               AS o_orderdate,
             pick(i, 5, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED',
                         '5-LOW']) AS o_orderpriority
      FROM range({n_ord}) t(i) ORDER BY i""")
    write("lineitem", f"""
      SELECT ri(i, 1, 0, {n_ord - 1}) AS l_orderkey,
             ri(i, 2, 0, {n_part - 1}) AS l_partkey,
             ri(i, 3, 0, {n_supp - 1}) AS l_suppkey,
             CAST(ri(i, 4, 1, 7) AS INTEGER) AS l_linenumber,
             CAST(ri(i, 5, 1, 50) AS DOUBLE) AS l_quantity,
             round(900.0 + u(i, 6) * 104100.0, 2) AS l_extendedprice,
             ri(i, 7, 0, 10) / 100.0 AS l_discount,
             ri(i, 8, 0, 8) / 100.0 AS l_tax,
             pick(i, 9, ['A', 'N', 'R']) AS l_returnflag,
             pick(i, 10, ['F', 'O']) AS l_linestatus,
             TIMESTAMP '1995-01-02' + to_days(CAST(ri(i, 11, 0, 2498) AS INTEGER))
               AS l_shipdate
      FROM range({n_li}) t(i) ORDER BY i""")
    write("events", f"""
      SELECT i AS event_id,
             TIMESTAMP '2024-01-01' +
               to_microseconds(CAST(floor(u(i, 1) * 2592000e6) AS BIGINT)) AS ts,
             ri(i, 2, 0, {n_users - 1}) AS user_id,
             pick(i, 3, ['click', 'error', 'purchase', 'signup', 'view'])
               AS event_type,
             round(0.01 + u(i, 4) * 490.0, 2) AS value,
             '{{"k": ' || ri(i, 5, 0, 99) || '}}' AS props
      FROM range({n_ev}) t(i) ORDER BY i""")
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    # one doc in twenty repeats an earlier doc with ' dup' appended, so the
    # near-duplicate operators have something to find
    write("documents", f"""
      WITH base AS (
        SELECT i, array_to_string(list_transform(
                 range(ri(i, 1, 10, 99)),
                 j -> {vocab}[1 + CAST(hash(i, j, {int(seed)}) % 31 AS BIGINT)]),
                 ' ') AS body
        FROM range({n_doc}) t(i)),
      docs AS (
        SELECT b.i, CASE WHEN b.i > 0 AND u(b.i, 2) < 0.05
                         THEN o.body || ' dup' ELSE b.body END AS text
        FROM base b JOIN base o
          ON o.i = CASE WHEN b.i > 0 THEN ri(b.i, 3, 0, b.i - 1) ELSE 0 END)
      SELECT i AS doc_id, text,
             pick(i, 4, ['de', 'en', 'es', 'fr', 'zh']) AS lang,
             'src' || ri(i, 5, 0, 19) AS source,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM docs ORDER BY i""")
    # unit-norm 64-d vectors; each coordinate is a sum of four uniforms,
    # close enough to a Gaussian for the similarity operators. One vector
    # in twenty is an earlier one plus a quarter of its own noise (cosine
    # about 0.97), so the near-duplicate operators have something to find.
    write("embeddings", f"""
      WITH noise AS (
        SELECT i, list_transform(range(64), j ->
                 (hash(i, j, 1, {int(seed)}) % 1000003) / 1000003.0 +
                 (hash(i, j, 2, {int(seed)}) % 1000003) / 1000003.0 +
                 (hash(i, j, 3, {int(seed)}) % 1000003) / 1000003.0 +
                 (hash(i, j, 4, {int(seed)}) % 1000003) / 1000003.0 - 2.0) AS v
        FROM range({n_emb}) t(i)),
      raw AS (
        SELECT b.i, CASE WHEN b.i > 0 AND u(b.i, 8) < 0.05
                         THEN list_transform(range(64),
                                j -> o.v[j + 1] + 0.25 * b.v[j + 1])
                         ELSE b.v END AS v
        FROM noise b JOIN noise o
          ON o.i = CASE WHEN b.i > 0 THEN ri(b.i, 9, 0, b.i - 1) ELSE 0 END),
      normed AS (
        SELECT i, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS n
        FROM raw)
      SELECT i AS vec_id,
             CAST(list_transform(v, x -> x / n) AS FLOAT[]) AS embedding,
             CAST(ri(i, 7, 0, 9) AS INTEGER) AS label
      FROM normed ORDER BY i""")

    lake_where = ("l_shipdate >= TIMESTAMP '1997-01-01' AND "
                  "l_shipdate < TIMESTAMP '1999-01-01'")
    write("lake_lineitem", f"""
      SELECT * FROM '{out}/lineitem.parquet' WHERE {lake_where}
      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey""")
    write("lake_orders", f"""
      SELECT * FROM '{out}/orders.parquet' WHERE o_orderkey IN (
        SELECT l_orderkey FROM '{out}/lake_lineitem.parquet')
      ORDER BY o_orderkey""")
    write("etl_extra", f"""
      SELECT l_orderkey + 1000000000 AS l_orderkey,
             * EXCLUDE (l_orderkey)
      FROM '{out}/lake_lineitem.parquet'
      WHERE hash(l_orderkey, l_partkey, l_linenumber, {int(seed)}) % 10 = 0
      ORDER BY l_shipdate, l_orderkey, l_linenumber, l_partkey""")
    con.close()


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: gen.py <out_dir> <seed> <scale_factor>")
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
