#!/usr/bin/env python3
"""Fixed corpus for the registry_slice workload.

An sf0.01-sized star schema plus the events/documents/embeddings tables,
with the same table names, column names and types as the TPC-H-ish test
data the registry queries read. Every draw is a hash of the row id salted
with one fixed constant, tables are written single-threaded in key order
and each as one parquet row group, so two runs produce identical tables.
The benchmark seed does not reach this corpus: the registry's expected
digests (registry_expected.tsv) are pinned to it.

Usage: python3 perfbench/gen_corpus.py <out dir>
"""
import os
import sys

import duckdb

SALT = 20261017
N_DOC, N_EMB, N_EVT, N_ORD = 500, 500, 10000, 15000
N_LINE, N_CUST, N_PART, N_SUPP = 60000, 1500, 2000, 100

VOCAB = ("batch part spark line column order small sort fast value scan hash "
         "slow group agg filter query a big key window row table stream merge "
         "data vector join plan page").split()
VOCAB_SQL = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"


def main(out):
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    # u(i, k): uniform draw in [0, 1) for row i, stream k
    con.execute(f"CREATE MACRO u(i, k) AS "
                f"(hash(i * 1000003 + k * 7919 + {SALT}) % 1000000) / 1000000.0")
    con.execute("CREATE MACRO pick(i, k, n) AS floor(u(i, k) * n)::BIGINT")

    def save(name, sql):
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' "
                    f"(FORMAT parquet, ROW_GROUP_SIZE 10000000)")

    save("region", """
      SELECT i::INT AS r_regionkey,
        (['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[i + 1] AS r_name
      FROM range(5) t(i) ORDER BY 1""")
    save("nation", """
      SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, (i % 5)::INT AS n_regionkey
      FROM range(25) t(i) ORDER BY 1""")
    save("documents", f"""
      WITH base AS (
        SELECT i AS doc_id, 10 + pick(i, 1, 90)::INT AS n_words,
          (['zh','zh','zh','es','es','es','fr','fr','fr','de','de','de',
            'en','en','en','en','en','en','en','en'])[1 + pick(i, 2, 20)::INT] AS lang,
          'src' || (i % 20) AS source
        FROM range(0, {N_DOC}) t(i)),
      txt AS (
        SELECT doc_id, lang, source,
          array_to_string(list_transform(range(1, n_words + 1),
            x -> ({VOCAB_SQL})[1 + pick(doc_id * 1000 + x, 3, {len(VOCAB)})::INT]), ' ') AS t0
        FROM base),
      dup AS (
        SELECT a.doc_id, a.lang, a.source,
          CASE WHEN a.doc_id % 50 = 49 THEN b.t0 ELSE a.t0 END AS text
        FROM txt a LEFT JOIN txt b ON b.doc_id = a.doc_id - 1)
      SELECT doc_id::BIGINT AS doc_id, text, lang, source, length(text)::BIGINT AS n_chars
      FROM dup ORDER BY doc_id""")
    save("embeddings", f"""
      SELECT i::BIGINT AS vec_id,
        list_transform(range(0, 64), d ->
          ((CASE WHEN u((i % 10) * 64 + d, 4) > 0.5 THEN 1.0 ELSE -1.0 END)
           + (u(i * 64 + d, 5) - 0.5))::FLOAT) AS embedding,
        (i % 10)::INT AS label
      FROM range(0, {N_EMB}) t(i) ORDER BY 1""")
    save("events", f"""
      SELECT i::BIGINT AS event_id,
        TIMESTAMP '2024-01-01' + to_seconds(pick(i, 6, 2591999))
          + to_microseconds(pick(i, 7, 999999)) AS ts,
        floor(power(u(i, 8), 2.0) * 150)::BIGINT AS user_id,
        (['click','view','purchase','scroll','share'])[1 + pick(i, 9, 5)::INT] AS event_type,
        round(u(i, 10) * 500, 4) AS value,
        '{{"k":' || pick(i, 11, 100) || '}}' AS props
      FROM range(0, {N_EVT}) t(i) ORDER BY 1""")
    save("orders", f"""
      SELECT i::BIGINT AS o_orderkey, pick(i, 12, {N_CUST}) AS o_custkey,
        (['O','F','P'])[1 + pick(i, 13, 3)::INT] AS o_orderstatus,
        round(1000 + u(i, 14) * 400000, 2) AS o_totalprice,
        TIMESTAMP '1995-01-01' + to_days(pick(i, 15, 2404)::INT) AS o_orderdate,
        (['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'])[1 + pick(i, 16, 5)::INT]
          AS o_orderpriority
      FROM range(0, {N_ORD}) t(i) ORDER BY 1""")
    save("lineitem", f"""
      SELECT pick(i, 17, {N_ORD}) AS l_orderkey, pick(i, 18, {N_PART}) AS l_partkey,
        pick(i, 19, {N_SUPP}) AS l_suppkey, (1 + (i % 7))::INT AS l_linenumber,
        (1 + pick(i, 20, 49))::DOUBLE AS l_quantity,
        round(900 + u(i, 21) * 100000, 2) AS l_extendedprice,
        round(pick(i, 22, 10)::INT / 100.0, 2)::DOUBLE AS l_discount,
        round(pick(i, 23, 8)::INT / 100.0, 2)::DOUBLE AS l_tax,
        (['A','N','R'])[1 + pick(i, 24, 3)::INT] AS l_returnflag,
        (['O','F'])[1 + pick(i, 25, 2)::INT] AS l_linestatus,
        TIMESTAMP '1995-01-02' + to_days(pick(i, 26, 2499)::INT) AS l_shipdate
      FROM range(0, {N_LINE}) t(i) ORDER BY i""")
    save("customer", f"""
      SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
        pick(i, 27, 25)::INT AS c_nationkey,
        round(-999 + u(i, 28) * 10000, 2) AS c_acctbal,
        (['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'])[1 + pick(i, 29, 5)::INT]
          AS c_mktsegment
      FROM range(0, {N_CUST}) t(i) ORDER BY 1""")
    save("supplier", f"""
      SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
        pick(i, 30, 25)::INT AS s_nationkey, round(-999 + u(i, 31) * 10000, 2) AS s_acctbal
      FROM range(0, {N_SUPP}) t(i) ORDER BY 1""")
    save("part", f"""
      SELECT i::BIGINT AS p_partkey,
        (['small','red','blue','green','large','steel','brass','matte'])[1 + pick(i, 37, 8)::INT]
          || ' ' || (['ring','widget','bolt','gear','valve','panel'])[1 + pick(i, 38, 6)::INT]
          AS p_name,
        'Brand#' || (1 + pick(i, 32, 25)) AS p_brand,
        (['ECONOMY','STANDARD','PROMO','SMALL','LARGE'])[1 + pick(i, 34, 5)::INT] AS p_type,
        (1 + pick(i, 35, 50))::INT AS p_size,
        round(900 + (i % 200) * 10 + u(i, 36) * 100, 2) AS p_retailprice
      FROM range(0, {N_PART}) t(i) ORDER BY 1""")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
