"""Deterministic generator of the registry's ten input tables.

Same table names, column names and physical types as the repository's
synthetic test tables (TPC-H-like star schema plus the events, documents and
embeddings tables that `graft.Tables` loads), with row counts, key
cardinalities and value distributions set from a profile of those tables at
scale factor 0.1 (perfbench/README.md, "Registry tables", has the
comparison): uniform keys without skew, 5% of documents a copy of a random
document with the word "dup" appended, embeddings isotropic random unit
vectors whose labels are independent of them. Written as one parquet file
per table. Every value is a hash of (table, row, column), so the output is
identical on every call and on every thread count.
"""
import os

import duckdb

# the documents' vocabulary; the word "dup" is appended only to mark copies
WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window row table stream "
         "merge data vector join the customer").split()
LANGS = ["en"] * 8 + ["de", "es", "fr", "zh"] * 3

# Row counts per unit scale factor.
ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
        "documents": 50_000, "embeddings": 20_000}


def generate(out_dir: str, sf: float) -> None:
    n = {t: max(int(r * sf), 10) for t, r in ROWS.items()}
    users = max(int(15_000 * sf), 10)
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    # h(i, c): a hash of row i and column salt c. Not DuckDB's hash(i, c):
    # that is hash(i) XOR a constant per salt, so two columns of one row
    # would agree in their low bits and picks modulo even numbers correlate.
    con.execute("CREATE MACRO h(i, c) AS hash(CAST(i AS VARCHAR) || c)")
    # u(i, c): uniform [0, 1); pick(i, c, k): uniform integer in [0, k)
    con.execute("CREATE MACRO u(i, c) AS (h(i, c) % 1000000007) / 1000000007.0")
    con.execute("CREATE MACRO pick(i, c, k) AS CAST(h(i, c) % k AS INTEGER)")
    words = "[" + ",".join(f"'{w}'" for w in WORDS) + "]"
    langs = "[" + ",".join(f"'{w}'" for w in LANGS) + "]"
    sql = {
        "region": """SELECT CAST(i AS INTEGER) r_regionkey,
            ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] r_name
            FROM range(5) t(i)""",
        "nation": """SELECT CAST(i AS INTEGER) n_nationkey, 'NATION_' || i n_name,
            CAST(i % 5 AS INTEGER) n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') c_name,
            pick(i, 'cn', 25) c_nationkey,
            round(-999.99 + u(i, 'cb') * 10999.98, 2) c_acctbal,
            ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][pick(i, 'cs', 5) + 1] c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') s_name,
            pick(i, 'sn', 25) s_nationkey,
            round(-999.99 + u(i, 'sb') * 10999.98, 2) s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i p_partkey,
            ['blue','old','small','new','red','large','hot','cold'][pick(i, 'pn', 64) // 8 + 1] || ' ' ||
            ['widget','gizmo','ring','gear','bolt','plate','rod','anvil'][pick(i, 'pn', 64) % 8 + 1] p_name,
            'Brand#' || (pick(i, 'pr', 25) + 1) p_brand,
            ['LARGE','ECONOMY','STANDARD','SMALL','MEDIUM','PROMO'][pick(i, 'pt', 6) + 1] p_type,
            pick(i, 'ps', 50) + 1 p_size,
            round(900.0 + (i % 1000) / 10.0, 2) p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i o_orderkey, CAST(h(i, 'oc') % {n['customer']} AS BIGINT) o_custkey,
            ['F','O','P'][pick(i, 'os', 3) + 1] o_orderstatus,
            round(1000.0 + u(i, 'op') * 499000.0, 2) o_totalprice,
            TIMESTAMP '1995-01-01' + to_days(pick(i, 'od', 2404)) o_orderdate,
            ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][pick(i, 'oo', 5) + 1] o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT CAST(h(i, 'lo') % {n['orders']} AS BIGINT) l_orderkey,
            CAST(h(i, 'lp') % {n['part']} AS BIGINT) l_partkey,
            CAST(h(i, 'ls') % {n['supplier']} AS BIGINT) l_suppkey,
            pick(i, 'ln', 7) + 1 l_linenumber,
            CAST(pick(i, 'lq', 50) + 1 AS DOUBLE) l_quantity,
            round(900.0 + u(i, 'le') * 104100.0, 2) l_extendedprice,
            pick(i, 'ld', 11) / 100.0 l_discount,
            pick(i, 'lt', 9) / 100.0 l_tax,
            ['A','N','R'][pick(i, 'lr', 3) + 1] l_returnflag,
            ['F','O'][pick(i, 'll', 2) + 1] l_linestatus,
            TIMESTAMP '1995-01-02' + to_days(pick(i, 'lh', 2498)) l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": f"""SELECT i event_id,
            TIMESTAMP '2024-01-01' + to_microseconds(CAST((i + u(i, 'et')) * 2592000000000.0 / {n['events']} AS BIGINT)) ts,
            CAST(h(i, 'eu') % {users} AS BIGINT) user_id,
            ['click','view','purchase','signup','error'][pick(i, 'ey', 5) + 1] event_type,
            round(-50.0 * ln(1.0 - u(i, 'ev')), 2) "value",
            '{{"k": ' || pick(i, 'ek', 100) || '}}' props
            FROM range({n['events']}) t(i)""",
        # one document in 20 is a copy of a random document plus " dup"
        "documents": f"""WITH d AS (
              SELECT i, CASE WHEN pick(i, 'dd', 20) = 0 THEN pick(i, 'ds', {n['documents']}) ELSE i END src,
                pick(i, 'dd', 20) = 0 AS dup
              FROM range({n['documents']}) t(i)),
            t AS (
              SELECT i, array_to_string(list_transform(range(10 + pick(src, 'dn', 90)),
                j -> {words}[pick(src * 1000 + j, 'dw', {len(WORDS)}) + 1]), ' ')
                || CASE WHEN dup THEN ' dup' ELSE '' END txt
              FROM d)
            SELECT i doc_id, txt AS "text",
              {langs}[pick(i, 'dl', {len(LANGS)}) + 1] lang,
              'src' || (i % 20) source, CAST(length(txt) AS BIGINT) n_chars
            FROM t""",
        # isotropic random unit vectors (normalized Gaussians); labels
        # independent of the vectors
        "embeddings": f"""WITH raw AS (
              SELECT i, list_transform(range(64), d ->
                sqrt(-2.0 * ln(1.0 - u(i * 64 + d, 'ea'))) * cos(2.0 * pi() * u(i * 64 + d, 'eb'))) v
              FROM range({n['embeddings']}) t(i))
            SELECT i vec_id,
              CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y)))) AS FLOAT[]) embedding,
              pick(i, 'el', 10) AS "label"
            FROM raw""",
    }
    for table, q in sql.items():
        dst = os.path.join(out_dir, f"{table}.parquet")
        con.execute(f"COPY ({q} ORDER BY 1) TO '{dst}' (FORMAT PARQUET, ROW_GROUP_SIZE 100000000)")
    con.close()
