"""Seeded synthetic tables for the benchmark's `analytics` and `streaming`
workloads.

The tables have the schema, value domains and row counts of the repo's
test tables (TPC-H-like star schema plus `events`, `documents` and
`embeddings`), scaled by `sf`. Every value is a pure function of
(seed, table, row, column) through DuckDB's `hash`, so one seed always
gives byte-identical parquet files and another seed gives other data.
"""
import os

import duckdb

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _lst(xs):
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


def generate(out_dir, seed, sf):
    """Write one parquet file per table under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    n = {
        "customer": int(150000 * sf), "supplier": int(10000 * sf),
        "part": int(200000 * sf), "orders": int(1500000 * sf),
        "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
        "users": max(1, int(15000 * sf)),
        "documents": max(500, int(50000 * sf)),
        "embeddings": max(500, int(20000 * sf)),
    }
    con = duckdb.connect()
    con.execute("SET threads = 2")
    # u(i, 'col'): uniform double in [0, 1) keyed by seed, row and column
    con.execute(f"CREATE MACRO u(i, c) AS "
                f"hash(i, {int(seed)}, c) / 18446744073709551616.0")
    con.execute("CREATE MACRO pick(xs, i, c) AS "
                "xs[1 + floor(u(i, c) * len(xs))::INT]")
    con.execute("CREATE MACRO day(i, c, lo, span) AS "
                "(DATE '1995-01-01' + lo + floor(u(i, c) * span)::INT)::TIMESTAMP")
    con.execute("CREATE MACRO money(i, c, lo, hi) AS "
                "round(lo + u(i, c) * (hi - lo), 2)")
    sel = {
        "region": """
            SELECT i::INT AS r_regionkey,
                   ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][i + 1]
                     AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name,
                   (i % 5)::INT AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                   floor(u(i, 'cn') * 25)::INT AS c_nationkey,
                   money(i, 'cb', -999.99, 9999.99) AS c_acctbal,
                   pick({_lst(SEGMENTS)}, i, 'cs') AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                   floor(u(i, 'sn') * 25)::INT AS s_nationkey,
                   money(i, 'sb', -999.99, 9999.99) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   pick({_lst(ADJ)}, i, 'pa') || ' ' || pick({_lst(NOUNS)}, i, 'pn')
                     AS p_name,
                   'Brand#' || (1 + floor(u(i, 'pb') * 25)::INT) AS p_brand,
                   pick({_lst(PTYPES)}, i, 'pt') AS p_type,
                   (1 + floor(u(i, 'ps') * 50))::INT AS p_size,
                   round(900 + (i % 1000) / 10, 1)::DOUBLE AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey,
                   floor(u(i, 'oc') * {n['customer']})::BIGINT AS o_custkey,
                   pick(['F', 'O', 'P'], i, 'os') AS o_orderstatus,
                   money(i, 'ot', 1000, 500000) AS o_totalprice,
                   day(i, 'od', 0, 2404) AS o_orderdate,
                   pick({_lst(PRIORITIES)}, i, 'op') AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""
            SELECT floor(u(i, 'lo') * {n['orders']})::BIGINT AS l_orderkey,
                   floor(u(i, 'lp') * {n['part']})::BIGINT AS l_partkey,
                   floor(u(i, 'ls') * {n['supplier']})::BIGINT AS l_suppkey,
                   (1 + floor(u(i, 'll') * 7))::INT AS l_linenumber,
                   (1 + floor(u(i, 'lq') * 50))::DOUBLE AS l_quantity,
                   money(i, 'le', 900, 105000) AS l_extendedprice,
                   floor(u(i, 'ld') * 11) / 100.0 AS l_discount,
                   floor(u(i, 'lt') * 9) / 100.0 AS l_tax,
                   pick(['A', 'N', 'R'], i, 'lr') AS l_returnflag,
                   pick(['F', 'O'], i, 'lst') AS l_linestatus,
                   day(i, 'lsd', 1, 2499) AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        # ts is a strictly increasing walk over January 2024 in event_id order
        "events": f"""
            SELECT i AS event_id,
                   TIMESTAMP '2024-01-01 00:00:00' + to_microseconds(
                     (sum(1 + floor(u(i, 'eg') * 2 * 2592000000000 / {n['events']}))
                       OVER (ORDER BY i))::BIGINT) AS ts,
                   floor(u(i, 'eu') * {n['users']})::BIGINT AS user_id,
                   pick({_lst(EVENT_TYPES)}, i, 'et') AS event_type,
                   greatest(0.01, round(-50 * ln(1 - u(i, 'ev')), 2)) AS value,
                   '{{"k": ' || floor(u(i, 'ek') * 100)::INT || '}}' AS props
            FROM range({n['events']}) t(i)""",
        # ~0.3% of documents repeat an earlier document's text (dedup input)
        "documents": f"""
            WITH w AS (
              SELECT d, string_agg(pick({_lst(WORDS)}, d * 1000 + j, 'dw'), ' '
                                   ORDER BY j) AS text
              FROM range({n['documents']}) t(d),
                   range(100) s(j)
              WHERE j < 10 + floor(u(d, 'dl') * 91)
              GROUP BY d)
            SELECT d AS doc_id,
                   CASE WHEN u(d, 'dd') < 0.003 AND d > 0
                     THEN (SELECT text FROM w w2
                           WHERE w2.d = floor(u(w.d, 'dk') * w.d)::BIGINT)
                     ELSE text END AS text,
                   pick({_lst(LANGS)}, d, 'dg') AS lang,
                   'src' || (d % 20) AS source
            FROM w""",
        "embeddings": f"""
            WITH r AS (
              SELECT v, list((u(v * 64 + j, 'x') - 0.5) ORDER BY j) AS x
              FROM range({n['embeddings']}) t(v), range(64) s(j)
              GROUP BY v)
            SELECT v AS vec_id,
                   list_transform(x, e -> (e / sqrt(list_sum(
                     list_transform(x, y -> y * y))))::FLOAT) AS embedding,
                   floor(u(v, 'lab') * 10)::INT AS label
            FROM r""",
    }
    for t in TABLES:
        q = sel[t]
        if t == "documents":
            q = f"SELECT *, length(text)::BIGINT AS n_chars FROM ({q})"
        # range() scans keep row order; re-sort only what a window or
        # aggregate reordered
        key = {"events": "event_id", "documents": "doc_id",
               "embeddings": "vec_id"}.get(t)
        order = f" ORDER BY {key}" if key else ""
        con.execute(f"COPY ({q}{order}) TO '{out_dir}/{t}.parquet' "
                    "(FORMAT parquet)")
    con.close()
