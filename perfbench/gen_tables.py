"""Seeded generator for the batch tables the queries read, and the x10
replicator for the batch_x10 workload.

The tables follow the schemas and value domains of graft's test tables
(FIXTURES.md section B): a TPC-H-like star (region .. lineitem), an
`events` table, a `documents` corpus with ~5% near-duplicates, and unit
`embeddings`. Every value is a pure function of (seed, table, row, column)
through DuckDB's `hash`, so one seed always yields the same rows, and
DuckDB runs single-threaded so the parquet bytes repeat too.

    python3 perfbench/gen_tables.py <out_dir> <seed> <sf>
    python3 perfbench/gen_tables.py --x10 <src_dir> <out_dir>
"""
import os
import sys

import duckdb

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()

def connect():
    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute("SET preserve_insertion_order=true")
    return con


def sizes(sf):
    """Row counts per table at scale factor `sf` (sf0.01 = 60k lineitem)."""
    small = sf <= 0.01
    return {
        "customer": int(150000 * sf), "supplier": int(10000 * sf),
        "part": int(200000 * sf), "orders": int(1500000 * sf),
        "lineitem": int(6000000 * sf), "events": int(1000000 * sf),
        "users": int(15000 * sf),
        "documents": 500 if small else int(50000 * sf),
        "embeddings": 500 if small else int(20000 * sf),
    }


def generate(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)
    con = connect()
    # u(i, salt): uniform in [0, 1) from the top 53 bits of a seeded hash
    con.execute(f"CREATE MACRO u(i, salt) AS "
                f"(hash(i, salt, {int(seed)}) >> 11)::DOUBLE / 9007199254740992.0")
    con.execute("CREATE MACRO pick(i, salt, k) AS floor(u(i, salt) * k)::BIGINT")
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    tables = {
        "region": """SELECT i::INTEGER AS r_regionkey,
                ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": """SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
                (i % 5)::INTEGER AS n_regionkey FROM range(25) t(i)""",
        "customer": f"""SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                pick(i, 'c_nat', 25)::INTEGER AS c_nationkey,
                round(-999.99 + u(i, 'c_bal') * 10999.98, 2) AS c_acctbal,
                ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'][pick(i, 'c_seg', 5) + 1] AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                pick(i, 's_nat', 25)::INTEGER AS s_nationkey,
                round(-999.99 + u(i, 's_bal') * 10999.98, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""SELECT i AS p_partkey,
                ['small','red','blue','hot','old','large','new','cold'][pick(i, 'p_adj', 8) + 1] || ' ' ||
                ['ring','widget','bolt','gear','gizmo','plate','anvil','spring'][pick(i, 'p_noun', 8) + 1] AS p_name,
                'Brand#' || (1 + pick(i, 'p_brand', 25)) AS p_brand,
                ['ECONOMY','STANDARD','LARGE','SMALL','MEDIUM','PROMO'][pick(i, 'p_type', 6) + 1] AS p_type,
                (1 + pick(i, 'p_size', 50))::INTEGER AS p_size,
                round(900 + (i % 1000) / 10.0, 1) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""SELECT i AS o_orderkey, pick(i, 'o_cust', {n['customer']}) AS o_custkey,
                ['F','O','P'][pick(i, 'o_st', 3) + 1] AS o_orderstatus,
                round(1000 + u(i, 'o_tot') * 499000, 2) AS o_totalprice,
                TIMESTAMP '1995-01-01' + to_days(pick(i, 'o_date', 2404)::INTEGER) AS o_orderdate,
                ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW'][pick(i, 'o_pri', 5) + 1] AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""SELECT pick(i, 'l_ord', {n['orders']}) AS l_orderkey,
                pick(i, 'l_part', {n['part']}) AS l_partkey,
                pick(i, 'l_supp', {n['supplier']}) AS l_suppkey,
                (1 + pick(i, 'l_line', 7))::INTEGER AS l_linenumber,
                (1 + pick(i, 'l_qty', 50))::DOUBLE AS l_quantity,
                round(900 + u(i, 'l_price') * 104100, 2) AS l_extendedprice,
                pick(i, 'l_disc', 11) / 100.0 AS l_discount,
                pick(i, 'l_tax', 9) / 100.0 AS l_tax,
                ['A','N','R'][pick(i, 'l_rf', 3) + 1] AS l_returnflag,
                ['F','O'][pick(i, 'l_ls', 2) + 1] AS l_linestatus,
                TIMESTAMP '1995-01-02' + to_days(pick(i, 'l_ship', 2498)::INTEGER) AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": f"""SELECT (row_number() OVER (ORDER BY pick(i, 'e_ts', 2592000000000), i) - 1)::BIGINT AS event_id,
                TIMESTAMP '2024-01-01' + to_microseconds(pick(i, 'e_ts', 2592000000000)) AS ts,
                pick(i, 'e_user', {n['users']}) AS user_id,
                ['click','signup','error','view','purchase'][pick(i, 'e_type', 5) + 1] AS event_type,
                greatest(0.01, round(-50 * ln(1 - u(i, 'e_val')), 2)) AS value,
                '{{"k": ' || pick(i, 'e_k', 100) || '}}' AS props
            FROM range({n['events']}) t(i) ORDER BY event_id""",
        "embeddings": f"""WITH g AS (
                SELECT i, list_transform(range(64), j ->
                    sqrt(-2 * ln(1 - u(i * 64 + j, 'v_r'))) *
                    cos(2 * pi() * u(i * 64 + j, 'v_t'))) AS v
                FROM range({n['embeddings']}) t(i))
            SELECT i AS vec_id,
                list_transform(v, x -> (x / sqrt(list_sum(list_transform(v, y -> y * y))))::FLOAT) AS embedding,
                pick(i, 'v_label', 10)::INTEGER AS label
            FROM g ORDER BY i""",
    }
    # ~5% of the documents repeat another document's text plus " dup",
    # the near-duplicate shape the dedup queries look for
    nd = n["documents"]
    tables["documents"] = f"""WITH base AS (
            SELECT i, array_to_string(list_transform(range(10 + pick(i, 'd_len', 90)),
                j -> {vocab}[1 + pick(i * 100 + j, 'd_tok', {len(VOCAB)})]), ' ') AS text
            FROM range({nd}) t(i)),
        docs AS (
            SELECT b.i, CASE WHEN u(b.i, 'd_dup') < 0.05 THEN o.text || ' dup' ELSE b.text END AS text
            FROM base b JOIN base o ON o.i = pick(b.i, 'd_of', {nd}))
        SELECT i AS doc_id, text,
            ['en','en','en','zh','de','es','fr'][pick(i, 'd_lang', 7) + 1] AS lang,
            'src' || (i % 20) AS source, length(text)::BIGINT AS n_chars
        FROM docs ORDER BY i"""
    for name, sql in tables.items():
        write(con, sql, os.path.join(out_dir, f"{name}.parquet"))
    con.close()


def write(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET, COMPRESSION SNAPPY)")


def replicate_x10(src_dir, out_dir):
    """Copy `src_dir` to `out_dir` with lineitem, orders and events repeated
    ten times, each copy's keys offset by the copy index times the key
    range, so keys stay unique and joins keep their fan-out. documents and
    embeddings are copied unchanged. Checks the row counts grew exactly x10
    and the replicated keys are unique."""
    os.makedirs(out_dir, exist_ok=True)
    con = connect()

    def src(t):
        return f"read_parquet('{os.path.join(src_dir, t + '.parquet')}')"

    n_orders = con.execute(f"SELECT max(o_orderkey) + 1 FROM {src('orders')}").fetchone()[0]
    n_events = con.execute(f"SELECT max(event_id) + 1 FROM {src('events')}").fetchone()[0]
    copies = "range(10) c(k)"
    sql = {
        "orders": f"SELECT * REPLACE (o_orderkey + k * {n_orders} AS o_orderkey) "
                  f"FROM {src('orders')}, {copies} ORDER BY k, o_orderkey",
        "lineitem": f"SELECT * REPLACE (l_orderkey + k * {n_orders} AS l_orderkey) "
                    f"FROM {src('lineitem')}, {copies} ORDER BY k",
        "events": f"SELECT * REPLACE (event_id + k * {n_events} AS event_id) "
                  f"FROM {src('events')}, {copies} ORDER BY k, event_id",
    }
    for f in sorted(os.listdir(src_dir)):
        name = f[:-len(".parquet")]
        if name in sql:
            write(con, sql[name], os.path.join(out_dir, f))
        elif f.endswith(".parquet"):
            write(con, f"SELECT * FROM {src(name)}", os.path.join(out_dir, f))
    for t, key in (("orders", "o_orderkey"), ("events", "event_id"),
                   ("lineitem", None)):
        before = con.execute(f"SELECT count(*) FROM {src(t)}").fetchone()[0]
        out = f"read_parquet('{os.path.join(out_dir, t + '.parquet')}')"
        after = con.execute(f"SELECT count(*) FROM {out}").fetchone()[0]
        if after != 10 * before:
            raise SystemExit(f"x10 replication of {t}: {before} -> {after} rows")
        if key:
            distinct = con.execute(f"SELECT count(DISTINCT {key}) FROM {out}").fetchone()[0]
            if distinct != after:
                raise SystemExit(f"x10 replication of {t}: {key} not unique")
    con.close()


if __name__ == "__main__":
    if sys.argv[1:2] == ["--x10"]:
        replicate_x10(sys.argv[2], sys.argv[3])
    else:
        generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
