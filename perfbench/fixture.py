"""Seeded generator for the star-schema, event, document and embedding
tables the registered queries read (`<dir>/<table>.parquet`, one file each).

The shapes are modelled on the sf0.01 fixture the queries were written
against: TPC-H-like uniform keys and value ranges, a 30-word document
vocabulary with 5% near-duplicate copies (source text plus a trailing
" dup"), unit-norm Gaussian 64-d embeddings with ten labels, and a 30-day
event stream whose microsecond timestamps rise with event_id. Row counts
match that fixture, and so do the parquet column types and (within 6%) the
file sizes of the larger tables; per-query result rows and latencies on
both are compared in perfbench/README.md.

Every random draw is a hash of (seed, column tag, row number), so the same
seed gives byte-identical tables regardless of thread count.
"""
import os

import duckdb
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()


def _tables(sf: float, docs: int, vecs: int):
    n_cust = max(10, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(20, int(200000 * sf))
    n_ord = max(100, int(1500000 * sf))
    n_line = max(400, int(6000000 * sf))
    n_ev = max(100, int(1000000 * sf))
    n_users = max(10, int(15000 * sf))
    vocab = "[" + ",".join(f"'{w}'" for w in VOCAB) + "]"

    def u(tag, i="i"):
        # uniform [0, 1) from (seed, tag, row)
        return f"((hash({i}, '{tag}', $seed) % 1000000007) / 1000000007.0)"

    def pick(tag, n, i="i"):
        return f"CAST(floor({u(tag, i)} * {n}) AS BIGINT)"

    return {
        "region": f"""
            SELECT CAST(i AS INTEGER) AS r_regionkey,
                   ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
            FROM range(5) t(i)""",
        "nation": f"""
            SELECT CAST(i AS INTEGER) AS n_nationkey, 'NATION_' || i AS n_name,
                   CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey, printf('Customer#%09d', i) AS c_name,
                   CAST({pick('c_nat', 25)} AS INTEGER) AS c_nationkey,
                   round(-999.99 + {u('c_bal')} * 10999.0, 2) AS c_acctbal,
                   ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
                     [{pick('c_seg', 5)} + 1] AS c_mktsegment
            FROM range({n_cust}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey, printf('Supplier#%09d', i) AS s_name,
                   CAST({pick('s_nat', 25)} AS INTEGER) AS s_nationkey,
                   round(-999.99 + {u('s_bal')} * 10999.0, 2) AS s_acctbal
            FROM range({n_supp}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
                   ['small','red','blue','large','hot','cold','old','green']
                     [{pick('p_adj', 8)} + 1] || ' ' ||
                   ['ring','widget','anvil','bolt','plate','gear','nut','spring']
                     [{pick('p_noun', 8)} + 1] AS p_name,
                   'Brand#' || ({pick('p_brand', 25)} + 1) AS p_brand,
                   ['ECONOMY','LARGE','MEDIUM','PROMO','SMALL','STANDARD']
                     [{pick('p_type', 6)} + 1] AS p_type,
                   CAST({pick('p_size', 50)} + 1 AS INTEGER) AS p_size,
                   round(900.0 + (i % 1000) * 0.1, 1) AS p_retailprice
            FROM range({n_part}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey, {pick('o_cust', n_cust)} AS o_custkey,
                   ['F','O','P'][{pick('o_st', 3)} + 1] AS o_orderstatus,
                   round(1000.0 + {u('o_tp')} * 499000.0, 2) AS o_totalprice,
                   TIMESTAMP '1995-01-01' + to_days(CAST({pick('o_dt', 2400)} AS INTEGER))
                     AS o_orderdate,
                   ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']
                     [{pick('o_pr', 5)} + 1] AS o_orderpriority
            FROM range({n_ord}) t(i)""",
        "lineitem": f"""
            SELECT {pick('l_ord', n_ord)} AS l_orderkey,
                   {pick('l_part', n_part)} AS l_partkey,
                   {pick('l_supp', n_supp)} AS l_suppkey,
                   CAST({pick('l_ln', 7)} + 1 AS INTEGER) AS l_linenumber,
                   CAST({pick('l_qty', 50)} + 1 AS DOUBLE) AS l_quantity,
                   round(900.0 + {u('l_ep')} * 104100.0, 2) AS l_extendedprice,
                   {pick('l_disc', 11)} / 100.0 AS l_discount,
                   {pick('l_tax', 9)} / 100.0 AS l_tax,
                   ['A','N','R'][{pick('l_rf', 3)} + 1] AS l_returnflag,
                   ['F','O'][{pick('l_ls', 2)} + 1] AS l_linestatus,
                   TIMESTAMP '1995-01-02' + to_days(CAST({pick('l_sd', 2500)} AS INTEGER))
                     AS l_shipdate
            FROM range({n_line}) t(i)""",
        "events": f"""
            SELECT i AS event_id,
                   TIMESTAMP '2024-01-01' + to_microseconds(CAST(
                     floor((i + {u('e_ts')}) * (30.0 * 86400e6 / {n_ev})) AS BIGINT)) AS ts,
                   {pick('e_user', n_users)} AS user_id,
                   ['click','error','purchase','signup','view'][{pick('e_type', 5)} + 1]
                     AS event_type,
                   round(-50.0 * ln(1.0 - {u('e_val')} * 0.99999), 2) AS value,
                   '{{"k": ' || {pick('e_k', 100)} || '}}' AS props
            FROM range({n_ev}) t(i)""",
        "documents": f"""
            WITH base AS (
              SELECT i AS doc_id,
                     array_to_string(list_transform(
                       range(10 + {pick('d_len', 91)}),
                       j -> {vocab}[1 + CAST(floor(((hash(i, j, 'd_w', $seed) % 1000003)
                                                    / 1000003.0) * 30) AS BIGINT)]), ' ') AS text,
                     ['de','en','en','en','es','fr','zh'][{pick('d_lang', 7)} + 1] AS lang,
                     'src' || (i % 20) AS source
              FROM range({docs}) t(i)),
            dup AS (
              -- 5% near-duplicates: another document's text plus " dup"
              SELECT b.doc_id, CASE WHEN {u('d_dup', 'b.doc_id')} < 0.05
                                    THEN o.text || ' dup' ELSE b.text END AS text,
                     b.lang, b.source
              FROM base b JOIN base o
                ON o.doc_id = {pick('d_src', docs, 'b.doc_id')})
            SELECT doc_id, text, lang, source, CAST(length(text) AS BIGINT) AS n_chars
            FROM dup ORDER BY doc_id""",
        "embeddings": f"""
            WITH g AS (
              SELECT i AS vec_id, list_transform(range(64), j ->
                       sqrt(-2.0 * ln(1.0 - ((hash(i, j, 'v_a', $seed) % 1000003) / 1000003.0)))
                       * cos(2 * pi() * ((hash(i, j, 'v_b', $seed) % 1000003) / 1000003.0)))
                       AS v,
                     CAST({pick('v_lab', 10)} AS INTEGER) AS label
              FROM range({vecs}) t(i))
            SELECT vec_id,
                   CAST(list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y * y))))
                        AS FLOAT[]) AS embedding,
                   label
            FROM g ORDER BY vec_id""",
    }


TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def generate(out_dir: str, seed: int, sf: float, docs: int = 500, vecs: int = 500) -> int:
    """Write every table to `<out_dir>/<name>.parquet`; return the total row count."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads = 1")
    rows = 0
    for name, sql in _tables(sf, docs, vecs).items():
        tbl = con.execute(sql.replace("$seed", str(int(seed)))).arrow()
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows += tbl.num_rows
    con.close()
    return rows
