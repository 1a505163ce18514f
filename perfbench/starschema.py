"""Inputs for the query roster: the star schema plus the events,
documents and embeddings tables that ``plans.queries`` reads, generated
in DuckDB from the seed and written as one parquet file per table.

The shapes follow the roster's own test data at its smallest scale
(150 customers, 1,500 orders, 6,000 line items, 1,000 events, 500
documents, 500 unit-length 64-d embeddings in 10 label clusters), so
every leaf has the columns, value domains and key relations it expects.
The benchmark owns this generator, so its inputs do not change with the
engine's code.
"""

from __future__ import annotations

import os

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]


def _u(seed: int, salt: int, *cols: str) -> str:
    """A uniform in [0, 1) from a hash of ``cols``, the seed and a salt."""
    return f"((hash({', '.join(cols)}, {seed}, {salt}) % 1000000) / 1e6)"


def _pick(xs: list[str], u: str) -> str:
    arr = ", ".join(f"'{x}'" for x in xs)
    return f"[{arr}][cast(floor({u} * {len(xs)}) as bigint) + 1]"


def generate(con, out_dir: str, seed: int) -> dict[str, str]:
    """Create the ten tables in ``con`` and write each to
    ``out_dir/<name>.parquet``; return name -> path."""
    s = seed
    n_cust, n_ord, n_li = 150, 1500, 6000
    n_ev, n_doc, n_emb, n_part, n_supp = 1000, 500, 500, 200, 10
    adjs = ["small", "large", "blue", "red", "cold", "hot", "old", "new"]
    nouns = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo"]
    sql = {
        "region": """
            select cast(range as integer) r_regionkey,
                   ['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'][range + 1] r_name
            from range(5)""",
        "nation": """
            select cast(range as integer) n_nationkey, 'NATION_' || range n_name,
                   cast(range % 5 as integer) n_regionkey
            from range(25)""",
        "customer": f"""
            select range c_custkey, format('Customer#{{:09d}}', range) c_name,
                   cast(floor({_u(s, 1, 'range')} * 25) as integer) c_nationkey,
                   round(-999.99 + {_u(s, 2, 'range')} * 10999.98, 2) c_acctbal,
                   {_pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'],
                          _u(s, 3, 'range'))} c_mktsegment
            from range({n_cust})""",
        "supplier": f"""
            select range s_suppkey, format('Supplier#{{:09d}}', range) s_name,
                   cast(floor({_u(s, 4, 'range')} * 25) as integer) s_nationkey,
                   round(-999.99 + {_u(s, 5, 'range')} * 10999.98, 2) s_acctbal
            from range({n_supp})""",
        "part": f"""
            select range p_partkey,
                   {_pick(adjs, _u(s, 6, 'range'))} || ' ' || {_pick(nouns, _u(s, 7, 'range'))} p_name,
                   'Brand#' || (1 + cast(floor({_u(s, 8, 'range')} * 25) as bigint)) p_brand,
                   {_pick(['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO', 'SMALL', 'STANDARD'],
                          _u(s, 9, 'range'))} p_type,
                   cast(1 + floor({_u(s, 10, 'range')} * 50) as integer) p_size,
                   cast(round(900 + (range % 200) * 0.1, 2) as double) p_retailprice
            from range({n_part})""",
        "orders": f"""
            select range o_orderkey,
                   cast(floor({_u(s, 11, 'range')} * {n_cust}) as bigint) o_custkey,
                   {_pick(['F', 'O', 'P'], _u(s, 12, 'range'))} o_orderstatus,
                   round(1000 + {_u(s, 13, 'range')} * 499000, 2) o_totalprice,
                   timestamp '1995-01-01' + to_days(cast(floor({_u(s, 14, 'range')} * 2404) as integer))
                       o_orderdate,
                   {_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'],
                          _u(s, 15, 'range'))} o_orderpriority
            from range({n_ord})""",
        "lineitem": f"""
            select cast(floor({_u(s, 16, 'range')} * {n_ord}) as bigint) l_orderkey,
                   cast(floor({_u(s, 17, 'range')} * {n_part}) as bigint) l_partkey,
                   cast(floor({_u(s, 18, 'range')} * {n_supp}) as bigint) l_suppkey,
                   cast(1 + floor({_u(s, 19, 'range')} * 7) as integer) l_linenumber,
                   cast(1 + floor({_u(s, 20, 'range')} * 50) as double) l_quantity,
                   round(900 + {_u(s, 21, 'range')} * 104100, 2) l_extendedprice,
                   floor({_u(s, 22, 'range')} * 11) / 100 l_discount,
                   floor({_u(s, 23, 'range')} * 9) / 100 l_tax,
                   {_pick(['A', 'N', 'R'], _u(s, 24, 'range'))} l_returnflag,
                   {_pick(['F', 'O'], _u(s, 25, 'range'))} l_linestatus,
                   timestamp '1995-01-02' + to_days(cast(floor({_u(s, 26, 'range')} * 2498) as integer))
                       l_shipdate
            from range({n_li})""",
        # event ids in time order, timestamps distinct (microsecond offsets)
        "events": f"""
            select row_number() over (order by t, range) - 1 event_id, t ts,
                   cast(floor({_u(s, 27, 'range')} * 15) as bigint) user_id,
                   {_pick(['click', 'error', 'purchase', 'signup', 'view'], _u(s, 28, 'range'))}
                       event_type,
                   round(0.01 + {_u(s, 29, 'range')} * 330, 2) as "value",
                   '{{"k": ' || cast(floor({_u(s, 30, 'range')} * 100) as bigint) || '}}' props
            from (select range,
                         timestamp '2024-01-01' + to_microseconds(
                             cast(floor({_u(s, 31, 'range')} * 2592000) as bigint) * 1000000
                             + range) t
                  from range({n_ev}))""",
        "documents": f"""
            select doc_id, text,
                   {_pick(['en', 'en', 'de', 'es', 'fr', 'zh'], _u(s, 32, 'doc_id'))} as lang,
                   'src' || (doc_id % 20) as source, cast(length(text) as bigint) n_chars
            from (select d.range doc_id,
                         string_agg({_pick(WORDS, _u(s, 33, 'd.range', 'w.range'))}, ' '
                                    order by w.range) as text
                  from range({n_doc}) d, range(100) w
                  where w.range < 8 + floor({_u(s, 34, 'd.range')} * 92)
                  group by d.range)""",
        # unit vectors: a label centroid plus noise, normalised
        "embeddings": f"""
            select vec_id, list_transform(v, x -> cast(x / sqrt(list_sum(
                       list_transform(v, y -> y * y))) as float)) as embedding, label
            from (select e.range vec_id, cast(e.range % 10 as integer) as label,
                         list(({_u(s, 35, 'e.range % 10', 'k.range')} - 0.5)
                              + 0.6 * ({_u(s, 36, 'e.range', 'k.range')} - 0.5)
                              order by k.range) as v
                  from range({n_emb}) e, range(64) k
                  group by e.range)""",
    }
    paths = {}
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        con.execute(f"create or replace table {name} as {sql[name]}")
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"copy {name} to '{path}' (format parquet)")
        paths[name] = path
    return paths
