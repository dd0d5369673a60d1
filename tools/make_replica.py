"""Key-shifted Nx replica generator for scale sweeps.

Replicates every testdata table N times into an output directory,
FK-consistently: every synthetic key (and the FKs referencing it) in copy
``i`` is shifted by ``i * OFFSET``, so each copy is a disjoint island with
the same per-key statistics — group counts, join fan-outs and window sizes
match the source exactly, which is what makes wall-clock ratios between
the source and the replica a clean read on *data-volume* scaling rather
than on changed key cardinality ratios.

Per-table extras that keep the replicated corpus honest for the
LLM-pipeline queries:
- documents.text is salted per copy (`` #r<i>`` suffix for i>0) so the
  dedup family sees 10x documents, not 10 identical corpora whose
  cross-copy collisions would blow up every candidate join quadratically;
- embeddings.embedding is rolled by ``i`` positions per copy so ANN/LSH
  see new vectors (same norm, same pairwise geometry within a copy);
- region/nation are NOT replicated: they are semantic dimension tables
  (5 regions / 25 nations) and every copy's customers still reference
  them, matching how a real 100 TB fact table shares small dims.

Usage: python tools/make_replica.py <src_sf_dir> <out_dir> <factor>
e.g.   python tools/make_replica.py /root/testdata/sf0.1 /tmp/sf10x100 100
"""

from __future__ import annotations

import os
import sys

import duckdb

OFFSET = 1_000_000_000  # larger than any source key at any test sf

# table -> list of (column, shift-expression template); columns absent
# here are carried through unchanged. {i} is the copy index column.
_COPY_SQL = {
    "region": None,   # shared dims: single copy
    "nation": None,
    "customer": """
        SELECT c_custkey + {i} * {off} AS c_custkey, c_name, c_nationkey,
               c_acctbal, c_mktsegment FROM t CROSS JOIN copies""",
    "supplier": """
        SELECT s_suppkey + {i} * {off} AS s_suppkey, s_name, s_nationkey,
               s_acctbal FROM t CROSS JOIN copies""",
    "part": """
        SELECT p_partkey + {i} * {off} AS p_partkey, p_name, p_brand,
               p_type, p_size, p_retailprice FROM t CROSS JOIN copies""",
    "orders": """
        SELECT o_orderkey + {i} * {off} AS o_orderkey,
               o_custkey + {i} * {off} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM t CROSS JOIN copies""",
    "lineitem": """
        SELECT l_orderkey + {i} * {off} AS l_orderkey,
               l_partkey + {i} * {off} AS l_partkey,
               l_suppkey + {i} * {off} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM t CROSS JOIN copies""",
    "events": """
        SELECT event_id + {i} * {off} AS event_id, ts,
               user_id + {i} * {off} AS user_id,
               event_type, value, props FROM t CROSS JOIN copies""",
    "documents": """
        SELECT doc_id + {i} * {off} AS doc_id,
               CASE WHEN {i} = 0 THEN text
                    ELSE text || ' #r' || {i} END AS text,
               lang, source,
               CASE WHEN {i} = 0 THEN n_chars
                    ELSE n_chars + 3 + length(CAST({i} AS VARCHAR))
               END AS n_chars
        FROM t CROSS JOIN copies""",
    "embeddings": """
        SELECT vec_id + ci * {off} AS vec_id,
               CAST(CASE WHEN roll = 0 THEN embedding
                    ELSE embedding[roll + 1:] || embedding[:roll]
               END AS FLOAT[]) AS embedding,
               label
        FROM (SELECT *, {i} AS ci,
                     CAST({i} % len(embedding) AS INTEGER) AS roll
              FROM t CROSS JOIN copies)""",
}


def make_replica(src: str, out: str, factor: int) -> None:
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")
    for table, tmpl in _COPY_SQL.items():
        src_path = os.path.join(src, f"{table}.parquet")
        out_path = os.path.join(out, f"{table}.parquet")
        if tmpl is None:
            sql = "SELECT * FROM t"
            n_copies = 1
        else:
            sql = tmpl.format(i="copies.i", off=OFFSET)
            n_copies = factor
        con.execute(f"""
            COPY (
              WITH t AS (SELECT * FROM read_parquet('{src_path}')),
                   copies AS (SELECT UNNEST(range({n_copies})) AS i)
              {sql}
            ) TO '{out_path}' (FORMAT PARQUET, COMPRESSION SNAPPY)
        """)
        n = con.execute(
            f"SELECT COUNT(*) FROM read_parquet('{out_path}')").fetchone()[0]
        print(f"{table}: {n} rows -> {out_path}", file=sys.stderr)


if __name__ == "__main__":
    src_dir, out_dir, fac = sys.argv[1], sys.argv[2], int(sys.argv[3])
    make_replica(src_dir, out_dir, fac)
