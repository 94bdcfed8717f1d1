"""Output checks, all run outside the timed operations.

- Registry queries: the Spark result against the query's ``oracle_sql()``
  in DuckDB over the same generated inputs, with the comparison of
  ``tools/check_oracle.py`` (row count, column names, exact values).
- JDBC round trip: row count and column checksums of the table read back
  from Derby against the same pipeline written in DuckDB SQL over the
  rows that seeded Derby.
- Incremental extend: the final labels against a one-shot
  ``build_dedup_index`` over the whole corpus.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PRIORITY_FROM = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PRIORITY_TO = ["URGENT", "HIGH", "MEDIUM", "NONE", "LOW"]

_oracle_tool = None


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """``tools/check_oracle.py``'s comparison."""
    global _oracle_tool
    if _oracle_tool is None:
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py"))
        _oracle_tool = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(_oracle_tool)
    return _oracle_tool.compare(name, got, want)


def duck_views(inputs: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{inputs}/{t}.parquet/*.parquet')"
        )
    return con


def write_parquet(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


# ------------------------------------------------------------ JDBC export
_CHECKSUMS = {
    "n": "COUNT(*)",
    "rowid_sum": "SUM(l_rowid)",
    "price_sum": "SUM(CAST(price AS DECIMAL(38,2)))",
    "total_nonnull": "COUNT(o_totalprice)",
    "total_locf_sum": "SUM(CAST(total_locf AS DECIMAL(38,2)))",
    "total_locf_nonnull": "COUNT(total_locf)",
    "brands": "COUNT(DISTINCT p_brand)",
    "priority_len": "SUM(LENGTH(priority))",
    "priority_nonnull": "COUNT(priority)",
    "segments_nonnull": "COUNT(c_mktsegment)",
    "nation_sum": "SUM(c_nationkey)",
    "custkey_sum": "SUM(o_custkey)",
    "returned": "SUM(CASE WHEN is_returned = 'TRUE' THEN 1 ELSE 0 END)",
}


def _checksum_select(table: str) -> str:
    return "SELECT " + ", ".join(f"{v} AS {k}" for k, v in _CHECKSUMS.items()) + f" FROM {table}"


def enriched_checksums_duckdb(src: str) -> dict:
    """The enrich step (three lookups, recode, factorise, rename,
    na_locf_plus_one) in DuckDB over the rows that seeded Derby."""
    cases = " ".join(f"WHEN '{a}' THEN '{b}'" for a, b in zip(PRIORITY_FROM, PRIORITY_TO))
    win = ("(PARTITION BY p_brand ORDER BY l_rowid "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)")
    sql = f"""
    WITH e AS (
      SELECT l.*, p.p_brand, p.p_type, o.o_custkey, o.o_totalprice,
             o.o_orderpriority, c.c_mktsegment, c.c_nationkey
      FROM read_parquet('{src}/lineitem.parquet') l
      JOIN read_parquet('{src}/part.parquet') p ON l.l_partkey = p.p_partkey
      LEFT JOIN read_parquet('{src}/orders.parquet') o ON l.l_orderkey = o.o_orderkey
      LEFT JOIN read_parquet('{src}/customer.parquet') c ON o.o_custkey = c.c_custkey
    ), w AS (
      SELECT *,
        LAST_VALUE(o_totalprice IGNORE NULLS) OVER {win} AS locf,
        SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) OVER {win} AS ix
      FROM e
    ), a AS (
      SELECT *,
        MAX(ix * CASE WHEN o_totalprice IS NULL THEN 0 ELSE 1 END) OVER {win} AS anchor
      FROM w
    ), enriched AS (
      SELECT l_rowid, l_extendedprice AS price, o_totalprice, o_custkey, p_brand,
             CASE o_orderpriority {cases} END AS priority,
             c_mktsegment, c_nationkey,
             CASE WHEN l_returnflag = 'R' THEN 'TRUE' ELSE 'FALSE' END AS is_returned,
             locf + ix - COALESCE(anchor, 0) AS total_locf
      FROM a
    )
    {_checksum_select('enriched')}
    """
    con = duckdb.connect()
    try:
        row = con.execute(sql).fetchone()
    finally:
        con.close()
    return dict(zip(_CHECKSUMS, row))


def enriched_checksums_spark(df) -> dict:
    df.createOrReplaceTempView("perfbench_enriched")
    row = df.sparkSession.sql(_checksum_select("perfbench_enriched")).first()
    return dict(zip(_CHECKSUMS, row))


def compare_checksums(got: dict, want: dict) -> list[str]:
    return [
        f"export checksum {k}: derby={got.get(k)!r} expected={want[k]!r}"
        for k in want
        if got.get(k) != want[k]
    ]


# ------------------------------------------------------- dedup index labels
def sorted_labels(pdf: pd.DataFrame) -> pd.DataFrame:
    return (pdf[["doc_id", "cluster_id"]].astype("int64")
            .sort_values("doc_id").reset_index(drop=True))


def compare_labels(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if len(got) != len(want):
        return [f"labels: {len(got)} rows, one-shot build has {len(want)}"]
    bad = (got.to_numpy() != want.to_numpy()).any(axis=1)
    if bad.any():
        i = int(bad.argmax())
        return [f"labels: {int(bad.sum())}/{len(got)} differ from the one-shot build; "
                f"first doc_id={got.iloc[i, 0]} got cluster {got.iloc[i, 1]}, "
                f"want {want.iloc[i, 1]}"]
    return []
