"""The four benchmark workloads.

Every workload drives the engine only through its public functions and
wraps each call in a span (``spans.Tracer``). A workload has three
parts: ``setup`` (repeated while setup time is measured), ``expect``
(reference results, computed once and never timed) and ``run_pass``
(one pass, a list of operations run one at a time). ``run_pass``
returns the errors it found, each prefixed with its operation's name.
The first untimed warm pass of a run has ``warm=True``: query suites
collect their results there and compare them with the oracle, and run
them into the noop sink in every other pass. The JDBC and dedup-index
workloads check their outputs after every pass. Checks always run
outside the operations.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

import checks
import datagen
import metrics

DERBY = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
# in-memory: the JDBC layer does the same work, and Derby's durable
# commits (an fsync per batch) stay out of the numbers
DERBY_URL = "jdbc:derby:memory:perfbench;create=true"
DERBY_FRAC = 0.1  # share of lineitem and orders rows seeded into Derby
EXTEND_BATCHES = 2

RELATIONAL_QUERIES = (
    "q1_pricing_summary", "q5_nation_revenue", "window_topk_per_customer",
    "range_join_purchase_window",
)
CURATION_QUERIES = (
    "dedup_exact", "ann_cosine_topk", "text_stats", "quality_filter_flags",
    "multimodal_features",
)


class Context:
    """What a workload sees: the session, its inputs and a scratch dir."""

    def __init__(self, spark, work_dir: str, inputs: str, seed: int,
                 content: dict[str, pd.DataFrame], cores: int):
        self.spark = spark
        self.work_dir = work_dir
        self.inputs = inputs
        self.seed = seed
        self.content = content
        self.cores = cores
        self.sizes = {k: len(v) for k, v in content.items()}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)


class Workload:
    name = ""
    # untimed passes before timing; the first also checks the outputs
    warm_passes = 1

    def setup(self, ctx: Context) -> None:
        """Workload-specific set-up after the inputs are written."""

    def expect(self, ctx: Context) -> None:
        """Compute the reference results once (untimed)."""

    def run_pass(self, ctx: Context, tr, label: str, warm: bool) -> list[str]:
        raise NotImplementedError

    def op_count(self) -> int:
        raise NotImplementedError

    def extra_metrics(self, ctx: Context, passes: list[dict]) -> dict:
        """Workload-specific numbers for the summary line."""
        return {}


def _guarded(tr, name: str, errors: list[str], fn):
    """Run one operation; an exception is a failed operation."""
    try:
        with tr.op(name):
            return fn()
    except Exception as exc:  # noqa: BLE001 - counted, reported, not fatal
        errors.append(f"{name}: {type(exc).__name__}: {str(exc).splitlines()[0][:300]}")
        return None


# --------------------------------------------------------------- queries
class QuerySuite(Workload):
    """A fixed list of registry queries, each planned and executed into
    the noop sink; the check pass collects them and compares with their
    DuckDB oracle."""

    def __init__(self, name: str, queries: tuple[str, ...]):
        self.name, self.queries = name, queries
        self._oracle: dict[str, pd.DataFrame] = {}

    def op_count(self) -> int:
        return len(self.queries)

    def expect(self, ctx: Context) -> None:
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        con = checks.duck_views(ctx.inputs)
        for q in self.queries:
            self._oracle[q] = con.execute(oracles[q]).df()
        con.close()

    def run_pass(self, ctx: Context, tr, label: str, warm: bool) -> list[str]:
        import __spark_entry__ as entry

        registry = entry.queries()
        errors: list[str] = []
        tr.begin_pass(label)
        for q in self.queries:
            fn = registry[q]
            module = fn.__module__.rsplit(".", 1)[-1]

            def one(fn=fn, module=module):
                df = tr.call(f"{module}.build", fn, ctx.spark, ctx.inputs)
                if not warm:
                    tr.run_frame(df, module)
                    return None
                with tr.span(f"{module}.exec", "exec"):
                    return df.toPandas()

            got = _guarded(tr, q, errors, one)
            if warm and got is not None:
                errors += [f"{q}: {e}" for e in checks.compare(q, got, self._oracle[q])]
        return errors


# ------------------------------------------------------------------ JDBC
class JdbcRoundtrip(Workload):
    """read.jdbc.ffdf -> matchmerge -> write.jdbc.ffdf on embedded Derby:
    lineitem and orders in, lookups against part, orders and customer,
    the enriched lineitem frame out."""

    name = "etl_jdbc_roundtrip"

    def op_count(self) -> int:
        return 4

    def setup(self, ctx: Context) -> None:
        from etlutils_spark.sources.files import read_table
        from etlutils_spark.sources.sql import write_sql

        rows = datagen.derby_rows(ctx.seed, ctx.sizes, DERBY_FRAC)
        src = ctx.path("derby_src")
        os.makedirs(src, exist_ok=True)
        for t in ("lineitem", "orders", "part", "customer"):
            df = ctx.content[t]
            if t in rows:
                df = df.iloc[rows[t]]
            if t == "lineitem":
                # a unique row id gives na_locf_plus_one a total order
                df = df.assign(l_rowid=np.asarray(rows[t], dtype=np.int64))
            checks.write_parquet(df, os.path.join(src, f"{t}.parquet"))
            sdf = read_table(ctx.spark, t, src)
            sdf = sdf.toDF(*[c.upper() for c in sdf.columns])
            write_sql(sdf, DERBY_URL, t.upper(), mode="overwrite", options=DERBY)

    def expect(self, ctx: Context) -> None:
        self._expected = checks.enriched_checksums_duckdb(ctx.path("derby_src"))

    def run_pass(self, ctx: Context, tr, label: str, warm: bool) -> list[str]:
        from etlutils_spark.operators.locf import na_locf_plus_one
        from etlutils_spark.operators.matchmerge import matchmerge
        from etlutils_spark.operators.recode import factorise, recoder, rename_columns
        from etlutils_spark.sources.files import read_table
        from etlutils_spark.sources.sql import ingest_to_parquet, read_sql, write_sql
        from pyspark.sql import functions as F

        spark, url = ctx.spark, DERBY_URL
        out = ctx.path(f"pass-{label}")
        errors: list[str] = []
        tr.begin_pass(label)

        def lower(df):
            return tr.call("operators.recode.rename_columns", rename_columns,
                           df, df.columns, [c.lower() for c in df.columns])

        def lineitem_ingest():
            li = tr.call("sources.sql.read_sql", read_sql, spark, url=url, table="LINEITEM",
                         partition_column="L_ROWID", num_partitions=ctx.cores, options=DERBY)
            with tr.span("sources.sql.ingest_to_parquet", "exec"):
                ingest_to_parquet(li, os.path.join(out, "lineitem.parquet"))

        def orders_ingest():
            od = tr.call("sources.sql.read_sql", read_sql, spark, url=url,
                         query="SELECT * FROM ORDERS", batch_bytes=1 << 20, options=DERBY)
            with tr.span("sources.sql.ingest_to_parquet", "exec"):
                ingest_to_parquet(od, os.path.join(out, "orders.parquet"))

        def enrich():
            li = lower(read_table(spark, "lineitem", out))
            od = lower(read_table(spark, "orders", out))
            part = lower(tr.call("sources.sql.read_sql", read_sql, spark, url=url,
                                 table="PART", options=DERBY))
            cust = lower(tr.call("sources.sql.read_sql", read_sql, spark, url=url,
                                 table="CUSTOMER", options=DERBY))
            mm = "operators.matchmerge.call"
            e = tr.call(mm, matchmerge, li, part, by_x="l_partkey", by_y="p_partkey",
                        add_columns=["p_brand", "p_type"])
            e = tr.call(mm, matchmerge, e, od, by_x="l_orderkey", by_y="o_orderkey",
                        all_x=True, add_columns=["o_custkey", "o_totalprice", "o_orderpriority"])
            e = tr.call(mm, matchmerge, e, cust, by_x="o_custkey", by_y="c_custkey",
                        all_x=True, add_columns=["c_mktsegment", "c_nationkey"])
            prio = tr.call("operators.recode.recoder", recoder, "o_orderpriority",
                           checks.PRIORITY_FROM, checks.PRIORITY_TO)
            e = e.withColumn("o_orderpriority", prio)
            e = e.withColumn("is_returned", F.col("l_returnflag") == "R")
            e = tr.call("operators.recode.factorise", factorise, e, logicals=True)
            e = tr.call("operators.recode.rename_columns", rename_columns, e,
                        ["l_extendedprice", "o_orderpriority"], ["price", "priority"])
            e = tr.call("operators.locf.na_locf_plus_one", na_locf_plus_one, e,
                        "o_totalprice", order_by="l_rowid", partition_by="p_brand",
                        output_col="total_locf")
            with tr.span("operators.matchmerge.exec", "exec"):
                ingest_to_parquet(e, os.path.join(out, "enriched.parquet"))

        def export():
            e = read_table(spark, "enriched", out)
            with tr.span("sources.sql.write_sql", "exec"):
                write_sql(e, url, "ENRICHED", mode="overwrite", options=DERBY)

        for name, fn in (("lineitem_ingest", lineitem_ingest), ("orders_ingest", orders_ingest),
                         ("enrich", enrich), ("export", export)):
            _guarded(tr, name, errors, fn)
        if not errors:
            back = read_sql(spark, url=url, table="ENRICHED", options=DERBY)
            back = rename_columns(back, back.columns, [c.lower() for c in back.columns])
            errors += [f"export: {e}" for e in checks.compare_checksums(
                checks.enriched_checksums_spark(back), self._expected)]
        return errors

    def extra_metrics(self, ctx: Context, passes: list[dict]) -> dict:
        """JDBC rows per second of the two ingest steps and of the export."""
        meds = metrics.op_medians(passes)
        n_li = int(ctx.sizes["lineitem"] * DERBY_FRAC)
        n_od = int(ctx.sizes["orders"] * DERBY_FRAC)
        ingest = meds["lineitem_ingest"] + meds["orders_ingest"]
        return {"ingest_rows_per_s": (n_li + n_od) / ingest,
                "export_rows_per_s": n_li / meds["export"]}


# ------------------------------------------------------------ dedup index
class IncrementalExtend(Workload):
    """build_dedup_index on a seeded half of the corpus, then
    extend_dedup_index batches until the corpus is used up."""

    name = "incremental_extend"
    # the one-shot reference build in expect() already runs the build,
    # shingling, LSH and components code; a warm pass would add some
    # 15 s of index writes to every run
    warm_passes = 0

    def op_count(self) -> int:
        return 1 + EXTEND_BATCHES

    def extra_metrics(self, ctx: Context, passes: list[dict]) -> dict:
        """Per-batch extend latency."""
        ext = [s for p in passes for name, s in p["ops"] if name.startswith("extend_")]
        return {"extend_p50_s": metrics.median(ext), "extend_p90_s": metrics.p90(ext)}

    def _frames(self, ctx: Context, tr=None):
        from etlutils_spark.sources.files import read_table
        from pyspark.sql import functions as F

        call = tr.call if tr is not None else (lambda _name, fn, *a, **k: fn(*a, **k))
        docs = call("sources.files.read_table", read_table, ctx.spark, "documents", ctx.inputs)
        ids = ctx.content["documents"]["doc_id"].to_numpy()
        base, batches = datagen.extend_split(ctx.seed, len(ids), EXTEND_BATCHES)

        def pick(pos):
            return docs.filter(F.col("doc_id").isin([int(i) for i in ids[pos]]))

        return docs, pick(base), [pick(b) for b in batches]

    def expect(self, ctx: Context) -> None:
        from etlutils_spark.operators.dedup import build_dedup_index

        docs, _, _ = self._frames(ctx)
        labels = build_dedup_index(docs, ctx.path("index-oneshot"))
        self._expected = checks.sorted_labels(labels.toPandas())

    def run_pass(self, ctx: Context, tr, label: str, warm: bool) -> list[str]:
        from etlutils_spark.operators.dedup import build_dedup_index, extend_dedup_index

        path = ctx.path(f"index-{label}")
        errors: list[str] = []
        tr.begin_pass(label)
        batches: list = []

        def build():
            _, base, parts = self._frames(ctx, tr)
            batches.extend(parts)
            with tr.span("operators.dedup.build_dedup_index", "exec"):
                build_dedup_index(base, path)
            return True

        if not _guarded(tr, "build", errors, build):
            return errors
        labels = None
        for i, batch in enumerate(batches, 1):
            def ext(batch=batch):
                with tr.span("operators.dedup.extend_dedup_index", "exec"):
                    return extend_dedup_index(path, batch)

            labels = _guarded(tr, f"extend_{i}", errors, ext)
        if labels is not None and not errors:
            got = checks.sorted_labels(labels.toPandas())
            errors += [f"extend_{len(batches)}: {e}"
                       for e in checks.compare_labels(got, self._expected)]
        return errors


# ------------------------------------------------------------- curation
class CurationCorpus(Workload):
    """The curation queries, then the dedup-index build and extend
    batches of ``incremental_extend`` on the same corpus. The warm pass
    runs and checks the queries only: the one-shot reference build
    already runs the index code."""

    name = "curation_corpus"

    def __init__(self):
        self.queries = QuerySuite(self.name, CURATION_QUERIES)
        self.index = IncrementalExtend()

    def op_count(self) -> int:
        return self.queries.op_count() + self.index.op_count()

    def expect(self, ctx: Context) -> None:
        self.queries.expect(ctx)
        self.index.expect(ctx)

    def run_pass(self, ctx: Context, tr, label: str, warm: bool) -> list[str]:
        errors = self.queries.run_pass(ctx, tr, label, warm)
        if not warm:
            errors += self.index.run_pass(ctx, tr, label, warm)
        return errors

    def extra_metrics(self, ctx: Context, passes: list[dict]) -> dict:
        return self.index.extra_metrics(ctx, passes)


WORKLOADS: dict[str, Workload] = {
    w.name: w for w in (
        JdbcRoundtrip(),
        QuerySuite("relational_suite", RELATIONAL_QUERIES),
        CurationCorpus(),
        IncrementalExtend(),
    )
}
