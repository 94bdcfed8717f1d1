#!/usr/bin/env python3
"""Decompose extend_dedup_index's per-batch wall (the streaming
dedup index's per-micro-batch floor, r7 verdict #6): wrap every eager
action the refresh runs — localCheckpoints, parquet writes, sidecar
file ops — and report where the seconds go for each of N successive
batches on an sf0.1-sized corpus.

    python3 tools/profile_extend_batch.py [corpus] [batches] [mode]
    # default 5000 3 dup  (the dedup_clusters_streaming shape)
    # mode "clean": batches with ZERO verified pairs (unique texts) —
    # measures the clean-batch fast path (r8 verdict #6)

The UNWRAPPED remainder (total - sum(phases)) is plan
analysis/scheduling for the lazy stages that feed those actions plus
driver-side bookkeeping — the irreducible-or-not question the numbers
answer.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.readwriter import DataFrameWriter

PHASES: list[tuple[str, float]] = []


def _wrap() -> None:
    import etlutils_spark.sources.sidecar as sc

    # Spark 4: pyspark.sql.DataFrame is a facade; the runtime class is
    # pyspark.sql.classic.dataframe.DataFrame, whose overrides shadow
    # a patch on the facade — patch the classic classes directly
    try:
        from pyspark.sql.classic.dataframe import DataFrame as CDF
    except ImportError:  # older pyspark
        CDF = DataFrame

    def timed_method(cls, name, label=None):
        orig = getattr(cls, name)

        def wrapper(self, *a, **kw):
            t0 = time.time()
            r = orig(self, *a, **kw)
            PHASES.append((label or name, time.time() - t0))
            return r

        setattr(cls, name, wrapper)

    for m in ("localCheckpoint", "collect", "isEmpty", "first", "count"):
        timed_method(CDF, m)

    opq = DataFrameWriter.parquet

    def pq(self, path, **kw):
        t0 = time.time()
        r = opq(self, path, **kw)
        PHASES.append((f"write:{path.rsplit('/', 1)[-1]}", time.time() - t0))
        return r

    DataFrameWriter.parquet = pq

    # dedup.py binds these with `from ... import`, so the wrappers must
    # land in BOTH namespaces — patching only the sidecar module never
    # intercepts the calls being profiled (review catch: every
    # sidecar phase silently fell into unattributed_sec)
    import etlutils_spark.operators.dedup as dd

    for name in (
        "write_sidecar_text",
        "read_sidecar_text",
        "sidecar_present",
        "read_sidecar_json",
        "acquire_writer_lease",
        "release_writer_lease",
    ):
        orig = getattr(sc, name)

        def timed(*a, __orig=orig, __name=name, **kw):
            t0 = time.time()
            r = __orig(*a, **kw)
            PHASES.append((f"sidecar:{__name}", time.time() - t0))
            return r

        setattr(sc, name, timed)
        if hasattr(dd, name):
            setattr(dd, name, timed)


def main() -> None:
    from etlutils_spark.session import get_session
    from tools.stress_dedup import make_corpus

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5000
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    mode = sys.argv[3] if len(sys.argv) > 3 else "dup"
    spark = get_session(
        "profile_extend",
        **{"spark.driver.memory": "8g", "spark.sql.shuffle.partitions": "32"},
    )
    from etlutils_spark.operators.dedup import (
        build_dedup_index,
        extend_dedup_index,
    )

    docs, _ = make_corpus(spark, n)
    docs = docs.persist()
    docs.count()
    path = os.path.join(tempfile.gettempdir(), f"prof_ext_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    build_dedup_index(docs, path)
    _wrap()  # instrument AFTER the build: profile extends only
    report = []
    for k in range(n_batches):
        if mode == "clean":
            # unique word-salad per doc: shares no shingles with the
            # stored corpus or batch siblings, so zero verified pairs
            batch = spark.range(500).select(
                (F.col("id") + F.lit((10 + k) * max(n, 500))).alias(
                    "doc_id"
                ),
                F.concat_ws(
                    " ",
                    *[
                        F.md5(
                            F.concat(
                                F.col("id").cast("string"),
                                F.lit(f"-{k}-{j}"),
                            )
                        )
                        for j in range(12)
                    ],
                ).alias("text"),
            ).persist()
        else:
            batch = docs.filter(F.col("doc_id") < 500).select(
                (F.col("doc_id") + F.lit((10 + k) * max(n, 500))).alias(
                    "doc_id"
                ),
                F.concat("text", F.lit(f" dup{k}")).alias("text"),
            ).persist()
        batch.count()
        PHASES.clear()
        t0 = time.time()
        extend_dedup_index(path, batch)
        total = time.time() - t0
        agg: dict[str, float] = {}
        for name, sec in PHASES:
            agg[name] = agg.get(name, 0.0) + sec
        report.append(
            {
                "batch": k,
                "total_sec": round(total, 2),
                "phases": {p: round(s, 3) for p, s in sorted(
                    agg.items(), key=lambda kv: -kv[1])},
                "unattributed_sec": round(total - sum(agg.values()), 2),
            }
        )
        batch.unpersist()
    docs.unpersist()
    shutil.rmtree(path, ignore_errors=True)
    print(json.dumps(report, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
