"""Tests of the benchmark's own code.

    python3 -m pytest -q perfbench/tests

The Spark tests start one small session (about a minute in all).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import checks  # noqa: E402
import datagen  # noqa: E402
import metrics  # noqa: E402
import spans  # noqa: E402
from workloads import CURATION_QUERIES, RELATIONAL_QUERIES, WORKLOADS  # noqa: E402

SCALE = 0.001


def _files(d):
    return sorted(
        os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs
    )


@pytest.fixture(scope="module")
def content():
    return datagen.make_content(SCALE)


def test_same_seed_gives_identical_inputs(tmp_path, content):
    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_inputs(str(a), 7, content)
    datagen.write_inputs(str(b), 7, datagen.make_content(SCALE))
    assert _files(a) == _files(b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert not mismatch and not errors
    assert datagen.derby_rows(7, datagen.table_sizes(SCALE), 0.2)["lineitem"].tolist() == \
        datagen.derby_rows(7, datagen.table_sizes(SCALE), 0.2)["lineitem"].tolist()


def test_other_seed_changes_layout_not_results(tmp_path, content):
    import __spark_entry__ as entry

    a, b = tmp_path / "a", tmp_path / "b"
    datagen.write_inputs(str(a), 1, content)
    datagen.write_inputs(str(b), 2, content)
    _, mismatch, _ = filecmp.cmpfiles(a, b, _files(a), shallow=False)
    assert "lineitem.parquet/part-00000.parquet" in mismatch
    oracles = entry.oracle_sql()
    con_a, con_b = checks.duck_views(str(a)), checks.duck_views(str(b))
    for q in RELATIONAL_QUERIES + CURATION_QUERIES:
        ra, rb = con_a.execute(oracles[q]).df(), con_b.execute(oracles[q]).df()
        assert len(ra) > 0, q
        assert checks.compare(q, ra, rb) == [], q
    sizes = datagen.table_sizes(SCALE)
    assert datagen.derby_rows(1, sizes, 0.2)["orders"].tolist() != \
        datagen.derby_rows(2, sizes, 0.2)["orders"].tolist()
    base1, batches1 = datagen.extend_split(1, 100, 2)
    base2, _ = datagen.extend_split(2, 100, 2)
    assert base1.tolist() != base2.tolist()
    assert sorted(base1.tolist() + [i for b in batches1 for i in b.tolist()]) == list(range(100))


def test_metric_names_are_well_formed():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(metrics.NAME_RE.match(n) for n in names), names
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == metrics.PER_LAYER
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)
    # the per-layer detail names (span names, per query) are well formed too
    tr = type("T", (), {"spans": [
        {"kind": "span", "pass": "p1", "op": q, "name": "relational_queries.exec",
         "phase": "exec", "seconds": 0.5} for q in RELATIONAL_QUERIES]})()
    detail = metrics.layer_detail(tr, [{"label": "p1", "ops": [("extend_1", 1.0), ("extend_2", 2.0)]}])
    assert detail["operators.dedup.extend_growth"] == 2.0
    assert all(metrics.NAME_RE.match(k) for k in detail), detail


def test_metric_arithmetic():
    assert spans.parse_size("1141.2 KiB") == pytest.approx(1141.2 * 1024)
    assert spans.parse_size("total (min, med, max)\n2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB)") == 2 << 20
    assert spans.parse_size(None) == 0.0
    assert spans._union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert spans._union_length([(0, 2)], 1, 10) == 1
    passes = [{"wall": w, "ops": [("a", w / 2), ("b", w / 2)]} for w in (2.0, 4.0, 6.0)]
    e2e = metrics.end_to_end([3.0, 1.0, 2.0], passes, 400.0)
    assert e2e["setup_s"] == 2.0 and e2e["wall_s"] == 4.0
    assert e2e["query_geomean_s"] == pytest.approx(2.0)
    assert e2e["live_heap_mb"] == 400.0
    assert set(e2e) == set(metrics.END_TO_END)
    assert metrics.p90([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0, 11.0]) == 10.0


def test_refuses_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational_suite",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.fixture(scope="module")
def ctx(tmp_path_factory, content):
    import run
    from workloads import Context

    work = str(tmp_path_factory.mktemp("perfbench"))
    run.configure_env(work, 2)
    spark = run.start_session(work, 2)
    inputs = os.path.join(work, "inputs")
    datagen.write_inputs(inputs, 5, content)
    yield Context(spark, work, inputs, 5, content, 2)
    run.stop_jvm()


@pytest.mark.parametrize("name", ["etl_jdbc_roundtrip", "relational_suite", "incremental_extend",
                                  "curation_corpus"])
def test_traced_and_untraced_runs_give_identical_outputs(ctx, name):
    wl = WORKLOADS[name]
    wl.setup(ctx)
    wl.expect(ctx)
    plain = spans.Tracer(ctx.spark, traced=False)
    traced = spans.Tracer(ctx.spark, traced=True)
    # every pass checks its outputs against the same reference
    assert wl.run_pass(ctx, plain, "a", warm=True) == []
    assert wl.run_pass(ctx, traced, "b", warm=True) == []
    assert wl.run_pass(ctx, plain, "c", warm=False) == []
    assert wl.run_pass(ctx, traced, "d", warm=False) == []
    traced.end_pass()
    ops = [s["name"] for s in traced.spans if s["kind"] == "op" and s["pass"] == "d"]
    assert len(ops) == wl.op_count()
    counters = [c for c in traced.op_counters if c["pass"] == "d"]
    assert len(counters) == len(ops)
    assert sum(c["spark.jobs"] for c in counters) > 0
    assert set(counters[0]) >= set(spans.COUNTERS)
    if name == "etl_jdbc_roundtrip":
        from etlutils_spark.sources.sql import read_sql

        from workloads import DERBY, DERBY_URL

        back = read_sql(ctx.spark, url=DERBY_URL, table="ENRICHED", options=DERBY)
        back = back.toDF(*[c.lower() for c in back.columns])
        assert checks.enriched_checksums_spark(back) == wl._expected
