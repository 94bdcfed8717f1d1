#!/usr/bin/env python3
"""Benchmark of the etlutils_spark engine: four seeded workloads.

    python3 perfbench/run.py --workload <name> --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all            # every workload, one table

One run: start the session and set up (writing the seeded inputs,
seeding Derby) ``SETUP_REPS`` times and keep the median; compute the
reference results; run the workload's untimed warm pass, which checks
the outputs; then run timed passes, one operation at a time, until
``--seconds`` have passed, and read the live heap after the first.
With ``--trace 1`` untraced and traced passes alternate, and the run
reports per-layer metrics and the tracing overhead instead of the
end-to-end metrics. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``. Everything the run
writes goes to a temporary directory under ``.perfbench/`` that is
removed at exit; the result file with the host block and the spans is
kept in ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
SPARK_MEM = "2g"
SCALE = 0.01  # TPC-H scale factor of the generated inputs: 60k lineitem rows
SETUP_REPS = 5
# summary-line numbers the all-workload table shows: name, unit, better
SUMMARY_EXTRAS = (
    ("fail_frac", "ratio", "lower"),
    ("ingest_rows_per_s", "1/s", "higher"),
    ("export_rows_per_s", "1/s", "higher"),
    ("extend_p50_s", "s", "lower"),
    ("extend_p90_s", "s", "lower"),
)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def engine_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "etlutils_spark")))


def configure_env(work: str, cores: int) -> None:
    """Keep every file the run makes under ``work`` and size the session
    for this host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_MEM"] = SPARK_MEM
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"


def start_session(work: str, cores: int):
    from etlutils_spark.session import get_session

    java_opts = " ".join([
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}/derby-home",
        f"-Dderby.stream.error.file={work}/derby.log",
    ])
    return get_session("perfbench", **{
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": java_opts,
    })


def stop_jvm() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway server exits at EOF
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def remove_pass_dirs(work: str, label: str) -> None:
    for d in os.listdir(work):
        if d.endswith(f"-{label}"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)


def run_workload(args, work: str, cores: int) -> dict:
    import datagen
    import host
    import metrics
    import spans
    from workloads import WORKLOADS, Context

    wl = WORKLOADS[args.workload]
    inputs = os.path.join(work, "inputs")
    setup_times = []
    spark = None
    session_start_s = None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(work, cores)
        if session_start_s is None:
            session_start_s = time.perf_counter() - t0
        content = datagen.make_content(SCALE)
        datagen.write_inputs(inputs, args.seed, content)
        ctx = Context(spark, work, inputs, args.seed, content, cores)
        wl.setup(ctx)
        setup_times.append(time.perf_counter() - t0)

    attempted, errors = 0, []

    def one_pass(tr, label: str, warm: bool) -> list[dict]:
        nonlocal attempted
        errors.extend(f"{label}/{e}" for e in wl.run_pass(ctx, tr, label, warm=warm))
        tr.end_pass()
        remove_pass_dirs(work, label)
        ops = [s for s in tr.spans if s["kind"] == "op" and s["pass"] == label]
        attempted += len(ops)
        return ops

    t0 = time.perf_counter()
    wl.expect(ctx)
    expect_s = time.perf_counter() - t0
    warm = spans.Tracer(spark, traced=False)
    warm_s = []
    for i in range(wl.warm_passes):
        t0 = time.perf_counter()
        one_pass(warm, f"warm{i}", warm=i == 0)
        warm_s.append(time.perf_counter() - t0)

    plain = spans.Tracer(spark, traced=False)
    traced = spans.Tracer(spark, traced=True) if args.trace else None
    passes = []
    deadline = time.perf_counter() + args.seconds
    min_passes = 2 if args.trace else 1
    while len(passes) < min_passes or time.perf_counter() < deadline:
        # untraced, traced, traced, untraced, ...: passes still speed up
        # a little over a run, and this order cancels a steady trend
        is_traced = bool(args.trace) and len(passes) % 4 in (1, 2)
        label = f"p{len(passes)}"
        ops = one_pass(traced if is_traced else plain, label, warm=False)
        passes.append({
            "label": label, "traced": is_traced,
            "wall": ops[-1]["t1"] - ops[0]["t0"],
            "ops": [(s["name"], s["seconds"]) for s in ops],
        })
        if len(passes) == 1:
            # after the same work in every run: set-up, warm pass, one pass
            live_heap_mb = spans.jvm_live_heap_mb(spark)

    plain_passes = [p for p in passes if not p["traced"]]
    traced_passes = [p for p in passes if p["traced"]]
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    e2e = metrics.end_to_end(setup_times, plain_passes, live_heap_mb)
    jvm_peaks = {"jvm.peak_heap_mb": spans.jvm_peak_heap_mb(spark),
                 "jvm.peak_rss_mb": host.jvm_peak_rss_mb(jvm_pid)}
    failed = len({e.split(":")[0] for e in errors})  # one per failed operation
    out = {
        "attempted": attempted, "failed": failed, "errors": errors,
        "end_to_end": e2e, "passes": passes,
        "extra": {
            "session_start_s": session_start_s,
            "setup_reps_s": setup_times,
            "expect_s": expect_s,
            "warm_s": warm_s,
            "passes": len(plain_passes),
            "ops_per_pass": wl.op_count(),
            "op_medians_s": metrics.op_medians(plain_passes),
            "fail_frac": failed / attempted,
            **jvm_peaks,
            **wl.extra_metrics(ctx, plain_passes),
        },
    }
    if traced:
        out["per_layer"] = metrics.per_layer(traced, traced_passes, plain_passes, jvm_peaks)
        out["layer_detail"] = metrics.layer_detail(traced, traced_passes)
        out["spans"] = traced.spans
        out["op_counters"] = traced.op_counters
    return out


def result_line(res: dict, trace: int) -> dict:
    import metrics

    spec = metrics.PER_LAYER if trace else metrics.END_TO_END
    values = res["per_layer"] if trace else res["end_to_end"]
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": spec[k][0]} for k in spec},
    }


def run_one(args) -> int:
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not engine_present():
        print(f"perfbench: no etlutils_spark engine next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import host
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    nproc = os.cpu_count() or 1
    cores = min(4, nproc)
    load_before = os.getloadavg()
    busy = host.busy_cores()
    if host.is_loaded(busy, nproc):
        print(f"perfbench: host is loaded ({busy:.2f} of {nproc} cores busy "
              "before the run)", file=sys.stderr)
    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT)
    configure_env(work, cores)
    try:
        res = run_workload(args, work, cores)
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    res["host"] = host.host_block(ROOT, args.seed, cores, busy, load_before, os.getloadavg())
    res["workload"] = args.workload
    res["scale"] = SCALE
    res["seconds"] = args.seconds
    res["trace"] = args.trace
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(res, f, indent=1, default=str)
    for e in res["errors"]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    print("host " + json.dumps(res["host"]))
    print("summary " + json.dumps({
        "workload": args.workload, "end_to_end": res["end_to_end"], **res["extra"],
    }))
    if args.trace:
        print("layers " + json.dumps({**res["per_layer"], **res["layer_detail"]}))
    print(json.dumps(result_line(res, args.trace)), flush=True)
    return 0


def run_all(args) -> int:
    """Each workload in its own process; one table of every metric."""
    sys.path.insert(0, HERE)
    import metrics
    from workloads import WORKLOADS

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    rows = []
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: exit code {proc.returncode}", file=sys.stderr)
            return proc.returncode or 1
        res = json.loads(lines[-1])
        summary = next(json.loads(x[len("summary "):]) for x in lines if x.startswith("summary "))
        layers = next((json.loads(x[len("layers "):]) for x in lines if x.startswith("layers ")), {})
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            total["metrics"][f"{name}.{k}"] = v
        rows.append((name, res, summary, layers))
    print(f"\n{'workload':<22} {'metric':<40} {'value':>14}  unit")
    for name, res, summary, layers in rows:
        shown = {k: (v["value"], v["unit"], (metrics.END_TO_END | metrics.PER_LAYER)[k][1])
                 for k, v in res["metrics"].items()}
        if args.trace:
            # the per-module, per-query and per-layer detail: all seconds
            # except the extend growth ratio
            shown |= {k: (v, "ratio" if k.endswith("growth") else "s", "lower")
                      for k, v in layers.items() if k not in shown}
        else:
            shown |= {k: (summary[k], unit, better)
                      for k, unit, better in SUMMARY_EXTRAS if k in summary}
        for k, (value, unit, better) in shown.items():
            print(f"{name:<22} {k:<40} {value:>14.4f}  {unit} ({better} is better)")
    print(json.dumps(total), flush=True)
    return 0 if total["correct"] else 1


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    sys.path.insert(0, HERE)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    raise SystemExit(main())
