"""Benchmark entry point.

    python3 perfbench/run.py --workload history_stream --seed 1 --seconds 13 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout; the package is imported from there. One run
sets up three times (session start, input generation from the seed,
bootstrap of the workload), the first time on a cold JVM followed
by one untimed warm-up cycle, and reports the median of the two set-ups on
the warm JVM. It then runs whole cycles of the workload until ``--seconds``
have passed, checks the outputs of the last cycle against
DuckDB, and prints a report. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Everything the run writes goes under ``.perfbench/`` in the
checkout; the scratch part is removed at exit and span files are kept.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
# one cold set-up (it launches the JVM), then SETUPS - 1 on the warm JVM
SETUPS = 3
# The driver heap is fixed and touched in full at JVM start, so the JVM's
# peak resident set does not depend on when the collector grows the heap.
HEAP = "2g"

SPANS = (
    "meta_columns.add_meta_columns",
    "scd2_store.merge",
    "cdc.historize_append",
    "versioned_store.merge",
    "versioned_store.read",
    "scd2.snapshot_at",
    "streaming.microbatch",
    "text.quality_calibrated",
    "dedup.minhash_bands",
    "dedup.minhash_band_star_edges",
    "dedup.dedup_keeper_by_priority",
    "graph.cosupply_backbone",
    "graph.label_propagation",
)
COUNTS = {
    "scd2_store.merge": ("open_rows_rewritten", "closed_rows_appended",
                         "files_written", "write_amp"),
    "cdc.historize_append": ("delta_ratio", "input_bytes"),
    "versioned_store.merge": ("dirs_rewritten", "manifest_dirs"),
    "scd2.snapshot_at": ("files_read",),
    "streaming.microbatch": ("microbatches", "add_batch_s", "commit_overhead_s"),
    "dedup.dedup_keeper_by_priority": ("band_rows", "star_edges", "components",
                                       "keeper_ratio"),
    "graph.cosupply_backbone": ("backbone_edges",),
    "graph.label_propagation": ("communities",),
}
RUN_METRICS = (
    ("trace.overhead_s", "s"), ("trace.overhead_frac", "ratio"),
    ("run.wall_s", "s"), ("run.executor_cpu_s", "s"),
    ("host.steal_frac", "ratio"), ("host.loadavg_1m", "load"),
    ("host.calib_probe_s", "s"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric, in BENCHMARK.json order."""
    units = {"wall_s": "s", "jobs": "count", "executor_run_s": "s",
             "executor_cpu_s": "s", "shuffle_bytes": "bytes",
             "output_bytes": "bytes", "driver_s": "s"}
    count_units = {"write_amp": "ratio", "delta_ratio": "ratio",
                   "keeper_ratio": "ratio", "input_bytes": "bytes",
                   "add_batch_s": "s", "commit_overhead_s": "s"}
    out = [("session.get_spark.wall_s", "s")]
    for span in SPANS:
        out += [(f"{span}.{m}", units[m]) for m in spans.STANDARD]
        out += [(f"{span}.{c}", count_units.get(c, "count"))
                for c in COUNTS.get(span, ())]
    return out + list(RUN_METRICS)


END_TO_END = (
    ("setup_s", "s"),
    ("input_rows_per_s", "rows/s"),
    ("op_p50_geomean_s", "s"),
    ("executor_cpu_s_per_krow", "s"),
    ("peak_rss_mb", "MB"),
    ("stored_bytes_per_user_byte", "ratio"),
)


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples above it; None when that percentile is below the median."""
    n = len(values)
    if n < 20:
        return None
    return 100.0 * (n - 10) / n, sorted(values)[n - 11]


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def summarize(ops, kinds) -> dict:
    """End-to-end timing figures from a list of ops."""
    by_kind: dict[str, list[float]] = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op.wall_s)
    # a micro-batch's rows are already counted in its stream run
    whole = [op for op in ops if op.kind != "microbatch"]
    wall = sum(op.wall_s for op in whole)
    return {
        "by_kind": by_kind,
        "geomean": geomean([statistics.median(by_kind[k]) for k in kinds])
        if all(k in by_kind for k in kinds) else float("nan"),
        "rows": sum(op.rows for op in whole),
        "wall": wall,
    }


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=None,
                    help="input seed (default 1; 20261017 is held out for claims)")
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run every workload once on tiny inputs with its checks")
    args = ap.parse_args(argv)
    if not args.selftest and not args.workload:
        ap.error("--workload is required")
    return args


def start_session(work: str, cpus: int):
    import pandas_etl_framework_spark as etl

    spark = etl.get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work}/tmp -Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.local.dir": f"{work}/local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM child to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run(workload: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    """One benchmark run; returns the report dict (see ``main``)."""
    import numpy as np

    from workloads import WORKLOADS, Ctx

    wl = WORKLOADS[workload]
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(OUT, f"work-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")

    t_run = time.perf_counter()
    host = {"loadavg_start": os.getloadavg()[0], "calib_start_s": spans.calib_probe()}
    spark = None
    setup_s, session_s = [], []
    jvm_pid = None
    try:
        for k in range(SETUPS):
            # stopping the previous session cleans up after the warm-up
            # cycle; it is not part of a set-up
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(work, cpus)
            session_s.append(time.perf_counter() - t0)
            inputs_dir = os.path.join(work, "inputs")
            shutil.rmtree(inputs_dir, ignore_errors=True)
            inputs = wl.generate(inputs_dir, seed, size)
            ctx = Ctx(spark, spans.Tracer(spark, False), work, inputs)
            wl.bootstrap(ctx)
            setup_s.append(time.perf_counter() - t0)
            if k == 0:
                # one untimed cycle runs every query shape at full data
                # volume, so code generation and the JIT are warm before
                # anything is timed
                jvm_pid = spark.sparkContext._gateway.proc.pid
                t = time.perf_counter()
                warm_dir = os.path.join(work, "warm")
                warm = Ctx(spark, spans.Tracer(spark, False), warm_dir,
                           wl.generate(os.path.join(warm_dir, "inputs"), seed,
                                       "tiny" if size == "tiny" else "warm"))
                wl.bootstrap(warm)
                wl.cycle(warm, np.random.default_rng([seed, 7]))
                shutil.rmtree(warm_dir, ignore_errors=True)
                host["warmup_s"] = time.perf_counter() - t

        tracer = spans.Tracer(spark, trace)
        reader = tracer.reader or spans.StatusReader(spark)
        ctx = Ctx(spark, tracer, work, inputs, state=ctx.state)
        rng = np.random.default_rng([seed, 99])
        first_stage = reader.next_stage_id()
        ticks = spans.cpu_ticks()
        cpu0 = spans.process_cpu_s(jvm_pid) + time.process_time()
        failed_ops, t_start = 0, time.perf_counter()
        while True:
            # a traced run alternates traced and untraced cycles, so the
            # tracing overhead is measured inside the same run
            tracer.enabled = trace and ctx.cycle % 2 == 0
            try:
                wl.cycle(ctx, rng)
            except Exception:
                traceback.print_exc()
                failed_ops += 1
                break
            ctx.cycle += 1
            # whole cycles only, until the measuring time is used up (a
            # traced run needs two)
            if time.perf_counter() - t_start >= seconds and (
                    not trace or ctx.cycle >= 2):
                break
        window_s = time.perf_counter() - t_start
        proc_cpu_s = spans.process_cpu_s(jvm_pid) + time.process_time() - cpu0
        host["window_s"] = window_s
        host["steal_frac"] = spans.steal_frac(ticks, spans.cpu_ticks())
        tracer.enabled = False
        t = time.perf_counter()
        cpu_s = reader.cpu_since(first_stage)
        host["cpu_read_s"] = time.perf_counter() - t
        peak_rss = spans.vm_hwm_mb(jvm_pid)
        stored, user = wl.stored_bytes(ctx) if not failed_ops else (0, 1)
        t = time.perf_counter()
        try:
            checks = wl.check(ctx) if not failed_ops else []
        except Exception:
            traceback.print_exc()
            checks = [("checks.ran", False, "check raised")]
        host["checks_s"] = time.perf_counter() - t
    finally:
        if spark is not None:
            t = time.perf_counter()
            stop_jvm(spark)
            host["stop_s"] = time.perf_counter() - t
    host["setups"] = setup_s
    host["run_s"] = time.perf_counter() - t_run
    host["loadavg_end"] = os.getloadavg()[0]
    host["calib_end_s"] = spans.calib_probe()
    shutil.rmtree(work, ignore_errors=True)
    if trace:
        tracer.spans += [{"name": "session.get_spark", "op_id": f"setup{k}", "wall_s": s}
                         for k, s in enumerate(session_s)]
        tracer.write(os.path.join(OUT, "spans", f"{workload}-seed{seed}.json"))
    return {
        "workload": workload, "seed": seed, "trace": trace, "wl": wl,
        "ops": ctx.ops, "failed_ops": failed_ops, "checks": checks,
        "setup_s": setup_s, "session_s": session_s, "window_s": window_s,
        "cpu_s": cpu_s, "proc_cpu_s": proc_cpu_s, "peak_rss_mb": peak_rss,
        "stored": stored, "user": user,
        "host": host, "spans": tracer.spans, "cycles": ctx.cycle,
    }


def report(r: dict) -> dict:
    """Print the human-readable report and return the result object."""
    wl, ops = r["wl"], r["ops"]
    plain = [op for op in ops if not op.traced]
    s = summarize(plain, wl.kinds)
    n_failed_checks = sum(1 for _n, ok, _d in r["checks"] if not ok)
    # a stream run is the container of its micro-batches, not an op itself
    attempted = sum(op.kind != "stream_run" for op in ops) + r["failed_ops"]
    failed = min(attempted, r["failed_ops"] + n_failed_checks)
    correct = failed == 0 and bool(r["checks"])

    named = {
        "setup_s": (statistics.median(r["setup_s"][1:]), "s", len(r["setup_s"]) - 1),
        "input_rows_per_s": (s["rows"] / s["wall"] if s["wall"] else 0.0, "rows/s", None),
        "op_p50_geomean_s": (s["geomean"], "s", len(wl.kinds)),
        "peak_rss_mb": (r["peak_rss_mb"], "MB", None),
        "stored_bytes_per_user_byte": (r["stored"] / r["user"], "ratio", None),
        "ops_failed_frac": (failed / attempted if attempted else 1.0, "ratio", attempted),
    }
    for kind, walls in s["by_kind"].items():
        named[f"{kind}_p50_s"] = (statistics.median(walls), "s", len(walls))
        t = tail(walls)
        named[f"{kind}_tail_s"] = (
            (t[1], f"s@p{t[0]:.0f}", len(walls)) if t else
            (float("nan"), "s (needs 20 samples)", len(walls)))
    named["process_cpu_s_per_krow"] = (
        r["proc_cpu_s"] / (s["rows"] / 1e3) if s["rows"] else 0.0, "s", None)
    named["executor_cpu_s_per_krow"] = (
        r["cpu_s"] / (s["rows"] / 1e3) if s["rows"] else 0.0, "s", None)
    named["wall_s_per_krow"] = (
        s["wall"] / (s["rows"] / 1e3) if s["rows"] else 0.0, "s", None)

    print(f"perfbench {r['workload']} seed={r['seed']} trace={int(r['trace'])} "
          f"cycles={r['cycles']} window={r['window_s']:.1f}s")
    for name, (val, unit, n) in named.items():
        extra = f"  (n={n})" if n is not None else ""
        print(f"  {name:<30} {val:>14.4f} {unit}{extra}")
    for name, ok, detail in r["checks"]:
        print(f"  check {name:<34} {'ok' if ok else 'FAILED'}  {detail}")
    host = {k: round(v, 4) if isinstance(v, float) else v
            for k, v in r["host"].items()}
    print("perfbench-host " + json.dumps(host))
    print("perfbench-samples " + json.dumps(
        {k: [round(v, 4) for v in vs] for k, vs in s["by_kind"].items()}))

    if not r["trace"]:
        metrics = {n: {"value": named[n][0], "unit": u} for n, u in END_TO_END}
    else:
        traced = summarize([op for op in ops if op.traced], wl.kinds)
        values = spans.layer_metrics(r["spans"], [n for n, _u in per_layer_names()])
        values["trace.overhead_s"] = traced["geomean"] - s["geomean"]
        values["trace.overhead_frac"] = traced["geomean"] / s["geomean"] - 1.0
        values["run.wall_s"] = r["window_s"]
        values["run.executor_cpu_s"] = r["cpu_s"]
        values["host.steal_frac"] = r["host"]["steal_frac"]
        values["host.loadavg_1m"] = r["host"]["loadavg_start"]
        values["host.calib_probe_s"] = r["host"]["calib_start_s"]
        metrics = {n: {"value": values[n], "unit": u} for n, u in per_layer_names()}
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import pandas_etl_framework_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import what the benchmark runs: {exc}",
              file=sys.stderr)
        return 2
    from gen import DEFAULT_SEED
    from workloads import WORKLOADS

    seed = DEFAULT_SEED if args.seed is None else args.seed
    if args.selftest:
        ok = True
        for name in WORKLOADS:
            res = report(run(name, seed, 0.0, True, "tiny"))
            ok = ok and res["correct"]
        print("perfbench selftest " + ("passed" if ok else "FAILED"))
        return 0 if ok else 1
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    res = report(run(args.workload, seed, args.seconds, bool(args.trace), "full"))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
