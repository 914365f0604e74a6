"""Repo benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload flagship_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  The process pins itself (and so the JVM
and Python workers it starts) to ``nproc`` cores and runs Spark at
``local[nproc]``.  It generates the workload's input from ``--seed``,
sets the session up several times (``setup_s`` is the median), runs
units of work for ``--seconds`` (the first unit is the cold one, at
least ``min_units`` always run), checks the output outside the timed
window, and prints one JSON object as the last line of stdout.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the
same loop with a span around every call into a layer and Spark's
counters harvested after every action, then the layer probes; it
prints the per-layer metrics and writes every span to
``.perfbench_out/trace-<workload>-seed<seed>.json``.  Lines before the
last one (host fingerprint, run record, workload-specific layers) are
for people, not for the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: session set-ups per run.  Set-up 0 launches the JVM and generates the
#: input (``session.jvm_start_s``); the others start a new session in it.
#: ``setup_s`` is the median of those from ``SETUP_SKIP`` on: set-up 1,
#: the first after input generation, is left out too, because set-up
#: times still fall over the first few set-ups of a run.
SETUPS = 11
SETUP_SKIP = 2

E2E_UNITS = {
    "setup_s": "s", "cold_s": "s", "warm_s": "s", "items_per_s": "1/s",
    "python_peak_rss_mb": "MB",
}


def _program_present() -> bool:
    return all(os.path.isfile(os.path.join(ROOT, p)) for p in
               ("__spark_entry__.py", "ocr_spark/__init__.py", "ocr_spark/pipeline.py"))


def _warmup(spark, tracer) -> None:
    """The untimed warm-up of every set-up: one small JVM-only job (task
    scheduling and whole-stage codegen start).  Python workers start in
    the first unit of work, which is why that unit counts as cold."""
    with tracer.action("setup.warmup", spark):
        spark.range(0, 100_000, 1, 4).selectExpr("sum(id % 7)").collect()


def run(args) -> dict:
    import harness
    from layers import (
        commit_probe,
        kernel_probe,
        kernel_texts,
        pipeline_probe,
        scaling_probe,
        stream_probe,
    )
    from workloads import WORKLOADS, run_unit

    cores = harness.pin_to_cores(harness.nproc())
    n = len(cores)
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    wl = WORKLOADS[args.workload](tiny=args.tiny)
    tracer = harness.Tracer(f"{args.workload}-{args.seed}-{int(time.time())}",
                            enabled=bool(args.trace), spark_counters=harness.SparkCounters())
    host = harness.host_fingerprint(cores)
    host["membw_gbps_before"] = harness.membw_canary()
    host["cpu_canary_s_before"] = harness.cpu_canary()
    rss = harness.RssSampler()
    setups, gets, ships, warms = [], [], [], []
    phases: dict[str, float] = {}
    units: list[dict] = []
    attempted = failed = 0
    spark = None
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed):
            for k in range(SETUPS):
                with tracer.span("setup", k=k):
                    t0 = time.perf_counter()
                    spark, g, s = harness.start_session(tracer, work, n)
                    t1 = time.perf_counter()
                    _warmup(spark, tracer)
                    t2 = time.perf_counter()
                setups.append(t2 - t0)
                gets.append(g)
                ships.append(s)
                warms.append(t2 - t1)
                if k == 0:
                    with tracer.span("generate"):
                        t_gen = time.perf_counter()
                        wl.generate(spark, work, args.seed)
                        phases["generate"] = time.perf_counter() - t_gen
                if k < SETUPS - 1:
                    spark.stop()

            rss.start()
            t_win = time.perf_counter()
            with tracer.span("window"):
                deadline = time.perf_counter() + args.seconds
                i = 0
                while i < wl.min_units or (time.perf_counter() < deadline and i < wl.max_units):
                    u = run_unit(wl, spark, tracer, i)
                    attempted += 1
                    if u is None:
                        failed += 1
                    else:
                        units.append(u)
                    i += 1
            rss.stop()
            phases["window"] = time.perf_counter() - t_win

            t_chk = time.perf_counter()
            with tracer.span("check"):
                checks = wl.check(spark, corrupt=args.corrupt) if units else []
            phases["check"] = time.perf_counter() - t_chk
            attempted += len(checks)
            failed += sum(not ok for _, ok, _ in checks)

            layers, wl_layers = {}, {}
            if args.trace and len(units) > wl.warm_from:
                with tracer.span("probes"):
                    wl_layers = wl.trace_layers(spark, tracer, units)
                    path = wl.probe_path(spark)
                    layers.update(pipeline_probe(spark, tracer, path))
                    layers.update(kernel_probe(tracer, kernel_texts(spark, path)))
                    for probe in (commit_probe, stream_probe):
                        m, c = probe(spark, tracer, path, work, corrupt=args.corrupt)
                        layers.update(m)
                        checks += c
                        attempted += len(c)
                        failed += sum(not ok for _, ok, _ in c)

                    def restart(master):
                        spark.stop()
                        return harness.start_session(tracer, work, n, master)[0]

                    eff, spark = scaling_probe(
                        spark, tracer, path, n, layers["pipeline.extract_conversations_s"],
                        restart)
                    layers["pipeline.scaling_eff_1_to_nproc"] = eff
                phases["probes"] = time.perf_counter() - t_chk - phases["check"]
    finally:
        rss.stop()
        if spark is not None:
            harness.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    host["membw_gbps_after"] = harness.membw_canary()
    host["cpu_canary_s_after"] = harness.cpu_canary()

    if len(units) <= wl.warm_from:
        raise RuntimeError(f"only {len(units)} units of work completed")
    warm = units[wl.warm_from:]
    warm_s = harness.median([u["wall"] for u in warm])
    e2e = {
        "setup_s": harness.median(setups[SETUP_SKIP:]),
        "cold_s": units[0]["wall"],
        "warm_s": warm_s,
        "items_per_s": warm[0]["items"] / warm_s,
        "python_peak_rss_mb": rss.peak_workers / 2**20,
    }
    layers["mem.peak_rss_mb"] = rss.peak / 2**20
    layers["mem.jvm_peak_rss_mb"] = rss.peak_jvm / 2**20
    record = {
        "workload": args.workload, "seed": args.seed, "item": wl.item,
        "units": [{"wall": u["wall"], "ops": u.get("ops")} for u in units],
        "setups": setups, "phases_s": phases, "checks": checks,
        "mem_peak_mb": {"jvm": rss.peak_jvm / 2**20, "workers": rss.peak_workers / 2**20},
        **wl.details,
    }
    print("# host " + json.dumps(host))
    print("# record " + json.dumps(record, default=str))
    if not args.trace:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    else:
        metrics = layer_metrics(tracer, units, e2e, gets, ships, warms, layers)
        print("# workload_layers " + json.dumps(wl_layers))
        tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                 f"trace-{args.workload}-seed{args.seed}.json"),
                    {"host": host, "record": record, "metrics": metrics,
                     "workload_layers": wl_layers})
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


#: per-layer metric -> unit; every one is measured on every workload
LAYER_UNITS = {
    "session.jvm_start_s": "s",
    "session.get_spark_s": "s",
    "deploy.ensure_shipped_s": "s",
    "setup.warmup_s": "s",
    "mem.peak_rss_mb": "MB",
    "mem.jvm_peak_rss_mb": "MB",
    **{f"spark.{k}": u for k, u in (
        ("shuffle_write_bytes", "B"), ("shuffle_records", "count"), ("spill_bytes", "B"),
        ("peak_exec_memory_bytes", "B"), ("python_exec_ms", "ms"),
        ("arrow_bytes_to_python", "B"), ("arrow_bytes_from_python", "B"),
        ("tasks", "count"), ("task_skew", "ratio"), ("plan_ms", "ms"),
        ("codegen_compiles", "count"), ("codegen_ms", "ms"))},
    **{f"pipeline.{k}_s": "s" for k in (
        "scan", "oversized_conv_ids", "conversations", "arrow_roundtrip",
        "extract_conversations", "kernel_self", "extract_turns", "classify_turns",
        "span_udf", "token_count_udf")},
    "pipeline.scaling_eff_1_to_nproc": "ratio",
    "kernels.count_pieces_batch_s": "s",
    "kernels.find_spans_s": "s",
    "kernels.span_hit_ratio": "ratio",
    "sources.load_conversations_jsonl_s": "s",
    "lineage.stage_by_bucket_s": "s",
    "lineage.commit_p50_s": "s",
    "iceberg.write_bucket_data_s": "s",
    "iceberg.write_lineage_row_s": "s",
    "lineage.extract_s": "s",
    "lineage.wall_sec_gap_s": "s",
    "lineage.resume_s": "s",
    "lineage.turns_per_s": "1/s",
    "lineage.files_written": "count",
    "lineage.small_files": "count",
    "lineage.bytes_written_per_input_byte": "ratio",
    "streaming.micro_batches": "count",
    "streaming.trigger_p50_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.turns_per_s": "1/s",
    **{f"traced.{k}": u for k, u in E2E_UNITS.items()},
    "trace.self_s": "s",
}


def layer_metrics(tracer, units, e2e, gets, ships, warms, layers) -> dict:
    """Per-layer metrics of a traced run.  Spark counters are totals per
    unit of work over the timed window; ``traced.*`` are the end-to-end
    metrics as measured with tracing on (their difference from the
    untraced run of the same seed is the tracing overhead) and
    ``trace.self_s`` the tracer's own time per unit."""
    import harness

    window = next(s for s in tracer.spans if s["name"] == "window")
    in_window = [s for s in tracer.spans
                 if window["start"] <= s["start"] and s["end"] <= window["end"]]
    spark_tot = harness.sum_counters(in_window)
    harvest = sum(s["end"] - s["start"] for s in in_window if s["name"] == "trace.harvest")
    nu = len(units)
    vals = {
        "session.jvm_start_s": gets[0],
        "session.get_spark_s": harness.median(gets[SETUP_SKIP:]),
        "deploy.ensure_shipped_s": harness.median(ships[SETUP_SKIP:]),
        "setup.warmup_s": harness.median(warms[SETUP_SKIP:]),
        "spark.task_skew": spark_tot.pop("task_skew"),
        "trace.self_s": harvest / nu,
        **{f"spark.{k}": v / nu for k, v in spark_tot.items()},
        **layers,
        **{f"traced.{k}": v for k, v in e2e.items()},
    }
    return {k: {"value": float(vals.get(k, 0.0)), "unit": u} for k, u in LAYER_UNITS.items()}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="self-test sizes (seconds of work, not a measurement)")
    p.add_argument("--corrupt", action="store_true",
                   help="self-test: corrupt the output before it is checked")
    args = p.parse_args(argv)
    if not _program_present():
        print(f"perfbench: the program (ocr_spark/, __spark_entry__.py) is not in {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
