#!/usr/bin/env python3
"""Benchmark harness (driver contract + north_rule scaling evidence).

Prints exactly ONE JSON line on stdout:

    {"metric": ..., "value": <sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <float>,
     "throughput": {...}, "scaling": {...}}

Sections:

1. **Headline queries** — every catalog query from
   ``__spark_entry__.queries()`` executed at ``$SPARK_GRAFT_SF_DIR``
   (default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``,
   timed to a noop sink (full plan execution, no driver collect cost).

2. **Extraction throughput** — the flagship extraction job (per-turn:
   native classify -> one Arrow-batched pandas-UDF stage) over a
   deterministic synthetic transcript table (ocr_spark.synth, skewed
   turn counts), reported as turns/sec.  This is the BASELINE.md
   north-star metric.

3. **Scaling efficiency** — the same extraction job, same input
   parquet, run in fresh CPU-pinned subprocesses at three parallelism
   levels (cpus/16, cpus/4, cpus), yielding two N-vs-4N pairs
   (sandbox stand-in for N vs 4N executors per the driver
   instruction).  efficiency = (throughput_4N / throughput_N) / 4;
   the north_rule gate is >= 0.8.  Timing excludes JVM/session
   startup and first-pass warmup (JIT + Python worker fork) at every
   level.  See BENCH.md for why the top pair underestimates a real
   cluster (shared single-box DRAM bandwidth).

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 32),
OCR_BENCH_CONVS (synthetic conversation count, default 1000000 ->
~16.5M turns; sized so compute dominates the per-job serial floor at
4N cores), OCR_BENCH_SKIP_SCALING=1 to skip section 3.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# ---------------------------------------------------------------------------
# throughput worker (runs in a fresh subprocess per parallelism level)
# ---------------------------------------------------------------------------

def membw_canary(mb: int = 256, reps: int = 3) -> float:
    """Best-case copy bandwidth (GB/s, read+write) of this process.

    A trivial DRAM canary: the extraction job on this shared host is
    memory-bandwidth-sensitive, and round-over-round bench swings have
    fingerprinted as bus contention rather than code regressions
    (BENCH.md).  Reporting the canary next to every throughput number
    lets the driver distinguish a contended run from a real slowdown.
    """
    import numpy as np

    a = np.ones(mb * 1024 * 1024 // 8, dtype=np.float64)
    b = np.empty_like(a)
    np.copyto(b, a)  # pay first-touch outside the timed reps
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        np.copyto(b, a)
        best = min(best, time.perf_counter() - t0)
    return round(2 * mb / 1024 / best, 2)


def run_throughput(cpus: int, data_dir: str) -> dict:
    """Run the extraction job on ``data_dir`` at ``local[cpus]``.

    Returns {"cpus", "turns", "elapsed_sec", "turns_per_sec",
    "native_elapsed_sec", "native_turns_per_sec", "render_pass_secs",
    "native_pass_secs", "membw_gbps_before", "membw_gbps_after"}.
    """
    from ocr_spark.deploy import ensure_shipped
    from ocr_spark.pipeline import classify_turns, extract_conversations
    from ocr_spark.session import get_spark

    membw_before = membw_canary()

    spark = get_spark(
        app_name=f"ocr_bench_tp_{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=8 * cpus,
    )
    ensure_shipped(spark)
    df = spark.read.parquet(data_dir)
    n_turns = df.count()

    # Warmup = one full pass: pays the one-time JVM JIT, shuffle-file
    # allocation, and Python worker fork/import cost outside the
    # measured window (on a long-lived cluster job these amortize to
    # zero; measured cold/warm gap is ~2x).  Then best-of-4 measured
    # passes BOTH paths (min-time practice: the steady-state estimate
    # least polluted by scheduler/GC/bus noise, applied identically at
    # every parallelism level); the per-pass times go into the JSON so
    # a contended run — one slow outlier pass vs uniformly slow passes
    # — is visible to the driver, not just to BENCH.md prose.
    _noop(extract_conversations(df))
    _noop(classify_turns(df))

    render_passes = []
    for _ in range(4):
        t0 = time.time()
        _noop(extract_conversations(df))
        render_passes.append(round(time.time() - t0, 3))
    elapsed = min(render_passes)

    native_passes = []
    for _ in range(4):
        t0 = time.time()
        _noop(classify_turns(df))
        native_passes.append(round(time.time() - t0, 3))
    native_elapsed = min(native_passes)

    spark.stop()
    return {
        "cpus": cpus,
        "turns": n_turns,
        "elapsed_sec": round(elapsed, 3),
        "turns_per_sec": round(n_turns / elapsed, 1),
        "native_elapsed_sec": round(native_elapsed, 3),
        "native_turns_per_sec": round(n_turns / native_elapsed, 1),
        "render_pass_secs": render_passes,
        "native_pass_secs": native_passes,
        "membw_gbps_before": membw_before,
        "membw_gbps_after": membw_canary(),
    }


def _spawn_throughput(cpus: int, data_dir: str) -> dict:
    """Run run_throughput in a fresh process (clean JVM per level).

    The process is pinned to ``cpus`` physical cores when taskset is
    available: local[N] only caps *task slots*, while JVM shuffle/GC
    threads and the forked Python UDF workers would otherwise spill
    onto the machine's idle cores and inflate the small-N baseline —
    pinning makes the N vs 4N comparison an honest stand-in for N vs
    4N executors.
    """
    cmd = [sys.executable, os.path.abspath(__file__), "--throughput-worker",
           "--cpus", str(cpus), "--data", data_dir]
    if shutil.which("taskset"):
        cmd = ["taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=3600,
        cwd=os.path.dirname(os.path.abspath(__file__)),
    )
    if out.returncode != 0:
        raise RuntimeError(f"throughput worker failed:\n{out.stderr[-4000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


# ---------------------------------------------------------------------------
# adversarial-diameter connected components (VERDICT r3 #7)
# ---------------------------------------------------------------------------

def bench_cc_star_chain(spark, n_edges: int = 10_000) -> dict:
    """Prove the O(log n) star-contraction claim with a measured number.

    A chain 0-1-2-...-n is the adversarial input for label propagation:
    component diameter == corpus size, so the min-label loop needs
    ~n rounds while large-star/small-star contraction needs O(log n).
    Runs :func:`connected_components_star` on a 10^4-edge chain and
    reports the measured round count (the loop's own max_rounds=24
    would raise if contraction were not logarithmic) plus a correctness
    certificate: every node must land in cluster 0.
    """
    from pyspark.sql import functions as F

    from ocr_spark.queries.pipeline_ops import connected_components_star

    edges = spark.range(n_edges).selectExpr("id AS s", "id + 1 AS d")
    stats: dict = {}
    t0 = time.time()
    labels = connected_components_star(edges, stats=stats)
    row = labels.agg(
        F.count("*").alias("n"), F.max("cluster_id").alias("mx")
    ).collect()[0]
    sec = round(time.time() - t0, 3)
    assert row["n"] == n_edges + 1 and row["mx"] == 0, (
        f"chain CC wrong: {row['n']} nodes, max label {row['mx']}"
    )
    return {"chain_edges": n_edges, "rounds": stats["rounds"],
            "min_label_rounds_needed": n_edges, "sec": sec}


# ---------------------------------------------------------------------------
# streaming assembler throughput (VERDICT r3 #8)
# ---------------------------------------------------------------------------

def bench_stream_assemble(spark, n_convs: int = 20_000, n_files: int = 16,
                          files_per_batch: int = 4) -> dict:
    """Sustained turns/s through the stateful conversation assembler.

    The assembler (applyInPandasWithState, EOC-marker-gated) is
    correctness-tested on small splits; this measures its state-store
    cost at bench scale: the synthetic corpus + markers is dropped as
    ``n_files`` JSONL files and drained with availableNow at
    ``files_per_batch`` per micro-batch, so conversations genuinely
    cross state-store boundaries across ~n_files/files_per_batch
    micro-batches.  Reported turns/s EXCLUDES the marker control rows.

    Two configurations per round (round-5 profile, BENCH.md §6): the
    4-micro-batch drain (state genuinely crosses micro-batch
    boundaries — the correctness-shaped number) and a single-batch
    drain of the same files (the throughput-shaped number: the
    assembler's cost is per-micro-batch state machinery, so trigger
    sizing is the 4x lever; profile in scripts/profile_assembler.py).
    """
    from ocr_spark.streaming import run_assemble_stream, with_eoc_markers
    from ocr_spark.synth import transcripts

    tmp = tempfile.mkdtemp(
        prefix="ocr_bench_stream_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )
    inp = os.path.join(tmp, "in")
    out = os.path.join(tmp, "out")
    try:
        t = transcripts(spark, n_convs)
        n_turns = t.count()
        # parquet drop files: keeps source parsing out of the number —
        # this section measures the STATE-STORE + assembly cost
        with_eoc_markers(t).repartition(n_files).write.mode(
            "overwrite").parquet(inp)
        t0 = time.time()
        pending = run_assemble_stream(spark, inp, out,
                                      max_files=files_per_batch, fmt="parquet")
        sec = round(time.time() - t0, 3)
        out_rows = spark.read.parquet(os.path.join(out, "data")).count()
        assert out_rows == n_turns and pending == 0, (
            f"stream drain incomplete: {out_rows}/{n_turns} rows, "
            f"{pending} conversations still buffered"
        )
        # tuned config: every file in ONE micro-batch — one state-store
        # load/commit cycle instead of n_files/files_per_batch
        out1 = os.path.join(tmp, "out1")
        t0 = time.time()
        pending1 = run_assemble_stream(spark, inp, out1,
                                       max_files=n_files, fmt="parquet")
        sec1 = round(time.time() - t0, 3)
        out_rows1 = spark.read.parquet(os.path.join(out1, "data")).count()
        assert out_rows1 == n_turns and pending1 == 0
        return {"convs": n_convs, "turns": n_turns, "sec": sec,
                "turns_per_sec": round(n_turns / sec, 1),
                "micro_batches": n_files // files_per_batch,
                "sec_single_batch": sec1,
                "turns_per_sec_single_batch": round(n_turns / sec1, 1)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# ---------------------------------------------------------------------------
# main bench
# ---------------------------------------------------------------------------

def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--throughput-worker", action="store_true")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--data", type=str, default=None)
    ap.add_argument("--warm-data", type=str, default=None)
    ap.add_argument("--skip-scaling", action="store_true")
    ap.add_argument("--skip-queries", action="store_true")
    args = ap.parse_args()

    if args.throughput_worker:
        print(json.dumps(run_throughput(args.cpus, args.data)))
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_convs = int(os.environ.get("OCR_BENCH_CONVS", "1000000"))
    skip_scaling = args.skip_scaling or os.environ.get("OCR_BENCH_SKIP_SCALING") == "1"

    import __spark_entry__ as entry_mod
    from ocr_spark.session import get_spark
    from ocr_spark.synth import transcripts

    spark = get_spark(app_name="ocr_bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 32))

    # -- section 1: headline queries ------------------------------------
    query_secs: dict[str, float] = {}
    total = 0.0
    if not args.skip_queries:
        qs = entry_mod.queries()
        # Session warmup so the alphabetically-first queries don't absorb
        # the one-time JVM JIT + Python/pandas worker fork cost (measured
        # ~5s folded into whichever query runs first otherwise).
        for warm_name in ("a10_kl_divergence", "udf_grouped_map", "x13_token_count"):
            if warm_name in qs:
                _noop(qs[warm_name](spark, sf_dir))
        for name in sorted(qs):
            t0 = time.time()
            _noop(qs[name](spark, sf_dir))
            dt = time.time() - t0
            query_secs[name] = round(dt, 3)
            total += dt

    # -- section 1b: star-CC adversarial chain + streaming assembler ----
    cc_star = None
    stream_tp = None
    if not args.skip_queries:
        cc_star = bench_cc_star_chain(spark)
        stream_tp = bench_stream_assemble(spark)

    # -- section 2+3: synth transcripts, throughput, scaling ------------
    tmp = tempfile.mkdtemp(
        prefix="ocr_bench_transcripts_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )
    data_dir = os.path.join(tmp, "transcripts.parquet")
    result: dict = {}
    try:
        transcripts(spark, n_convs, partitions=8 * cpus).write.mode(
            "overwrite").parquet(data_dir)
        spark.stop()

        tp_4n = _spawn_throughput(cpus, data_dir)
        scaling = None
        if not skip_scaling:
            # Three pinned levels -> two N-vs-4N pairs on the same input.
            # The low pair (cpus/16 -> cpus/4) shows the pipeline's
            # structural scaling; the high pair (cpus/4 -> cpus) runs
            # into single-box DRAM bandwidth that a real 4N-executor
            # cluster would not share (4N machines = 4N memory buses).
            levels = {cpus: tp_4n}
            for c in (max(cpus // 4, 1), max(cpus // 16, 1)):
                if c not in levels:
                    levels[c] = _spawn_throughput(c, data_dir)

            def pair(n: int, n4: int) -> dict:
                lo, hi = levels[n], levels[n4]
                return {
                    "cores_n": n,
                    "cores_4n": n4,
                    "throughput_n": lo["turns_per_sec"],
                    "throughput_4n": hi["turns_per_sec"],
                    "efficiency": round(
                        hi["turns_per_sec"] / lo["turns_per_sec"] / (n4 / n), 3),
                    "native_throughput_n": lo["native_turns_per_sec"],
                    "native_throughput_4n": hi["native_turns_per_sec"],
                    "native_efficiency": round(
                        hi["native_turns_per_sec"]
                        / lo["native_turns_per_sec"] / (n4 / n), 3),
                }

            pairs = [pair(max(cpus // 4, 1), cpus)]
            if cpus >= 16:
                pairs.insert(0, pair(max(cpus // 16, 1), max(cpus // 4, 1)))
            scaling = {
                "levels": [levels[c] for c in sorted(levels)],
                "pairs": pairs,
            }

        result = {
            "metric": "headline query wall time (catalog) + extraction turns/sec",
            "value": round(total, 3),
            "unit": "sec",
            "queries": query_secs,
            "sf": _sf_of(sf_dir),
            "throughput": tp_4n,
            "scaling": scaling,
            "cc_star_chain": cc_star,
            "stream_assemble": stream_tp,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(result))


if __name__ == "__main__":
    main()
