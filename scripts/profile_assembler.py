"""Phase breakdown of the stateful stream assembler (VERDICT r4 #3).

bench_stream_assemble read 13.7-18k turns/s — ~100x below the batch
extraction job.  This script decomposes WHERE the time goes by running
the same drain with pieces removed, on the same /dev/shm parquet drop
files and the same session:

  A. full pipeline       — assembler (applyInPandasWithState), turns
                           flattened back out (inline), the batch job's
                           per-turn extraction (one ArrowEvalPython
                           stage), parquet sink
  B. assembler only      — same stateful op, kernel stage removed
                           (assembled conv rows straight to the sink)
  C. stateless passthrough — readStream -> parquet sink, no stateful
                           op at all: micro-batch planning + source +
                           sink floor
  D. batch reference     — the same rows through the batch
                           extract_conversations, the per-turn job
                           (the 100x comparator)

plus knob sweeps on the full pipeline: micro-batch count
(files_per_batch), Arrow maxRecordsPerBatch, RocksDB vs on-heap state
store.  Prints one JSON line; narrative goes to BENCH.md.
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CONVS = int(os.environ.get("OCR_PROF_CONVS", 20_000))
N_FILES = 16


def _drain(stream_df, out_dir):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", os.path.join(out_dir, "data"))
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q.lastProgress


def main() -> int:
    from pyspark.sql import functions as F

    from ocr_spark.pipeline import extract_conversations
    from ocr_spark.session import get_spark
    from ocr_spark.streaming import (
        ROCKSDB_PROVIDER,
        read_transcript_stream,
        run_assemble_stream,
        stream_assemble_extract,
        with_eoc_markers,
    )
    from ocr_spark.synth import transcripts

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark(app_name="assembler_profile", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    tmp = tempfile.mkdtemp(
        prefix="ocr_prof_stream_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )
    results = {"n_convs": N_CONVS, "cpus": cpus}
    try:
        inp = os.path.join(tmp, "in")
        t = transcripts(spark, N_CONVS)
        n_turns = t.count()
        results["n_turns"] = n_turns
        with_eoc_markers(t).repartition(N_FILES).write.mode(
            "overwrite").parquet(inp)

        def timed(label, fn):
            t0 = time.time()
            fn()
            sec = round(time.time() - t0, 2)
            results[label] = {"sec": sec,
                              "turns_per_sec": round(n_turns / sec, 1)}
            print(f"  {label}: {sec}s = {n_turns / sec:,.0f} turns/s",
                  file=sys.stderr)

        def fresh_out():
            d = os.path.join(tmp, f"out{len(os.listdir(tmp))}")
            return d

        # A. full pipeline, default knobs (4 micro-batches, on-heap)
        timed("A_full", lambda: run_assemble_stream(
            spark, inp, fresh_out(), max_files=4, fmt="parquet"))

        # B. assembler only (stateful op, kernel removed): reuse the
        # library operator but drop its downstream extraction by
        # draining the ASSEMBLED stream before extraction.  The
        # operator's assembled schema is internal, so rebuild the same
        # applyInPandasWithState here via the public fn with a noop
        # kernel substitute: stream_assemble_extract is the composed
        # op, so instead measure C (floor) and attribute B = A - C -
        # kernel cost measured in D'.  To get a DIRECT number we run
        # the composed op but sink only counts:
        def b_assembler_only():
            out = fresh_out()
            s = read_transcript_stream(spark, inp, fmt="parquet", max_files=4)
            # group+buffer with the SAME state row shape, emit 1 row per
            # conv, no kernel: isolates applyInPandasWithState cost
            from pyspark.sql.streaming.state import GroupStateTimeout
            from pyspark.sql.types import (
                IntegerType, StringType, StructField, StructType,
            )
            out_schema = StructType([
                StructField("conv_id", StringType()),
                StructField("n", IntegerType()),
            ])
            state_schema = StructType([
                StructField("turn_idxs", StringType()),
                StructField("n_expected", IntegerType()),
            ])

            def assemble(key, pdfs, state):
                import pandas as pd
                n_seen, n_expected = (state.get if state.exists else (0, -1))
                n_seen = int(n_seen or 0)
                for pdf in pdfs:
                    eoc = pdf["role"] == "__eoc__"
                    n_seen += int((~eoc).sum())
                    if eoc.any():
                        n_expected = int(pdf.loc[eoc, "turn_idx"].iloc[0])
                if 0 <= n_expected <= n_seen:
                    state.remove()
                    return iter([pd.DataFrame(
                        {"conv_id": [key[0]], "n": [n_seen]})])
                state.update((str(n_seen), n_expected))
                return iter([])

            assembled = (
                s.select("conv_id", "turn_idx", "role")
                .groupBy("conv_id")
                .applyInPandasWithState(
                    assemble, outputStructType=out_schema,
                    stateStructType=state_schema, outputMode="append",
                    timeoutConf=GroupStateTimeout.NoTimeout,
                )
            )
            _drain(assembled, out)

        timed("B_state_op_only_counts", b_assembler_only)

        # C. stateless passthrough floor (source + planning + sink)
        def c_floor():
            out = fresh_out()
            s = read_transcript_stream(spark, inp, fmt="parquet", max_files=4)
            _drain(s.filter(F.col("role") != "__eoc__"), out)

        timed("C_stateless_floor", c_floor)

        # D. batch reference over the same rows
        def d_batch():
            df = spark.read.parquet(inp).filter(F.col("role") != "__eoc__")
            extract_conversations(df).write.format("noop").mode(
                "overwrite").save()

        timed("D_batch_reference", d_batch)

        # ---- knob sweeps on the full pipeline --------------------------
        timed("E_one_microbatch", lambda: run_assemble_stream(
            spark, inp, fresh_out(), max_files=N_FILES, fmt="parquet"))
        timed("F_16_microbatches", lambda: run_assemble_stream(
            spark, inp, fresh_out(), max_files=1, fmt="parquet"))

        def with_arrow_batch(nrec, label):
            key = "spark.sql.execution.arrow.maxRecordsPerBatch"
            prev = spark.conf.get(key)
            spark.conf.set(key, str(nrec))
            try:
                timed(label, lambda: run_assemble_stream(
                    spark, inp, fresh_out(), max_files=4, fmt="parquet"))
            finally:
                spark.conf.set(key, prev)

        with_arrow_batch(40_000, "G_arrow40k")

        timed("H_rocksdb", lambda: run_assemble_stream(
            spark, inp, fresh_out(), max_files=4, fmt="parquet",
            rocksdb=True))

        # shuffle-partition sweep: the stateful op shuffles by conv_id
        # into spark.sql.shuffle.partitions state-store partitions
        def with_shuffle(n, label):
            key = "spark.sql.shuffle.partitions"
            prev = spark.conf.get(key)
            spark.conf.set(key, str(n))
            try:
                timed(label, lambda: run_assemble_stream(
                    spark, inp, fresh_out(), max_files=4, fmt="parquet"))
            finally:
                spark.conf.set(key, prev)

        with_shuffle(8, "I_shuffle8")
        with_shuffle(128, "J_shuffle128")

        print(json.dumps(results))
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
