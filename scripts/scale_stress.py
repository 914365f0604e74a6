"""10x flagship scale-stress for the per-turn extraction job.

Builds the bench corpus at 10x (default 10M conversations -> ~165M
turns) plus one 10^5-turn conversation (over ``MAX_RENDER_TURNS``),
runs `extract_conversations` end-to-end, and checks at THAT scale:

  - one output row per input turn,
  - a sample of conversations, the giant included, byte-equal to the
    pure-kernel golden (the same render -> split -> classify oracle
    tests/test_pipeline.py pins every run),
  - sustained turns/s.

This is the north_rule's 10^12-turn story scaled as far as one box
allows; results go to BENCH.md §1d.  Prints one JSON line.

Usage: python3 scripts/scale_stress.py  [env: OCR_STRESS_CONVS,
OCR_STRESS_DIR, SPARK_GRAFT_CPUS]
"""

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CONVS = int(os.environ.get("OCR_STRESS_CONVS", 10_000_000))
#: conversations compared with the pure-kernel golden
SAMPLE_IDS = ["convgiant0"] + [f"conv{i:08d}" for i in range(0, 10 * 997, 997)]


def main() -> int:
    from pyspark.sql import functions as F

    from ocr_spark.pipeline import extract_conversations
    from ocr_spark.session import get_spark
    from ocr_spark.synth import transcripts
    from tests.test_pipeline import _golden_rows, _spark_rows

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    base_dir = os.environ.get(
        "OCR_STRESS_DIR",
        "/dev/shm/ocr_stress" if os.path.isdir("/dev/shm") else "/tmp/ocr_stress",
    )
    data_dir = os.path.join(base_dir, "turns10x")
    shutil.rmtree(base_dir, ignore_errors=True)

    spark = get_spark(app_name="ocr_scale_stress", master=f"local[{cpus}]",
                      shuffle_partitions=8 * cpus)

    # ---- corpus: 10x synth + 1 giant (10^5 turns) -------------------
    t0 = time.time()
    t = transcripts(spark, N_CONVS).select("conv_id", "turn_idx", "role", "text")
    i = F.col("id")
    payload = (
        F.when(i % 7 == 0, F.concat(F.lit("Paris is North of City 50337, turn "),
                                    i.cast("string")))
        .when(i % 7 == 1, F.concat((i % 90 * 100).cast("string"), F.lit(" km")))
        .when(i % 7 == 2, F.lit("the best option is B"))
        .when(i % 7 == 4, F.lit("i am not sure"))
        .otherwise(F.concat(F.lit("plain turn payload "), i.cast("string")))
    )
    giant = spark.range(100_000).select(
        F.lit("convgiant0").alias("conv_id"), i.cast("int").alias("turn_idx"),
        F.when(i == 0, F.lit("system")).when(i % 2 == 1, F.lit("user"))
        .otherwise(F.lit("assistant")).alias("role"),
        payload.alias("text"),
    )
    t.unionByName(giant).write.mode("overwrite").parquet(data_dir)
    gen_sec = time.time() - t0

    df = spark.read.parquet(data_dir)
    n_turns = df.count()

    # ---- end-to-end run (warmup + 2 measured passes) ------------------
    def run_pass():
        t0 = time.time()
        extract_conversations(df).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    warm = run_pass()
    passes = [run_pass() for _ in range(2)]
    best = min(passes)

    # ---- row count and golden equality ---------------------------------
    out = extract_conversations(df)
    n_out = out.count()
    assert n_out == n_turns, f"{n_out} output rows for {n_turns} input turns"
    in_sample = F.col("conv_id").isin(SAMPLE_IDS)
    golden = _golden_rows([r.asDict() for r in df.filter(in_sample).collect()])
    got = _spark_rows(out.filter(in_sample))
    assert got == golden, "sampled conversations diverge from the kernel golden"

    result = {
        "metric": "scale_stress_10x_extraction",
        "n_convs": N_CONVS,
        "n_turns": n_turns,
        "gen_sec": round(gen_sec, 1),
        "warmup_sec": round(warm, 1),
        "pass_secs": [round(p, 1) for p in passes],
        "best_sec": round(best, 1),
        "turns_per_sec": round(n_turns / best, 1),
        "golden_rows_checked": len(golden),
        "cpus": cpus,
    }
    print(json.dumps(result))
    shutil.rmtree(base_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
