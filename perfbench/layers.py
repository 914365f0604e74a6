"""Per-layer probes of the traced run, run on the workload's own
transcripts after its timed window.

- ``pipeline``: stage prefixes of the extraction job built from the
  public functions of ``ocr_spark.pipeline`` and each written to the
  noop sink, so a stage's cost is its prefix minus the shorter prefix;
- ``kernels``: the in-process kernels on one fixed Arrow-batch-sized
  slice of the workload's texts (no Spark);
- commit path: JSONL load, bucket staging, commits up to an injected
  kill and the resume, timed at the snapshot-writer seam;
- streaming: ``run_stream`` over the same turns as JSON files;
- scaling: one extraction pass at ``local[1]`` against the same pass at
  ``local[nproc]``.
"""

from __future__ import annotations

import json
import os
import re
import time

import numpy as np

from harness import median, noop

#: the session's ``spark.sql.execution.arrow.maxRecordsPerBatch``
KERNEL_BATCH = 4000


def _timed(tracer, spark, name: str, build, reps: int) -> float:
    """Best of ``reps`` passes of build-then-noop-write (building counts:
    ``extract_conversations`` runs its skew pre-pass at build time)."""
    best = float("inf")
    for r in range(reps):
        with tracer.action(name, spark, rep=r):
            t0 = time.perf_counter()
            noop(build())
            best = min(best, time.perf_counter() - t0)
    return best


def pipeline_probe(spark, tracer, path: str, reps: int = 2) -> dict:
    from ocr_spark.pipeline import (
        DEFAULT_VOCAB,
        classify_turns,
        conversations,
        extract_conversations,
        extract_turns,
        oversized_conv_ids,
        span_udf,
        token_count_udf,
    )

    base = spark.read.parquet(path).select("conv_id", "turn_idx", "role", "text")
    # with a conversation over the render cap, extract_conversations would
    # assemble fewer rows than conversations() and kernel_self_s would
    # subtract work the extraction never did
    if oversized_conv_ids(base).limit(1).count():
        raise ValueError("the pipeline probe's input must take the render path only")

    def arrow_roundtrip():
        convs = conversations(base)
        # the render path's Arrow hop with an identity body: the
        # conversations cross to Python workers and back unchanged
        return convs.mapInPandas(lambda it: it, schema=convs.schema)

    stages = {
        "scan": lambda: base,
        "oversized_conv_ids": lambda: oversized_conv_ids(base),
        "conversations": lambda: conversations(base),
        "arrow_roundtrip": arrow_roundtrip,
        "extract_conversations": lambda: extract_conversations(base),
        "extract_turns": lambda: extract_turns(base),
        "classify_turns": lambda: classify_turns(base),
        "span_udf": lambda: base.select(span_udf(DEFAULT_VOCAB)("text").alias("s")),
        "token_count_udf": lambda: base.select(token_count_udf()("text").alias("n")),
    }
    out = {}
    with tracer.span("pipeline.probe"):
        for name, build in stages.items():
            out[f"pipeline.{name}_s"] = _timed(tracer, spark, f"pipeline.{name}", build, reps)
    out["pipeline.kernel_self_s"] = (
        out["pipeline.extract_conversations_s"]
        - out["pipeline.arrow_roundtrip_s"]
        - out["pipeline.oversized_conv_ids_s"]
    )
    return out


def kernel_texts(spark, path: str) -> list[str]:
    """The first ``KERNEL_BATCH`` turn texts of the workload, in
    (conv_id, turn_idx) order."""
    rows = (spark.read.parquet(path).select("conv_id", "turn_idx", "text")
            .orderBy("conv_id", "turn_idx").limit(KERNEL_BATCH).collect())
    return [r["text"] or "" for r in rows]


def kernel_probe(tracer, texts: list[str], reps: int = 5) -> dict:
    """``count_pieces_batch`` and the span stage (combined-alternation
    pre-filter, then ``find_spans`` per vocab key on the hit rows)."""
    from ocr_spark.kernels import find_spans
    from ocr_spark.kernels.tokenizer import count_pieces_batch
    from ocr_spark.pipeline import DEFAULT_VOCAB

    arr = np.asarray(texts, dtype=object)
    vocab_re = re.compile("|".join(re.escape(k) for k in DEFAULT_VOCAB))

    def spans():
        hits = [t for t in texts if vocab_re.search(t)]
        n = 0
        for t in hits:
            for k in DEFAULT_VOCAB:
                if k in t:
                    n += len(find_spans(t, k))
        return len(hits), n

    def best(fn):
        b = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            b = min(b, time.perf_counter() - t0)
        return b

    with tracer.span("kernels.probe", rows=len(texts)):
        with tracer.span("kernels.count_pieces_batch"):
            t_count = best(lambda: count_pieces_batch(arr))
        with tracer.span("kernels.find_spans"):
            t_spans = best(spans)
    n_hit, _ = spans()
    return {
        "kernels.count_pieces_batch_s": t_count,
        "kernels.find_spans_s": t_spans,
        "kernels.span_hit_ratio": n_hit / max(len(texts), 1),
    }


def scaling_probe(spark, tracer, path: str, cores: int, t_n: float, restart) -> tuple:
    """Efficiency of ``local[nproc]`` over ``local[1]`` on the probe
    input: T1 / (nproc x Tn).  ``restart(master)`` replaces the session;
    returns (efficiency, session at local[1])."""
    from ocr_spark.pipeline import extract_conversations

    spark = restart("local[1]")
    base = spark.read.parquet(path).select("conv_id", "turn_idx", "role", "text")
    t_1 = _timed(tracer, spark, "pipeline.extract_conversations@local[1]",
                 lambda: extract_conversations(base), 2)
    return t_1 / (cores * t_n), spark


# ---------------------------------------------------------------------------
# the commit path: sources -> lineage -> snapshot writer
# ---------------------------------------------------------------------------

#: buckets of the commit probe, and the commit after which the injected
#: kill stops the first run (the second, fresh run resumes).  Each commit
#: costs about 5 s on a 4-core host whatever its size (the one-row
#: lineage write alone takes about 4 s), so two buckets keep the traced
#: run well inside its time limit.
N_BUCKETS = 2
FAIL_AFTER = 1


def timing_writer(spark, out_dir: str, tracer):
    """A ``ParquetSnapshotWriter`` that records when each call into the
    snapshot-writer seam starts and ends (passed through the public
    ``writer=`` argument of ``CheckpointedExtraction``)."""
    from ocr_spark.iceberg import ParquetSnapshotWriter

    class TimingWriter(ParquetSnapshotWriter):
        def __init__(self):
            super().__init__(spark, out_dir)
            self.calls: list[dict] = []

        def _call(self, kind, fn, df, bucket):
            with tracer.action(f"iceberg.write_{kind}", spark, bucket=bucket):
                t0 = time.perf_counter()
                fn(df, bucket)
                t1 = time.perf_counter()
            self.calls.append({"kind": kind, "t0": t0, "t1": t1})

        def write_bucket_data(self, df, bucket):
            self._call("bucket_data", super().write_bucket_data, df, bucket)

        def write_lineage_row(self, lineage_df, bucket):
            self._call("lineage_row", super().write_lineage_row, lineage_df, bucket)

        def durations(self, kind: str) -> list[float]:
            return [c["t1"] - c["t0"] for c in self.calls if c["kind"] == kind]

        def commit_times(self, run_starts: list[float]) -> list[float]:
            """Per-bucket commit time, from outside: from the end of the
            previous commit's lineage write (or the start of the run) to
            the end of this commit's lineage write."""
            ends = sorted(c["t1"] for c in self.calls if c["kind"] == "lineage_row")
            return [e - max([s for s in run_starts if s <= e] + [p for p in ends if p < e])
                    for e in ends]

    return TimingWriter()


def _tree_files(path: str) -> list[int]:
    return [os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(path) for f in fs if not f.startswith((".", "_"))]


def commit_probe(spark, tracer, path: str, work: str, corrupt: bool = False):
    """The workload's transcripts written as ``{"messages": [...]}``
    JSONL, loaded with ``sources.load_conversations_jsonl``, staged by
    bucket, committed bucket by bucket until the injected kill, and
    resumed by a fresh ``CheckpointedExtraction``.  Returns (metrics,
    output checks)."""
    from pyspark.sql import functions as F

    from harness import digest
    from ocr_spark import sources
    from ocr_spark.lineage import CheckpointedExtraction, read_manifest
    from ocr_spark.pipeline import EXTRACT_SCHEMA, extract_conversations

    jsonl = os.path.join(work, "commit-jsonl")
    out_dir = os.path.join(work, "commit-out")
    sources.write_conversations_jsonl(spark.read.parquet(path), jsonl)
    in_bytes = sum(_tree_files(jsonl))
    n_turns = spark.read.parquet(path).count()
    writer = timing_writer(spark, out_dir, tracer)

    with tracer.span("commit.probe"):
        with tracer.action("sources.load_conversations_jsonl", spark):
            t0 = time.perf_counter()
            noop(sources.load_conversations_jsonl(spark, jsonl))
            t_load = time.perf_counter() - t0
        ck = CheckpointedExtraction(spark, out_dir, n_buckets=N_BUCKETS, writer=writer)
        with tracer.action("lineage.stage_by_bucket", spark):
            t_start = time.perf_counter()
            ck.stage_by_bucket(sources.load_conversations_jsonl(spark, jsonl))
            t_stage = time.perf_counter()
        with tracer.span("lineage.run_until_kill"):
            try:
                ck.run(fail_after=FAIL_AFTER)
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
        t_resume = time.perf_counter()
        with tracer.span("lineage.resume"):
            stats = CheckpointedExtraction(
                spark, out_dir, n_buckets=N_BUCKETS, writer=writer).run()
        t_end = time.perf_counter()
    commits = writer.commit_times([t_stage, t_resume])
    data, lin = writer.durations("bucket_data"), writer.durations("lineage_row")
    sizes = [s for sub in ("staged", "data", "lineage")
             for s in _tree_files(os.path.join(out_dir, sub))]
    metrics = {
        "sources.load_conversations_jsonl_s": t_load,
        "lineage.stage_by_bucket_s": t_stage - t_start,
        "lineage.commit_p50_s": median(commits),
        "iceberg.write_bucket_data_s": median(data),
        "iceberg.write_lineage_row_s": median(lin),
        "lineage.extract_s": median([c - d - w for c, d, w in zip(commits, data, lin)]),
        "lineage.wall_sec_gap_s": median(
            [c - s.wall_sec for c, s in zip(commits[-len(stats):], stats)]),
        "lineage.resume_s": t_end - t_resume,
        "lineage.turns_per_s": n_turns / (t_end - t_start),
        "lineage.files_written": len(sizes),
        "lineage.small_files": sum(s < (1 << 20) for s in sizes),
        "lineage.bytes_written_per_input_byte": sum(sizes) / in_bytes,
    }

    with tracer.span("commit.check"):
        committed = read_manifest(out_dir)["committed"]
        ck = CheckpointedExtraction(spark, out_dir, n_buckets=N_BUCKETS, writer=writer)
        lin_rows = ck.read_lineage().groupBy("bucket").agg(
            F.count(F.lit(1)).alias("rows"), F.sum("n_turns").alias("turns")).collect()
        cols = [f.name for f in EXTRACT_SCHEMA.fields]
        got = ck.read_output().select(*cols)
        if corrupt:
            from workloads import corrupt_output

            got = corrupt_output(got)
        want = extract_conversations(sources.load_conversations_jsonl(spark, jsonl)).select(*cols)
        d_got, d_want = digest(got), digest(want)
        lin_turns = sum(r["turns"] for r in lin_rows)
    checks = [
        ("commit.all_buckets_committed", sorted(committed) == list(range(N_BUCKETS)),
         str(committed)),
        ("commit.one_lineage_row_per_bucket",
         len(lin_rows) == N_BUCKETS and all(r["rows"] == 1 for r in lin_rows),
         str(sorted((r["bucket"], r["rows"]) for r in lin_rows))),
        ("commit.lineage_turns_equal_input", lin_turns == n_turns, f"{lin_turns} vs {n_turns}"),
        ("commit.output_digest_equals_direct_extract", d_got == d_want, f"{d_got} vs {d_want}"),
    ]
    return metrics, checks


# ---------------------------------------------------------------------------
# the streaming path
# ---------------------------------------------------------------------------

#: micro-batches the stream probe drains (at the module's 64 files per
#: trigger)
MICRO_BATCHES = 2
FILES_PER_TRIGGER = 64


def _progress(q) -> list[dict]:
    out = []
    for p in q.recentProgress:
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def stream_probe(spark, tracer, path: str, work: str, corrupt: bool = False):
    """The workload's transcripts as turn-level JSON files
    (``TRANSCRIPT_SCHEMA``), drained by ``streaming.run_stream``
    (availableNow, foreachBatch commits).  Returns (metrics, checks)."""
    from pyspark.sql import functions as F

    from ocr_spark.streaming import run_stream

    src = spark.read.parquet(path)
    n_turns = src.count()
    in_dir = os.path.join(work, "stream-in")
    out_dir = os.path.join(work, "stream-out")
    src.repartition(MICRO_BATCHES * FILES_PER_TRIGGER).write.mode("overwrite").json(in_dir)

    with tracer.span("streaming.run_stream"):
        t0 = time.perf_counter()
        q = run_stream(spark, in_dir, out_dir)
        wall = time.perf_counter() - t0
    prog = [p for p in _progress(q) if p.get("numInputRows", 0) > 0]

    def p50(key):
        return median([float(p["durationMs"].get(key, 0)) for p in prog])

    metrics = {
        "streaming.micro_batches": len(prog),
        "streaming.trigger_p50_ms": p50("triggerExecution"),
        "streaming.add_batch_ms": p50("addBatch"),
        "streaming.get_batch_ms": p50("getBatch"),
        "streaming.query_planning_ms": p50("queryPlanning"),
        "streaming.wal_commit_ms": p50("walCommit"),
        "streaming.latest_offset_ms": p50("latestOffset"),
        "streaming.turns_per_s": n_turns / wall,
    }
    with tracer.span("streaming.check"):
        out = spark.read.parquet(os.path.join(out_dir, "data"))
        if corrupt:
            out = out.unionByName(out.limit(1))
        r = out.agg(F.count(F.lit(1)).alias("n"),
                    F.count_distinct("conv_id", "turn_idx").alias("k")).collect()[0]
    checks = [
        ("stream.rows_equal_input_turns", r["n"] == n_turns, f"{r['n']} vs {n_turns}"),
        ("stream.no_duplicate_turns", r["k"] == r["n"], f"{r['k']} keys, {r['n']} rows"),
    ]
    return metrics, checks
