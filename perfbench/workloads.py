"""The benchmark's workloads.

Each workload generates its input from the seed, runs a closed loop of
*units* of work (one client: the next Spark action is submitted only
after the previous one returned), and then checks the program's output
outside the timed window.  The first unit after set-up is the cold one.

==============  ===============================================  =====
workload        unit of work                                     item
==============  ===============================================  =====
flagship_batch  one ``extract_conversations`` pass to the noop   turn
                sink
catalog         one sweep over ``QUERY_SET`` (``toPandas`` of    query
                each query, in name order)
==============  ===============================================  =====

The commit path (``lineage``/``iceberg``/``sources``) and the streaming
path run as layer probes of the traced run (``layers.py``).
"""

from __future__ import annotations

import math
import os
import time
import traceback

from harness import digest, median, noop

# ---------------------------------------------------------------------------
# helpers shared by the workloads
# ---------------------------------------------------------------------------


def corrupt_output(df):
    """The self-test's deliberate corruption: flip one extracted answer."""
    from pyspark.sql import functions as F

    first = df.agg(F.min("conv_id")).collect()[0][0]
    hit = (F.col("conv_id") == first) & (F.col("role") == "assistant")
    return df.withColumn("answer", F.when(hit, F.lit("Z")).otherwise(F.col("answer")))


def golden_rows(turn_rows: list[dict]) -> list[tuple]:
    """Extraction output computed with the pure kernels alone: render the
    conversation, split at the model marker, then classify, extract the
    answer, locate spans and count tokens per turn."""
    from ocr_spark.kernels import (
        DeterministicTokenizer,
        classify_completion,
        extract_answer,
        find_spans,
        merge_system_turn,
        render_chat_template,
        split_completion,
    )
    from ocr_spark.pipeline import DEFAULT_VOCAB

    tok = DeterministicTokenizer()
    by_conv: dict[str, list] = {}
    for r in turn_rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    out = []
    for conv_id, rows in by_conv.items():
        rows.sort(key=lambda r: r["turn_idx"])
        messages, sys_text = [], None
        for r in rows:
            if r["role"] == "system" and sys_text is None and not messages:
                sys_text = r["text"]
            elif r["role"] == "user" and sys_text is not None:
                messages.append({"role": "user", "content": merge_system_turn(sys_text, r["text"])})
                sys_text = None
            else:
                messages.append({"role": r["role"], "content": r["text"]})
        split = split_completion(render_chat_template(messages))
        for r in rows:
            spans = tuple((k, s, e) for k in DEFAULT_VOCAB if k in r["text"]
                          for (s, e) in find_spans(r["text"], k))
            block_class, answer, status = "other", None, "ok"
            if r["role"] == "assistant":
                if split is None:
                    status = "fallback"
                else:
                    block_class, ok = classify_completion(r["text"] + "<end_of_turn>\n")
                    answer = extract_answer("<start_of_turn>model\n" + r["text"])
                    if not ok and answer is None:
                        status = "fallback"
            out.append((conv_id, r["turn_idx"], r["role"], r["text"], spans,
                        block_class, answer, status, tok.count_tokens(r["text"])))
    return sorted(out)


def output_rows(rows) -> list[tuple]:
    return sorted(
        (r["conv_id"], r["turn_idx"], r["role"], r["clean_text"],
         tuple((s["key"], s["start"], s["end"]) for s in r["char_spans"]),
         r["block_class"], r["answer"], r["status"], r["n_tokens"])
        for r in rows
    )


class Workload:
    name = ""
    item = ""
    min_units = 2
    max_units = 4
    #: units before this one are cold (the first) or still warming up;
    #: ``warm_s`` is the median of the units from here on
    warm_from = 1

    def __init__(self, tiny: bool):
        self.tiny = tiny
        self.details: dict = {}

    def generate(self, spark, work: str, seed: int) -> None:
        raise NotImplementedError

    def unit(self, spark, tracer, i: int) -> dict:
        """One unit of work: ``{"wall": s, "items": n}``, plus whatever
        the workload's own layer metrics need."""
        raise NotImplementedError

    def check(self, spark, corrupt: bool) -> list[tuple[str, bool, str]]:
        raise NotImplementedError

    def probe_path(self, spark) -> str:
        """Parquet of this workload's transcripts for the layer probes
        (written when the traced run first asks for it)."""
        raise NotImplementedError

    def trace_layers(self, spark, tracer, units: list[dict]) -> dict:
        """Layer metrics only this workload exercises (trace file)."""
        return {}


# ---------------------------------------------------------------------------
# flagship_batch
# ---------------------------------------------------------------------------


class FlagshipBatch(Workload):
    """Heavy-tailed synthetic transcripts plus conversations over the
    render cap: assembly shuffle, Arrow transfer, the Python kernel and
    the skew-guard reroute all run on every pass."""

    name = "flagship_batch"
    item = "turn"
    #: the second pass is still about 20% slower than the later ones
    #: while the JVM warms up, so it counts in neither ``cold_s`` nor
    #: ``warm_s``; a pass takes about 5 s on 4 cores
    min_units = 4
    max_units = 12
    warm_from = 2
    #: conversations checked against the pure-kernel golden
    SAMPLE = [f"conv{i:08d}" for i in range(16)]

    #: synthetic turns and giant conversations of the input: the giant's
    #: 80k turns are 11% of all turns, near the 9% of a 3.36M-turn corpus
    #: with four giants, and the reroute runs on every pass
    SYNTH_TURNS, GIANTS = 640_000, 1

    def generate(self, spark, work, seed):
        from gen import GIANT_TURNS, transcripts_with_giants

        n_turns = 5_000 if self.tiny else self.SYNTH_TURNS
        self.path = os.path.join(work, "flagship")
        df, self.n_turns = transcripts_with_giants(spark, n_turns, self.GIANTS, seed)
        df.write.parquet(self.path)
        self.details["input_turns"] = self.n_turns
        self.details["rerouted_turn_share"] = self.GIANTS * GIANT_TURNS / self.n_turns
        self._probe_args = (n_turns // 10, seed, work)

    def probe_path(self, spark):
        """The first tenth of the synthetic turns, without a giant: every
        conversation takes the render path, so the pipeline probe's stage
        prefixes all run on the same rows."""
        from gen import transcripts_with_giants

        n_turns, seed, work = self._probe_args
        path = os.path.join(work, "probe")
        transcripts_with_giants(spark, n_turns, 0, seed)[0].write.parquet(path)
        return path

    def unit(self, spark, tracer, i):
        from ocr_spark.pipeline import extract_conversations

        df = spark.read.parquet(self.path)
        t0 = time.perf_counter()
        with tracer.action("pipeline.extract_conversations.build", spark):
            out = extract_conversations(df)
        with tracer.action("sink.noop", spark) as sp:
            tracer.note_plan(sp, out)
            noop(out)
        return {"wall": time.perf_counter() - t0, "items": self.n_turns}

    def check(self, spark, corrupt):
        from pyspark.sql import functions as F

        from ocr_spark.pipeline import extract_conversations, extract_turns

        df = spark.read.parquet(self.path)
        routed: dict = {}
        out = extract_conversations(df, stats_out=routed)
        if corrupt:
            out = corrupt_output(out)
        out = out.persist()
        n, h = digest(out)
        n_keys = out.agg(F.count_distinct("conv_id", "turn_idx")).collect()[0][0]
        got = output_rows(out.filter(F.col("conv_id").isin(self.SAMPLE)).collect())
        out.unpersist()
        n_t, h_t = digest(extract_turns(df))
        inp = [r.asDict() for r in df.filter(F.col("conv_id").isin(self.SAMPLE)).collect()]
        gold = golden_rows(inp)
        return [
            ("rows_equal_input_turns", n == self.n_turns, f"{n} vs {self.n_turns}"),
            ("giants_rerouted", routed["n_rerouted"] == self.GIANTS,
             f"{routed['n_rerouted']} vs {self.GIANTS}"),
            ("conv_turn_key_unique", n_keys == n, f"{n_keys} keys, {n} rows"),
            ("digest_equals_extract_turns", (n, h) == (n_t, h_t), f"{h} vs {h_t}"),
            ("sample_matches_kernel_golden", got == gold and len(gold) > 0,
             f"{len(got)} rows vs {len(gold)} golden"),
        ]


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------

#: Queries tracked by name for planned changes, plus one query of each
#: catalog module those do not cover (run in name order).  Left out to fit the
#: time budget of a run: ``dedup_clusters`` and ``dedup_clusters_star``
#: (the connected components under ``dedup_cluster_sizes``, which
#: stays) and both ``bpe_ops`` queries (``bpe_encode``, ``bpe_train``:
#: 8 s of cold plus warm on this workload's tables).
QUERY_SET = sorted([
    # tracked by name
    "a10_kl_divergence", "dedup_cluster_sizes", "pipeline_extract", "semdedup",
    "udf_grouped_map",
    # one per remaining module
    "html_link_extract",      # extraction_docs
    "lm_bigram_score",        # ccnet_ops
    "topk_ngrams",            # ngram_ops
    "x3_render_multiturn",    # multiturn
    "tool_call_stats",        # agent_ops
    "mm_metadata",            # multimodal
])
TINY_QUERY_SET = ["a5_topk", "pipeline_extract", "topk_ngrams"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _kind(dtype) -> str:
    k = getattr(dtype, "kind", "O")
    return {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "datetime"}.get(k, "obj")


def _canon(pdf) -> list[tuple]:
    """Order-insensitive canonical rows: columns by name, floats to 9
    significant digits, every NULL alike."""
    import pandas as pd

    pdf = pdf[sorted(pdf.columns)]

    def norm(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<NULL>"
        if not hasattr(v, "__len__") and pd.isna(v):
            return "<NULL>"
        if isinstance(v, float):
            return f"{v:.9g}"
        return str(v)

    return sorted(tuple(norm(v) for v in row) for row in pdf.itertuples(index=False, name=None))


def oracle_mismatch(spark_pdf, oracle_pdf) -> str:
    """'' when the Spark result equals the DuckDB oracle's, else why not."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} vs {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} vs {len(oracle_pdf)}"
    kinds = {c: (_kind(spark_pdf[c].dtype), _kind(oracle_pdf[c].dtype))
             for c in spark_pdf.columns
             if _kind(spark_pdf[c].dtype) != _kind(oracle_pdf[c].dtype)}
    if kinds:
        return f"dtype kinds {kinds}"
    diff = [(a, b) for a, b in zip(_canon(spark_pdf), _canon(oracle_pdf)) if a != b]
    return f"values {diff[:2]}" if diff else ""


class Catalog(Workload):
    """Planning, codegen and the non-extraction operators (connected
    components, n-grams, dedup, ANN); the extraction kernel is nearly
    idle."""

    name = "catalog"
    item = "query"
    min_units = 2
    max_units = 4

    def generate(self, spark, work, seed):
        import __spark_entry__
        from gen import catalog_tables

        self.sf = os.path.join(work, "sf")
        self.details["table_rows"] = catalog_tables(self.sf, seed)
        self.names = TINY_QUERY_SET if self.tiny else QUERY_SET
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.work = work
        self.last: dict = {}

    def probe_path(self, spark):
        """``derived_transcripts`` of the generated tables."""
        from ocr_spark.queries.derive import derived_transcripts

        path = os.path.join(self.work, "probe")
        derived_transcripts(spark, self.sf).write.parquet(path)
        return path

    def unit(self, spark, tracer, i):
        ops = []
        t0 = time.perf_counter()
        for name in self.names:
            with tracer.action(f"q.{name}", spark, sweep=i) as sp:
                q0 = time.perf_counter()
                df = self.queries[name](spark, self.sf)
                tracer.note_plan(sp, df)
                self.last[name] = df.toPandas()
                ops.append(time.perf_counter() - q0)
        return {"wall": time.perf_counter() - t0, "ops": ops, "items": len(self.names)}

    def check(self, spark, corrupt):
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(self.sf, t + '.parquet')}')")
            out = []
            for k, name in enumerate(self.names):
                got = self.last[name]
                if corrupt and k == 0:
                    got = got.iloc[:-1]
                if name in self.oracles:
                    why = oracle_mismatch(got, con.execute(self.oracles[name]).df())
                else:
                    why = "" if len(got) else "no rows"
                out.append((f"oracle.{name}", not why, why or f"{len(got)} rows"))
            return out
        finally:
            con.close()

    def trace_layers(self, spark, tracer, units):
        from ocr_spark.queries import QUERIES

        cold = dict(zip(self.names, units[0]["ops"]))
        warm = {n: median([u["ops"][k] for u in units[self.warm_from:]])
                for k, n in enumerate(self.names)}
        plan, cg = {}, {}
        for s in tracer.spans:
            if s["name"].startswith("q.") and s["attrs"].get("sweep") == 0:
                c = s["attrs"].get("spark", {})
                plan[s["name"][2:]] = c.get("plan_ms", 0.0)
                cg[s["name"][2:]] = c.get("codegen_ms", 0.0)
        out = {}
        for n in self.names:
            mod = QUERIES[n].__module__.rsplit(".", 1)[-1]
            for key, val in (("cold_s", cold[n]), ("warm_s", warm[n]),
                             ("plan_ms", plan.get(n, 0.0)), ("codegen_ms", cg.get(n, 0.0))):
                out[f"queries.{mod}.{key}"] = out.get(f"queries.{mod}.{key}", 0.0) + val
            out[f"q.{n}.cold_s"] = cold[n]
            out[f"q.{n}.warm_s"] = warm[n]
        # every query's row, without its name
        out["query_rows"] = sorted([cold[n], warm[n]] for n in self.names)
        return out


WORKLOADS = {w.name: w for w in (FlagshipBatch, Catalog)}


def run_unit(wl, spark, tracer, i) -> dict | None:
    """One unit; a unit that raises is a failed operation, not a crash."""
    try:
        with tracer.span("unit", i=i):
            return wl.unit(spark, tracer, i)
    except Exception:  # counted as a failed operation; the traceback is kept
        traceback.print_exc()
        return None
