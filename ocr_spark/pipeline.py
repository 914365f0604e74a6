"""End-to-end transcript extraction pipeline (SURVEY.md §3, north_rule).

One per-turn job over the canonical transcript table
``(conv_id, turn_idx, role, text, tool, ts)``: :func:`extract_turns`
(which :func:`extract_conversations`, the flagship entry point, calls)
scans the turns, runs the native :func:`classify_turns` column
expressions — block classification (train_cities.py:69-95) and answer
extraction (utils.py:131-147), whole-stage codegen, no Python — and
then a single Arrow-batched ``ArrowEvalPython`` stage holding both
vectorized pandas UDFs: :func:`span_udf` (char-span location,
utils.py:160-196) and :func:`token_count_udf`.  One row out per input
turn, with a per-turn status (ok / fallback) for lineage counters.
No shuffle, no join, no union.

Why no conversation assembly is needed.  The reference renders a whole
conversation (merge system turn, utils.py:72-74 → gemma render,
train_cities.py:44-48) and splits it at the first model marker
(train_cities.py:51-57) before classifying the completion.  The split
succeeds whenever the conversation has an assistant turn, and only
assistant rows are ever classified — an assistant row implies its
conversation has one — so every output column is a function of the
turn alone.  tests/test_pipeline.py pins the output row for row
against the render → split → classify kernels, adversarial edges
included.

Skew.  Without grouping there is no per-conversation row that can grow
without bound: a giant conversation is just more scan splits.
:func:`oversized_conv_ids` still counts the conversations over
:data:`MAX_RENDER_TURNS`, a skew counter lineage records per bucket.
:func:`conversations`, the ordered per-conversation assembly, is not on
the extraction path; the traced ``perfbench/`` probe still times it.
"""

from __future__ import annotations

from typing import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ocr_spark.kernels import find_spans
from ocr_spark.synth import CITY_IDS, FN_NAMES

#: Default vocabulary for span marking: the 5 city codenames
#: (utils.py:321-327) + function codenames (utils.py:25-45 subset).
DEFAULT_VOCAB = [f"City {c}" for c in CITY_IDS] + list(FN_NAMES)

SPAN_TYPE = ArrayType(
    StructType(
        [
            StructField("key", StringType()),
            StructField("start", IntegerType()),
            StructField("end", IntegerType()),
        ]
    )
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("clean_text", StringType()),
        StructField("char_spans", SPAN_TYPE),
        StructField("block_class", StringType()),
        StructField("answer", StringType()),
        StructField("status", StringType()),
        StructField("n_tokens", IntegerType()),
    ]
)


# ---------------------------------------------------------------------------
# conversation assembly and the skew counter
# ---------------------------------------------------------------------------

def conversations(df: DataFrame) -> DataFrame:
    """Aggregate turns into one ordered row per conversation.

    ``sort_array`` on ``struct(turn_idx, role, text)`` sorts by the
    leading ``turn_idx`` field JVM-side — stable turn ordering (W1)
    with no Python and no window shuffle beyond the single groupBy.
    The struct fields are then unzipped into three parallel primitive
    arrays: Arrow moves ``array<string>`` into pandas as flat string
    lists, several times cheaper than materializing one Python dict
    per turn from an ``array<struct>`` column.
    """
    turns = F.sort_array(F.collect_list(F.struct("turn_idx", "role", "text")))
    return (
        df.groupBy("conv_id")
        .agg(turns.alias("turns"))
        .select(
            "conv_id",
            F.col("turns.turn_idx").alias("turn_idxs"),
            F.col("turns.role").alias("roles"),
            F.col("turns.text").alias("texts"),
        )
    )


#: Skew threshold: conversations above this many turns count towards
#: ``n_rerouted`` (:func:`extract_conversations`).  2^16 turns x ~100
#: B/turn is where an assembled conversation row passes ~10 MB.
MAX_RENDER_TURNS = 65536


def oversized_conv_ids(df: DataFrame) -> DataFrame:
    """conv_ids of the conversations with more than MAX_RENDER_TURNS turns.

    Projects ONLY conv_id (columnar scan of a dictionary-encoded
    column; partial counts map-side).
    """
    return (
        df.select("conv_id").groupBy("conv_id").count()
        .filter(F.col("count") > MAX_RENDER_TURNS).select("conv_id")
    )


# ---------------------------------------------------------------------------
# the extraction job
# ---------------------------------------------------------------------------

def extract_conversations(
    df: DataFrame, vocab: Sequence[str] | None = None,
    stats_out: dict | None = None,
) -> DataFrame:
    """The flagship extraction job: :func:`extract_turns` over ``df``.

    ``stats_out``: pass a dict to receive ``n_rerouted``, the number of
    conversations over :data:`MAX_RENDER_TURNS` — a skew counter that
    lineage records per bucket.  It costs one conv_id-only count job,
    run eagerly and only when a dict is passed; the extraction itself
    treats those conversations like any other.
    """
    if stats_out is not None:
        stats_out["n_rerouted"] = oversized_conv_ids(df).count()
    return extract_turns(df, vocab)


def extract_turns(df: DataFrame, vocab: Sequence[str] | None = None) -> DataFrame:
    """Per-turn extraction (EXTRACT_SCHEMA); see the module docstring.

    Native classify (X8/X2) then one ``ArrowEvalPython`` carrying the
    span and token-count pandas UDFs; zero shuffle.
    """
    vocab = list(vocab or DEFAULT_VOCAB)
    c = classify_turns(df.select("conv_id", "turn_idx", "role", "text"))
    return c.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        "role",
        F.col("text").alias("clean_text"),
        span_udf(vocab)(F.col("text")).alias("char_spans"),
        "block_class",
        "answer",
        "status",
        token_count_udf()(F.col("text")).alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# native per-turn classification (no Python, no shuffle)
# ---------------------------------------------------------------------------

DIRECTION_WORDS = [" North", " South", " East", " West"]
DISTANCE_SUFFIXES = ["km", "ilometers", "mi", "iles"]


def direction_flag(text: Column) -> Column:
    c = F.lit(False)
    for w in DIRECTION_WORDS:
        c = c | text.contains(w)
    return c


def distance_flag(text: Column) -> Column:
    c = F.lit(False)
    for sfx in DISTANCE_SUFFIXES:
        c = c | text.endswith(sfx)
    return c


def classify_turns(df: DataFrame) -> DataFrame:
    """Per-turn block classification + answer extraction, JVM-only.

    Native-expression mirror of kernels X8 (train_cities.py:69-95) and
    X2 (utils.py:131-147): whole-stage-codegen friendly, zero shuffle,
    scales linearly with input splits.  ``answer`` uses the
    first-A-E-after-anything semantics applied to the bare turn text
    (assistant turns are the completion by construction).
    """
    is_assistant = F.col("role") == "assistant"
    has_dir = direction_flag(F.col("text"))
    has_dist = distance_flag(F.col("text"))
    block_class = (
        F.when(~is_assistant, F.lit("other"))
        .when(has_dir & ~has_dist, F.lit("direction"))
        .when(has_dist & ~has_dir, F.lit("distance"))
        .otherwise(F.lit("other"))
    )
    answer = F.when(
        is_assistant, F.nullif(F.regexp_extract(F.col("text"), "([A-E])", 1), F.lit(""))
    ).otherwise(F.lit(None).cast("string"))
    status = F.when(
        is_assistant & (block_class == "other") & answer.isNull(), F.lit("fallback")
    ).otherwise(F.lit("ok"))
    return (
        df.withColumn("block_class", block_class)
        .withColumn("answer", answer)
        .withColumn("status", status)
    )


def span_udf(vocab: Sequence[str]):
    """Vectorized pandas UDF: all vocab-key char spans per text (X6).

    ONE combined-alternation ``str.contains`` scan pre-filters the rows
    (instead of one pass per vocab key), and Python span
    materialization runs only on the hits, in vocab-order-then-
    occurrence-order per turn — vocab keys are rare, so the hot loop
    stays in pandas' C engine.
    """
    import re as _re

    vocab = list(vocab)
    vocab_re = _re.compile("|".join(_re.escape(k) for k in vocab))

    @F.pandas_udf(SPAN_TYPE)
    def _spans(texts: pd.Series) -> pd.Series:
        import numpy as np

        spans: list = [[] for _ in range(len(texts))]
        if len(texts):
            filled = texts.fillna("")
            tex_np = filled.to_numpy()
            hit = filled.str.contains(vocab_re).to_numpy()
            for i in np.nonzero(hit)[0]:
                t = tex_np[i]
                for k in vocab:
                    if k in t:
                        spans[i].extend(
                            {"key": k, "start": s, "end": e}
                            for (s, e) in find_spans(t, k)
                        )
        return pd.Series(spans, index=texts.index)

    return _spans


def token_count_udf():
    """Vectorized pandas UDF: deterministic token count per text (X13).

    ``len(tok.encode(t)) == count_tokens(t) == len(_PIECE_RE.findall(t))``
    by construction (tokenizer.py count_tokens), and
    ``count_pieces_batch`` computes the same count with a vectorized
    numpy char-class pass (~3x the regex; equivalence fuzz-pinned) —
    no per-row encode, no id hashing.  Keep
    ``DeterministicTokenizer.encode`` for paths that need actual ids.
    """
    from ocr_spark.kernels.tokenizer import count_pieces_batch

    @F.pandas_udf(IntegerType())
    def _ntok(texts: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(
            np.asarray(count_pieces_batch(texts.to_numpy())).astype("int32"),
            index=texts.index,
        )

    return _ntok
