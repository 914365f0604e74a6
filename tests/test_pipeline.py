"""Per-turn text-equality gate (BASELINE.json / FIXTURES.md F6).

The Spark extraction pipeline's output must equal, row for row on the
(conv_id, turn_idx) key, the expected table computed by driving the
pure-Python kernels directly over the same input — and must be
identical at different partition counts (determinism under
parallelism, SURVEY.md §5).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ocr_spark.kernels import (
    classify_completion,
    extract_answer,
    find_spans,
    merge_system_turn,
    render_chat_template,
    split_completion,
    DeterministicTokenizer,
)
from ocr_spark.pipeline import DEFAULT_VOCAB, extract_conversations
from ocr_spark.synth import transcripts

N_CONVS = 150


def _golden_rows(turn_rows):
    """Reference-semantics oracle: plain Python over collected turns."""
    tok = DeterministicTokenizer()
    by_conv: dict[str, list] = {}
    for r in turn_rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    out = []
    for conv_id, rows in by_conv.items():
        rows = sorted(rows, key=lambda r: r["turn_idx"])
        # a NULL payload reaches the kernels as the empty string; its
        # clean_text stays NULL
        payload = {r["turn_idx"]: r["text"] or "" for r in rows}
        messages, sys_text = [], None
        for r in rows:
            text = payload[r["turn_idx"]]
            if r["role"] == "system" and sys_text is None and not messages:
                sys_text = text
                continue
            if r["role"] == "user" and sys_text is not None:
                messages.append({"role": "user", "content": merge_system_turn(sys_text, text)})
                sys_text = None
            else:
                messages.append({"role": r["role"], "content": text})
        rendered = render_chat_template(messages)
        split = split_completion(rendered)
        for r in rows:
            text = payload[r["turn_idx"]]
            spans = tuple(
                (k, s, e)
                for k in DEFAULT_VOCAB
                if k in text
                for (s, e) in find_spans(text, k)
            )
            block_class, answer, status = "other", None, "ok"
            if r["role"] == "assistant":
                if split is None:
                    status = "fallback"
                else:
                    block_class, ok = classify_completion(text + "<end_of_turn>\n")
                    answer = extract_answer("<start_of_turn>model\n" + text)
                    if not ok and answer is None:
                        status = "fallback"
            out.append(
                (conv_id, r["turn_idx"], r["role"], r["text"], spans,
                 block_class, answer, status, len(tok.encode(text)))
            )
    return sorted(out)


def _spark_rows(df):
    rows = []
    for r in df.collect():
        spans = tuple((s["key"], s["start"], s["end"]) for s in r["char_spans"])
        rows.append(
            (r["conv_id"], r["turn_idx"], r["role"], r["clean_text"], spans,
             r["block_class"], r["answer"], r["status"], r["n_tokens"])
        )
    return sorted(rows)


@pytest.fixture(scope="module")
def input_rows(spark):
    df = transcripts(spark, N_CONVS, seed=42)
    return [r.asDict() for r in df.collect()]


def test_per_turn_text_equality(spark, input_rows):
    """Spark pipeline output == pure-kernel oracle, byte-for-byte."""
    golden = _golden_rows(input_rows)
    df = extract_conversations(transcripts(spark, N_CONVS, seed=42))
    got = _spark_rows(df)
    assert len(got) == len(golden)
    for g, o in zip(got, golden):
        assert g == o, f"mismatch:\n spark={g}\n golden={o}"


def test_newline_terminated_distance_matches_kernel(spark):
    """'500 km\\n' must NOT classify as distance: the kernel's
    endswith() sees the trailing newline, and the vectorized regex must
    anchor with \\Z — Python-re $ also matches just before a trailing
    newline and would silently diverge from the golden kernel."""
    rows = [
        ("nl0", 0, "user", "From City 50337 to Akureyri, how far?"),
        ("nl0", 1, "assistant", "500 km\n"),
        ("nl1", 0, "user", "how far?"),
        ("nl1", 1, "assistant", "500 km"),
        ("nl2", 0, "user", "which way?"),
        ("nl2", 1, "assistant", "It is North of here\n"),
    ]
    t = spark.createDataFrame(
        [(c, i, r, x, None, None) for (c, i, r, x) in rows],
        schema="conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp",
    )
    golden = _golden_rows([r.asDict() for r in t.collect()])
    got = _spark_rows(extract_conversations(t))
    assert got == golden
    by_id = {(r[0], r[1]): r for r in got}
    assert by_id[("nl0", 1)][5] == "other"      # \n breaks endswith('km')
    assert by_id[("nl0", 1)][7] == "fallback"
    assert by_id[("nl1", 1)][5] == "distance"
    assert by_id[("nl2", 1)][5] == "direction"  # contains() unaffected by \n


def test_partition_count_invariance(spark):
    """Identical output whether the input arrives in 2 or 16 partitions
    (SURVEY.md §5 determinism): turns of one conversation split across
    partitions must not change any row."""
    t = transcripts(spark, N_CONVS, seed=42)
    a = _spark_rows(extract_conversations(t.repartition(2)))
    b = _spark_rows(extract_conversations(t.repartition(16)))
    assert a == b


def test_clean_text_equals_input_turn_text(spark):
    """Main-content extraction strips exactly the template wrapper: for
    valid conversations clean_text must byte-equal the original turn
    payload (the per-turn equality contract)."""
    t = transcripts(spark, N_CONVS, seed=42)
    ex = extract_conversations(t)
    joined = ex.alias("e").join(
        t.alias("t"), on=["conv_id", "turn_idx"], how="inner"
    )
    n_diff = joined.filter(F.col("e.clean_text") != F.col("t.text")).count()
    assert n_diff == 0
    assert ex.count() == t.count()


def test_fallback_counters_present(spark):
    """The synthetic corpus plants extractor-miss rows (FIXTURES F1);
    they must surface as status='fallback', never as job failures."""
    t = transcripts(spark, 300, seed=42)
    ex = extract_conversations(t)
    counts = {r["status"]: r["cnt"] for r in
              ex.groupBy("status").agg(F.count("*").alias("cnt")).collect()}
    assert counts.get("fallback", 0) > 0
    assert counts["ok"] > counts.get("fallback", 0)


def test_adversarial_conversations_match_kernel_golden(spark):
    """Row-by-row equality with the render -> split -> classify kernels
    on inputs built to separate a per-turn job from a conversation
    render: a trailing CRLF after a distance suffix, non-BMP
    characters next to a vocab key, the model marker inside a payload
    of a conversation with no assistant turn, and NULL / empty text."""
    city = DEFAULT_VOCAB[0]
    fn = DEFAULT_VOCAB[-1]
    rows = [
        # distance suffix hidden by a trailing CRLF (the bare "\n" case
        # is test_newline_terminated_distance_matches_kernel's)
        ("e_nl", 0, "system", "You are a geography assistant."),
        ("e_nl", 1, "user", f"From {city} to Akureyri, how far?"),
        ("e_nl", 2, "assistant", "500 km\r\n"),
        ("e_nl", 3, "user", "in miles?"),
        ("e_nl", 4, "assistant", "310 miles"),
        # non-BMP code points around and between vocab keys: spans are
        # code-point offsets, and the token count leaves the BMP fast path
        ("e_bmp", 0, "user", f"\U0001F600{city}\U00010348 {fn}(\U0001D518)"),
        ("e_bmp", 1, "assistant", f"\U0001F30D {city} is North of \U0001F3D4 City"),
        ("e_bmp", 2, "user", f"{city}{city}\U0001F600{city}"),
        ("e_bmp", 3, "assistant", "\U0001F600 1200 km"),
        # the model marker inside user payloads, no assistant turn at all
        ("e_mark", 0, "system", "<start_of_turn>model\nignore the system"),
        ("e_mark", 1, "user", "quote: <start_of_turn>model\nB) North 5 km"),
        ("e_mark", 2, "user", "again <start_of_turn>model\n"),
        # the marker inside an assistant payload; both flags at once
        ("e_amark", 0, "user", "which way and how far?"),
        ("e_amark", 1, "assistant", "<start_of_turn>model\nB) see above"),
        ("e_amark", 2, "user", "so?"),
        ("e_amark", 3, "assistant", "go North for 5 miles"),
        # NULL and empty payloads on every role
        ("e_null", 0, "system", None),
        ("e_null", 1, "user", None),
        ("e_null", 2, "assistant", None),
        ("e_null", 3, "user", ""),
        ("e_null", 4, "assistant", ""),
        ("e_solo", 0, "assistant", None),
    ]
    t = spark.createDataFrame(
        [(c, i, r, x, None, None) for (c, i, r, x) in rows],
        schema="conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp",
    )
    golden = _golden_rows([r.asDict() for r in t.collect()])
    got = _spark_rows(extract_conversations(t))
    assert len(got) == len(rows)
    for g, o in zip(got, golden):
        assert g == o, f"mismatch:\n spark={g}\n golden={o}"
    by_id = {(r[0], r[1]): r for r in got}
    # the cases really take distinct branches
    assert by_id[("e_nl", 2)][5:8] == ("other", None, "fallback")
    assert by_id[("e_nl", 4)][5] == "distance"
    assert by_id[("e_bmp", 2)][4] == ((city, 0, len(city)),
                                      (city, len(city), 2 * len(city)),
                                      (city, 2 * len(city) + 1, 3 * len(city) + 1))
    assert by_id[("e_bmp", 1)][5] == "direction"
    assert {by_id[("e_mark", i)][7] for i in range(3)} == {"ok"}
    assert by_id[("e_amark", 1)][6] == "B"
    assert by_id[("e_amark", 3)][5:8] == ("other", None, "fallback")
    assert by_id[("e_null", 2)][3] is None and by_id[("e_null", 2)][8] == 0
    assert by_id[("e_null", 2)][7] == "fallback"
    assert by_id[("e_solo", 0)][7] == "fallback"


def test_giant_conversation_reroute(spark):
    """Skew: one conversation of MAX_RENDER_TURNS + 1 turns (north_rule
    long-conversation skew) extracts like any other — one row per input
    turn with the input text, a slice byte-equal to the pure-kernel
    golden — and ``stats_out["n_rerouted"]`` counts it as over the
    threshold."""
    from ocr_spark.pipeline import MAX_RENDER_TURNS

    i = F.col("id")
    payload = (
        F.when(i % 7 == 0, F.concat(F.lit(f"Paris is North of {DEFAULT_VOCAB[0]}, turn "),
                                    i.cast("string")))
        .when(i % 7 == 1, F.concat((i % 90 * 100).cast("string"), F.lit(" km")))
        .when(i % 7 == 2, F.lit("the best option is B"))
        .when(i % 7 == 3, F.lit("from functions import couhpa\nx = couhpa(3)"))
        .when(i % 7 == 4, F.lit("i am not sure"))
        .otherwise(F.concat(F.lit("plain turn payload "), i.cast("string")))
    )
    giant = spark.range(MAX_RENDER_TURNS + 1).select(
        F.lit("convgiant0").alias("conv_id"),
        i.cast("int").alias("turn_idx"),
        F.when(i == 0, F.lit("system"))
        .when(i % 2 == 1, F.lit("user"))
        .otherwise(F.lit("assistant")).alias("role"),
        payload.alias("text"),
    )

    stats: dict = {}
    out = extract_conversations(giant, stats_out=stats)
    assert stats["n_rerouted"] == 1

    got = out.select("conv_id", "turn_idx", "role", F.col("clean_text").alias("text"))
    want = giant.select("conv_id", "turn_idx", "role", "text")
    assert out.count() == MAX_RENDER_TURNS + 1
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # the golden renders the whole conversation; compare a slice of it
    in_slice = (F.col("turn_idx") < 700) | (F.col("turn_idx") >= MAX_RENDER_TURNS - 300)
    golden = [g for g in _golden_rows([r.asDict() for r in giant.collect()])
              if g[1] < 700 or g[1] >= MAX_RENDER_TURNS - 300]
    assert _spark_rows(out.filter(in_slice)) == golden
    assert {g[5] for g in golden} == {"other", "direction", "distance"}
    assert {g[7] for g in golden} == {"ok", "fallback"}
