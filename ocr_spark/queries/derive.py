"""Deterministic transcript derivation from the ``documents`` table.

The driver's correctness gate runs DuckDB oracle SQL against a fixed
set of parquet views (region nation customer supplier part orders
lineitem events documents embeddings) — there is no transcripts view.
To oracle-check the transcript kernels anyway, we derive a transcript
table *from documents* with arithmetic only both engines share
(``doc_id % k`` indexing, string concat), mirroring FIXTURES.md F1's
payload shapes:

    conv_id  = 'conv' || lpad(doc_id, 8, '0')
    3 turns  = system preamble / user question / assistant answer
    variant  = doc_id % 4  (direction / distance / functions / MCQ)

The Spark side (:func:`derived_transcripts`) and the DuckDB side
(:data:`TRANSCRIPTS_CTE`) implement identical value logic; any
divergence fails the driver's value-hash compare, which is the point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.synth import (
    CITY_IDS,
    DIRECTIONS,
    DIST_UNITS,
    FN_NAMES,
    MCQ_WORDS,
    OTHER_CITIES,
    SYSTEM_PREAMBLE,
)

LETTERS = ["A", "B", "C", "D", "E"]


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_pick(arr: list[str], idx_expr: str) -> str:
    """1-based list indexing in DuckDB SQL."""
    items = ", ".join(_sql_quote(x) for x in arr)
    return f"list_extract([{items}], CAST({idx_expr} AS INTEGER) + 1)"


def _spark_pick(arr: list[str], idx):
    return F.element_at(F.array(*[F.lit(x) for x in arr]), (idx + 1).cast("int"))


# --- the user/assistant payload logic, once per engine -------------------

def _sql_user_text(id_expr: str = "doc_id") -> str:
    city = _sql_pick([str(c) for c in CITY_IDS], f"({id_expr}) % 5")
    other = _sql_pick(OTHER_CITIES, f"({id_expr}) % 6")
    unit = _sql_pick(DIST_UNITS, f"({id_expr}) % 4")
    fa = _sql_pick(FN_NAMES, f"({id_expr}) % 6")
    fb = _sql_pick(FN_NAMES, f"(({id_expr}) + 1) % 6")
    word = _sql_pick(MCQ_WORDS, f"({id_expr}) % 5")
    nl = "chr(10)"
    return f"""CASE CAST(({id_expr}) % 4 AS INTEGER)
      WHEN 0 THEN 'In the Mercator projection, what is the cardinal direction of ' || {other} || ' relative to City ' || {city} || '?'
      WHEN 1 THEN 'From City ' || {city} || ' to ' || {other} || ', the geodesic distance in ' || {unit} || ' is'
      WHEN 2 THEN 'from functions import ' || {fa} || ', ' || {fb} || {nl} || 'x = ' || {fa} || '(3)' || {nl} || 'y = ' || {fb} || '(x)'
      ELSE 'Which option correctly describes ' || {word} || '?' || {nl} || 'A) a function' || {nl} || 'B) a city' || {nl} || 'C) a movie' || {nl} || 'D) a person' || {nl} || 'E) none'
    END"""


def _sql_assistant_text(id_expr: str = "doc_id") -> str:
    city = _sql_pick([str(c) for c in CITY_IDS], f"({id_expr}) % 5")
    other = _sql_pick(OTHER_CITIES, f"({id_expr}) % 6")
    unit = _sql_pick(DIST_UNITS, f"({id_expr}) % 4")
    direction = _sql_pick(DIRECTIONS, f"({id_expr}) % 4")
    letter = _sql_pick(LETTERS, f"({id_expr}) % 5")
    dist = f"CAST(((({id_expr}) % 90) + 10) * 100 AS VARCHAR)"
    return f"""CASE CAST(({id_expr}) % 4 AS INTEGER)
      WHEN 0 THEN {other} || ' is ' || {direction} || ' of City ' || {city} || '.'
      WHEN 1 THEN {dist} || ' ' || {unit}
      WHEN 2 THEN CAST(({id_expr}) % 1000 AS VARCHAR)
      ELSE CASE WHEN ({id_expr}) % 20 = 0 THEN 'i am not sure' ELSE {letter} END
    END"""


#: Agent-column derivation (round 4): the input_hint schema carries
#: ``tool:string`` and ``ts:timestamp`` — the agent-transcript operator
#: family (queries/agent_ops.py) computes on them, so the derivation
#: gains both columns, mirrored exactly in each engine:
#:
#:   ts_epoch(t=0) = 1704067200 + (doc_id % 86400)
#:   gap_1         = 1 + ((doc_id + 1) % 7) * 300     (system -> user)
#:   gap_2         = 1 + ((doc_id + 2) % 7) * 300     (user -> assistant)
#:   tool(user)      = 'search'  iff doc_id % 5 = 0
#:   tool(assistant) = 'python'  iff doc_id % 7 = 0
#:                     'browser' iff doc_id % 7 = 1
#:
#: Gaps jump between 1 s and 30.1 min so the 15-minute sessionizer
#: splits ~4/7 of turn boundaries; every value is plain BIGINT modular
#: arithmetic, exact in both engines at any doc_id (the exotic-id edge
#: suite runs these oracles at ids up to ~10^11).
_AGENT_EPOCH = 1704067200  # 2024-01-01T00:00:00Z, matches synth._BASE_EPOCH

_SQL_TS0 = f"{_AGENT_EPOCH} + (doc_id % 86400)"
_SQL_GAP1 = "(1 + ((doc_id + 1) % 7) * 300)"
_SQL_GAP2 = "(1 + ((doc_id + 2) % 7) * 300)"

#: DuckDB CTE body producing the full input_hint shape
#: (conv_id, turn_idx, role, text, tool, ts_epoch) — ts kept as epoch
#: seconds (BIGINT) so cross-engine compares never touch timezone
#: rendering; queries that need a real timestamp build it locally.
AGENT_TRANSCRIPTS_CTE = f"""
  SELECT 'conv' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS conv_id,
         0 AS turn_idx, 'system' AS role,
         {_sql_quote(SYSTEM_PREAMBLE)} AS text,
         CAST(NULL AS VARCHAR) AS tool,
         CAST({_SQL_TS0} AS BIGINT) AS ts_epoch
  FROM documents
  UNION ALL
  SELECT 'conv' || lpad(CAST(doc_id AS VARCHAR), 8, '0'),
         1, 'user', {_sql_user_text()},
         CASE WHEN doc_id % 5 = 0 THEN 'search' END,
         CAST({_SQL_TS0} + {_SQL_GAP1} AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'conv' || lpad(CAST(doc_id AS VARCHAR), 8, '0'),
         2, 'assistant', {_sql_assistant_text()},
         CASE WHEN doc_id % 7 = 0 THEN 'python'
              WHEN doc_id % 7 = 1 THEN 'browser' END,
         CAST({_SQL_TS0} + {_SQL_GAP1} + {_SQL_GAP2} AS BIGINT)
  FROM documents
"""


def with_agent_transcripts(sql: str) -> str:
    """Wrap a query body with the agent-columned transcripts CTE."""
    return f"WITH transcripts AS ({AGENT_TRANSCRIPTS_CTE})\n{sql}"


def derived_agent_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of :data:`AGENT_TRANSCRIPTS_CTE`.

    Same 3-turn shape and text payloads as :func:`derived_transcripts`
    plus the input_hint agent columns: ``tool`` (sparse), ``ts_epoch``
    (BIGINT seconds — the cross-engine compare unit) and ``ts`` (a real
    TimestampType built from it, for event-time operators like
    ``F.window``; never emitted in oracle-checked output).
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    d = F.col("doc_id")
    conv_id = F.concat(F.lit("conv"), F.lpad(d.cast("string"), 8, "0"))

    ts0 = F.lit(_AGENT_EPOCH) + (d % 86400)
    gap1 = F.lit(1) + ((d + 1) % 7) * 300
    gap2 = F.lit(1) + ((d + 2) % 7) * 300
    null_tool = F.lit(None).cast("string")

    rows = [
        (0, "system", F.lit(SYSTEM_PREAMBLE), null_tool, ts0),
        (1, "user", spark_user_text(d),
         F.when(d % 5 == 0, F.lit("search")), ts0 + gap1),
        (2, "assistant", spark_assistant_text(d),
         F.when(d % 7 == 0, F.lit("python")).when(d % 7 == 1, F.lit("browser")),
         ts0 + gap1 + gap2),
    ]
    parts = [
        docs.select(
            conv_id.alias("conv_id"),
            F.lit(idx).alias("turn_idx"),
            F.lit(role).alias("role"),
            text.alias("text"),
            tool.alias("tool"),
            ts.cast("long").alias("ts_epoch"),
        )
        for idx, role, text, tool, ts in rows
    ]
    out = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return out.withColumn("ts", F.timestamp_seconds(F.col("ts_epoch")))


#: DuckDB CTE body producing (conv_id, turn_idx, role, text).
TRANSCRIPTS_CTE = f"""
  SELECT 'conv' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS conv_id,
         0 AS turn_idx, 'system' AS role,
         {_sql_quote(SYSTEM_PREAMBLE)} AS text
  FROM documents
  UNION ALL
  SELECT 'conv' || lpad(CAST(doc_id AS VARCHAR), 8, '0'),
         1, 'user', {_sql_user_text()}
  FROM documents
  UNION ALL
  SELECT 'conv' || lpad(CAST(doc_id AS VARCHAR), 8, '0'),
         2, 'assistant', {_sql_assistant_text()}
  FROM documents
"""


def with_transcripts(sql: str) -> str:
    """Wrap a query body with the transcripts CTE."""
    return f"WITH transcripts AS ({TRANSCRIPTS_CTE})\n{sql}"


def spark_user_text(did):
    """Spark mirror of :func:`_sql_user_text` for an id column ``did``."""
    city = _spark_pick([str(c) for c in CITY_IDS], did % 5)
    other = _spark_pick(OTHER_CITIES, did % 6)
    unit = _spark_pick(DIST_UNITS, did % 4)
    fa = _spark_pick(FN_NAMES, did % 6)
    fb = _spark_pick(FN_NAMES, (did + 1) % 6)
    word = _spark_pick(MCQ_WORDS, did % 5)
    nl = F.lit("\n")
    v = (did % 4).cast("int")
    return (
        F.when(v == 0, F.concat(
            F.lit("In the Mercator projection, what is the cardinal direction of "),
            other, F.lit(" relative to City "), city, F.lit("?")))
        .when(v == 1, F.concat(
            F.lit("From City "), city, F.lit(" to "), other,
            F.lit(", the geodesic distance in "), unit, F.lit(" is")))
        .when(v == 2, F.concat(
            F.lit("from functions import "), fa, F.lit(", "), fb, nl,
            F.lit("x = "), fa, F.lit("(3)"), nl,
            F.lit("y = "), fb, F.lit("(x)")))
        .otherwise(F.concat(
            F.lit("Which option correctly describes "), word, F.lit("?"), nl,
            F.lit("A) a function"), nl, F.lit("B) a city"), nl,
            F.lit("C) a movie"), nl, F.lit("D) a person"), nl, F.lit("E) none")))
    )


def spark_assistant_text(did):
    """Spark mirror of :func:`_sql_assistant_text` for an id column ``did``."""
    city = _spark_pick([str(c) for c in CITY_IDS], did % 5)
    other = _spark_pick(OTHER_CITIES, did % 6)
    unit = _spark_pick(DIST_UNITS, did % 4)
    direction = _spark_pick(DIRECTIONS, did % 4)
    letter = _spark_pick(LETTERS, did % 5)
    dist = (((did % 90) + 10) * 100).cast("string")
    v = (did % 4).cast("int")
    return (
        F.when(v == 0, F.concat(other, F.lit(" is "), direction, F.lit(" of City "), city, F.lit(".")))
        .when(v == 1, F.concat(dist, F.lit(" "), unit))
        .when(v == 2, (did % 1000).cast("string"))
        .otherwise(F.when(did % 20 == 0, F.lit("i am not sure")).otherwise(letter))
    )


def derived_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of :data:`TRANSCRIPTS_CTE` (same values, DataFrame API).

    NOTE: this is the 3-turn oracle shape — exactly one system / user /
    assistant turn per conversation.  Queries built on its ``_merged``
    conditional aggregation are correct ONLY on this shape; the general
    k-turn conversation logic is exercised by the ``*_multiturn``
    queries over :func:`ocr_spark.queries.multiturn.derived_transcripts_mt`.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    conv_id = F.concat(F.lit("conv"), F.lpad(F.col("doc_id").cast("string"), 8, "0"))

    did = F.col("doc_id")

    def turn(idx, role, text):
        return F.struct(F.lit(idx).alias("turn_idx"), F.lit(role).alias("role"),
                        text.alias("text"))

    # ONE scan of documents, three turns per row: a union of three
    # scans would run three tasks (and start three Python workers
    # under a shuffle-free consumer) for a one-file table
    return docs.select(
        conv_id.alias("conv_id"),
        F.inline(F.array(
            turn(0, "system", F.lit(SYSTEM_PREAMBLE)),
            turn(1, "user", spark_user_text(did)),
            turn(2, "assistant", spark_assistant_text(did)),
        )),
    )
