"""Seeded input generators.  The program sees only the files these write.

The same seed always gives byte-identical inputs: transcripts come from
``ocr_spark.synth`` (a pure function of seed and row identity), the
catalog tables from a seeded numpy generator.
"""

from __future__ import annotations

import os

import numpy as np

#: turns per oversized conversation: above the render path's
#: ``MAX_RENDER_TURNS`` (65536), so the skew-guard reroute runs
GIANT_TURNS = 80_000


def transcripts_with_giants(spark, n_turns: int, n_giants: int, seed: int):
    """``synth.transcripts`` (heavy tail of 3 / 10-50 / 500-2000 turns)
    cut to its first conversations holding at most ``n_turns`` turns
    (the pool holds about 1.4x that many),
    plus ``n_giants`` conversations of ``GIANT_TURNS`` turns each.
    Returns (DataFrame, its row count).

    The cut keeps the input size fixed across seeds (the heavy tail
    alone moves the turn count of a fixed number of conversations by
    +-15%).  A giant conversation is built from synth's own 3-turn
    conversations, renumbered into one conversation, so its payloads
    have the same shapes as the rest of the corpus.
    """
    from pyspark.sql import functions as F

    from ocr_spark import synth

    pool = synth.transcripts(spark, n_turns // 12, seed=seed)
    total, last = 0, None
    for r in pool.groupBy("conv_id").count().orderBy("conv_id").collect():
        if total + r["count"] > n_turns:
            break
        total, last = total + r["count"], r["conv_id"]
    base = pool.filter(F.col("conv_id") <= last)
    if not n_giants:
        return base, total
    per = GIANT_TURNS // 3 + 1
    g = synth.transcripts(spark, per * n_giants, seed=seed + 1, skew=False)
    num = F.substring("conv_id", 5, 8).cast("long")
    g = g.select(
        F.format_string("giant%04d", (num / per).cast("int")).alias("conv_id"),
        ((num % per) * 3 + F.col("turn_idx")).cast("int").alias("turn_idx"),
        "role", "text", "tool", "ts",
    ).filter(F.col("turn_idx") < GIANT_TURNS)
    return base.unionByName(g), total + n_giants * GIANT_TURNS


# ---------------------------------------------------------------------------
# catalog tables (the TPC-H-like star schema + events/documents/embeddings
# that the catalog queries read; same schemas and value shapes as the
# tables described in TESTDATA.md, sized by ``sf`` like them)
# ---------------------------------------------------------------------------

_WORDS = ("scan column window order sort part agg value line key join merge "
          "group query a vector hash slow stream filter fast the batch spark "
          "table small data big customer row").split()
_LANGS = (["en"] * 39 + ["fr"] * 16 + ["es"] * 16 + ["zh"] * 15 + ["de"] * 14)
_SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
_PART_ADJ = ["cold", "small", "large", "blue", "old", "new", "hot"]
_PART_NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gizmo", "plate", "gear", "nut"]
_PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "purchase", "error", "signup", "view"]


def catalog_tables(out_dir: str, seed: int, sf: float = 0.001) -> dict[str, int]:
    """Write the ten catalog tables as parquet; returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = {
        "customer": int(150_000 * sf), "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(int(500_000 * sf), 500), "embeddings": max(int(500_000 * sf), 500),
    }
    day = np.datetime64("1995-01-01", "us")
    usd = np.timedelta64(86_400_000_000, "us")

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def pick(arr, size):
        return np.asarray(arr, dtype=object)[rng.integers(0, len(arr), size)]

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        },
        "customer": {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
            "c_acctbal": money(-999.99, 9999.99, n["customer"]),
            "c_mktsegment": pick(_SEGMENTS, n["customer"]),
        },
        "supplier": {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
            "s_acctbal": money(-999.99, 9999.99, n["supplier"]),
        },
        "part": {
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(pick(_PART_ADJ, n["part"]),
                                                  pick(_PART_NOUN, n["part"]))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": pick(_PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 200) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
            "o_orderstatus": pick(["O", "F", "P"], n["orders"]),
            "o_totalprice": money(1000, 500_000, n["orders"]),
            "o_orderdate": day + rng.integers(0, 2400, n["orders"]) * usd,
            "o_orderpriority": pick(_PRIORITIES, n["orders"]),
        },
    }
    nl = n["lineitem"]
    okeys = np.sort(rng.integers(0, n["orders"], nl))
    linenum = np.ones(nl, dtype=np.int32)
    for i in range(1, nl):
        if okeys[i] == okeys[i - 1]:
            linenum[i] = linenum[i - 1] + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": okeys.astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], nl).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], nl).astype(np.int64),
        "l_linenumber": pa.array(linenum),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(["N", "R", "A"], nl),
        "l_linestatus": pick(["F", "O"], nl),
        "l_shipdate": day + rng.integers(1, 2500, nl) * usd,
    }
    ne = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, ne)).astype("timedelta64[us]")
    tables["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 15, ne).astype(np.int64),
        "event_type": pick(_EVENTS, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 4)))
        else:
            texts.append(" ".join(pick(_WORDS, int(rng.integers(10, 100)))))
    tables["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": pick(_LANGS, nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    nv = n["embeddings"]
    emb = rng.normal(size=(nv, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
    }

    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
