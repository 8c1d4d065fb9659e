"""payload_score query — per-occurrence payload aggregation.

The analog of the reference's ``search/PayloadScoreQParserPlugin.java``
(+ ``PayloadCheckQParserPlugin.java``; tests
``TestPayloadScoreQParserPlugin.java``): every occurrence of a term
carries a small integer payload (Lucene attaches them via
DelimitedPayloadTokenFilter; our build derives them with the frozen
function ``(len(token) + position) mod 8`` since the code corpus has no delimited
payload source — see IndexConfig.with_payloads), and the query scores
each matching doc with an aggregate (sum / max / min / avg) of the
payloads at that term's positions.

Execution: pruned block scan → one ``mapInArrow`` decode pass through
the codec's single block kernel (``codec.decode_blocks``, shared by every
reader of the block format) that REDUCES the payload runs per doc inside
numpy (``np.add.reduceat`` over the tf-run framing — no per-occurrence
rows ever materialize in the plan) → one hash aggregation →
TakeOrderedAndProject. Payload bytes of other terms are never read
(column pruning + the term filter).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from solr_spark.query.engine import SearchEngine, map_blocks

_PAYSCORE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("p_sum", T.LongType(), False),
        T.StructField("p_min", T.LongType(), False),
        T.StructField("p_max", T.LongType(), False),
        T.StructField("p_cnt", T.LongType(), False),
    ]
)

_PAYCHECK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_hits", T.LongType(), False),
    ]
)


def payload_score(
    engine: SearchEngine, term_text: str, func: str = "sum", k: int = 10
) -> DataFrame:
    """Top-k (doc_id, score) by payload aggregate for ONE term.

    ``func`` ∈ sum | max | min | avg (the reference's ``func`` param).
    Ranked (score desc, doc_id asc).
    """
    if func not in ("sum", "max", "min", "avg"):
        raise ValueError(f"unknown payload func {func!r}")
    toks = engine.analyze_query(term_text)
    if len(toks) != 1:
        raise ValueError("payload_score takes a single term")
    blocks = engine._blocks_for(toks)

    def per_doc(rb, p):
        occ = np.cumsum(p.tf) - p.tf
        return {
            "doc_id": p.doc_id,
            "p_sum": np.add.reduceat(p.payload, occ),
            "p_min": np.minimum.reduceat(p.payload, occ),
            "p_max": np.maximum.reduceat(p.payload, occ),
            "p_cnt": p.tf,
        }

    per_block = map_blocks(blocks, per_doc, _PAYSCORE_SCHEMA, payloads=True)
    # a doc occurs in exactly one block per term, but salted/incremental
    # layouts may split it — merge associatively then derive the score
    agg = per_block.groupBy("doc_id").agg(
        F.sum("p_sum").alias("s"),
        F.min("p_min").alias("mn"),
        F.max("p_max").alias("mx"),
        F.sum("p_cnt").alias("c"),
    )
    score = {
        "sum": F.col("s").cast("double"),
        "max": F.col("mx").cast("double"),
        "min": F.col("mn").cast("double"),
        "avg": F.col("s").cast("double") / F.col("c").cast("double"),
    }[func]
    return (
        agg.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def payload_check(
    engine: SearchEngine, term_text: str, payload: int, k: int = 10
) -> DataFrame:
    """payload_check analog: docs where the term occurs with the exact
    payload at least once (matched-occurrence count as score)."""
    toks = engine.analyze_query(term_text)
    if len(toks) != 1:
        raise ValueError("payload_check takes a single term")
    blocks = engine._blocks_for(toks)

    target = int(payload)

    def per_doc(rb, p):
        hit = (p.payload == target).astype(np.int64)
        return {"doc_id": p.doc_id, "n_hits": np.add.reduceat(hit, np.cumsum(p.tf) - p.tf)}

    per_block = map_blocks(blocks, per_doc, _PAYCHECK_SCHEMA, payloads=True)
    return (
        per_block.groupBy("doc_id")
        .agg(F.sum("n_hits").alias("n_hits"))
        .where(F.col("n_hits") > 0)
        .orderBy(F.desc("n_hits"), F.asc("doc_id"))
        .limit(k)
    )
