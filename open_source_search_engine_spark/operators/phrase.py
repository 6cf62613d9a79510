"""Phrase / bigram matching — reference: Phrases.cpp bigram ids hashed
from adjacent word hashes (SURVEY.md §2.8 X4).

Spark form: positional self-join on the exploded token stream —
`t2.pos == t1.pos + 1`. At index scale this becomes a co-partitioned
join on doc_id (both sides come from the same explode, so Catalyst
reuses the exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_source_search_engine_spark.operators.postings import doc_tokens


def phrase_bigram(
    docs: DataFrame,
    w1: str,
    w2: str,
    tokenizer_mode: str = "simple",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    toks = doc_tokens(docs, text_col, id_col, mode=tokenizer_mode)
    t1 = toks.filter(F.col("term") == w1).select("doc_id", F.col("pos").alias("p1"))
    t2 = toks.filter(F.col("term") == w2).select("doc_id", F.col("pos").alias("p2"))
    return (
        t1.join(t2, "doc_id")
        .filter(F.col("p2") == F.col("p1") + 1)
        .select("doc_id")
        .distinct()
        .orderBy("doc_id")
    )
