"""Posting construction — reference: XmlDoc.cpp hashAll/getMetaList
building posdb keys (one key per word occurrence, Posdb.cpp makeKey;
SURVEY.md §3.2).

Pure DataFrame algebra: tokenize → posexplode → groupBy(doc, term).
tf is the occurrence count (the reference encodes it as the run-length
of half-keys per (term,doc)); positions are kept for phrase/proximity
ops (§2.8 X4, §2.5 W3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_source_search_engine_spark.functions.hashing import term_id_col
from open_source_search_engine_spark.functions.tokenizer import tokens_col


def doc_tokens(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "simple",
    stopwords: frozenset | tuple = (),
) -> DataFrame:
    """(doc_id, pos, term) — one row per token occurrence. ``pos`` is
    the position AFTER stopword removal (the reference also assigns
    posdb positions over the kept word stream)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            tokens_col(F.col(text_col), mode=mode, stopwords=stopwords)
        ).alias("pos", "term"),
    )


def postings(tokens: DataFrame, with_positions: bool = True) -> DataFrame:
    """(term, term_id, doc_id, tf[, positions sorted asc])."""
    aggs = [F.count(F.lit(1)).cast("int").alias("tf")]
    if with_positions:
        aggs.append(F.sort_array(F.collect_list("pos")).alias("positions"))
    out = tokens.groupBy("term", "doc_id").agg(*aggs)
    return out.withColumn("term_id", term_id_col(F.col("term")))


def build_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "simple",
    with_positions: bool = True,
) -> DataFrame:
    return postings(doc_tokens(docs, text_col, id_col, mode), with_positions)


def staged_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "simple",
    stopwords: frozenset | tuple = (),
    sha_col: str | None = None,
) -> DataFrame:
    """Union-layout build intermediate: ONE tokenizer pass emits both
    posting rows and per-doc meta rows in a single schema

        posting row:  (term, doc_id, tf>0, doc_len, sha=NULL, pos_blob)
        meta row:     (term=NULL, doc_id, tf=0, doc_len, sha, pos_blob=NULL)

    so the whole build needs exactly one pass over the raw text and
    doc_meta becomes a FILTER of the staged output — no groupBy, no
    join back to the source table (the reference indexes a doc once in
    XmlDoc::indexDoc and emits posdb keys + the TitleRec from the same
    parse — SURVEY.md §3.2; this is that shape). sha256 is computed
    JVM-side (F.sha2) and passed through the tokenizer batch untouched;
    it rides on the ~n_docs meta rows only, not on postings.

    ``pos_blob`` is the posting's token positions, delta+varint encoded
    SELF-CONTAINED per posting (codec.positions_encode) — the
    reference's posdb key is positional, one key per occurrence
    (Posdb.h key layout, SURVEY.md §1.3); we carry the occurrence
    positions as a compact per-posting blob instead, which the segment
    encoder concatenates per block without re-encoding.

    In-batch grouping is pure numpy (factorize + lexsort + boundary
    scan) and the kernel speaks Arrow directly (mapInArrow): pos_blob
    is emitted as ONE contiguous stream + per-posting offsets — no
    per-posting Python bytes objects (the pandas-object path cost ~3×
    tokenize time at 4 cores)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from open_source_search_engine_spark.functions.codec import positions_encode
    from open_source_search_engine_spark.functions.tokenizer import (
        _code_tokenize_series,
        _drop_stopwords,
    )

    stop = tuple(sorted(stopwords))
    schema = pa.schema(
        [
            ("term", pa.string()),
            ("doc_id", pa.int64()),
            ("tf", pa.int32()),
            ("doc_len", pa.int32()),
            ("sha", pa.string()),
            ("pos_blob", pa.binary()),
        ]
    )

    def _meta_batch(ids: np.ndarray, lens: np.ndarray, sha: pa.Array) -> pa.RecordBatch:
        n = ids.size
        return pa.RecordBatch.from_arrays(
            [
                pa.nulls(n, pa.string()),
                pa.array(ids, pa.int64()),
                pa.array(np.zeros(n, np.int32)),
                pa.array(lens.astype(np.int32)),
                sha,
                pa.nulls(n, pa.binary()),
            ],
            schema=schema,
        )

    def it(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            text = rb.column("__text").to_pandas().fillna("")
            ids = rb.column("doc_id").to_numpy()
            if mode == "code":
                toks = _code_tokenize_series(text, lowercase=True, stopwords=stop)
            elif mode == "simple":
                toks = text.str.lower().str.split()
                if stop:
                    toks = _drop_stopwords(toks, stop)
            else:  # pragma: no cover
                raise ValueError(f"unknown tokenizer mode: {mode}")
            lens = toks.str.len().to_numpy(np.int64)
            yield _meta_batch(ids, lens, rb.column("__sha"))
            total = int(lens.sum())
            if total == 0:
                continue
            flat_doc = ids.repeat(lens)
            flat_term = np.concatenate([np.asarray(t, dtype=object) for t in toks])
            # token position within its doc (post-stopword stream)
            doc_starts = np.cumsum(lens) - lens
            flat_pos = np.arange(total, dtype=np.int64) - doc_starts.repeat(lens)
            # group to (doc, term) postings with ONE stable argsort on
            # a composite (local-doc-ordinal << 32 | term-code) key —
            # a 3-key lexsort is 3 stable sort passes + gathers, and
            # sorting is memory-bandwidth-bound on this class of host.
            # Stability keeps positions ascending within each group.
            codes, uniq = pd.factorize(flat_term, sort=False)
            local = np.repeat(np.arange(ids.size, dtype=np.int64), lens)
            key = (local << np.int64(32)) | codes.astype(np.int64)
            order = np.argsort(key, kind="stable")
            ks = key[order]
            fd, fp = flat_doc[order], flat_pos[order]
            fc = (ks & np.int64(0xFFFFFFFF)).astype(np.int64)
            new_g = np.empty(total, dtype=bool)
            new_g[0] = True
            new_g[1:] = ks[1:] != ks[:-1]
            g_starts = np.flatnonzero(new_g)
            g_ends = np.concatenate((g_starts[1:], [total]))
            tf = (g_ends - g_starts).astype(np.int64)
            pbuf, poffs = positions_encode(fp, tf)
            n_posts = g_starts.size
            len_of = pd.Series(lens, index=ids)
            from open_source_search_engine_spark.index.segments import _binary_array

            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.asarray(uniq, dtype=object)[fc[g_starts]], pa.string()),
                    pa.array(fd[g_starts], pa.int64()),
                    pa.array(tf.astype(np.int32)),
                    pa.array(
                        len_of.reindex(fd[g_starts]).to_numpy().astype(np.int32)
                    ),
                    pa.nulls(n_posts, pa.string()),
                    _binary_array(pbuf, poffs),
                ],
                schema=schema,
            )

    # sha_col: column the content sha256 invariant is computed over —
    # defaults to the tokenized text; an anchored build tokenizes the
    # anchor-augmented text but keeps the sha over the ORIGINAL content
    # (the per-row invariant is content equality vs the source table)
    sel = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__text"),
        F.sha2(F.col(sha_col or text_col).cast("binary"), 256).alias("__sha"),
    )
    staged = sel.mapInArrow(
        it, "term string, doc_id long, tf int, doc_len int, sha string, pos_blob binary"
    )
    return staged.withColumn("term_id", term_id_col(F.col("term")))

