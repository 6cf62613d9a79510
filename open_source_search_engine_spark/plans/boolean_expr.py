"""Nested boolean expression queries — parens + AND/OR/NOT trees
(VERDICT r01 item 8; reference: Query.cpp Expression::isTruth
evaluating arbitrary boolean operator trees over term bit-vectors,
SURVEY.md §2.2 F5).

Grammar (explicit operators, case-insensitive keywords):

    expr    := or_expr
    or_expr := and_expr ( OR and_expr )*
    and_expr:= unary ( AND unary )*
    unary   := NOT unary | '(' expr ')' | term

Evaluation is set algebra over per-term doc-id sets: AND → semi-join,
OR → union-distinct, NOT → anti-join against the collection universe
(the reference's bit-vector truth evaluation distributed). Three
lockstep evaluators:

    evaluate(docs, q)            corpus-algebra oracle path
    evaluate_indexed(spark, ix, q)  segment-store path (decoded lists,
                                 universe = doc_meta)
    to_sql(q)                    DuckDB mirror (INTERSECT/UNION/EXCEPT)
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from open_source_search_engine_spark.session import local_frame

_TOKEN_RE = re.compile(r"\(|\)|[^\s()]+")
_KEYWORDS = {"and", "or", "not"}


@dataclass
class Node:
    op: str  # 'term' | 'and' | 'or' | 'not'
    term: str | None = None
    children: tuple = ()


def parse(q: str) -> Node:
    toks = _TOKEN_RE.findall(q)
    pos = 0

    def peek() -> str | None:
        return toks[pos] if pos < len(toks) else None

    def take() -> str:
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def parse_or() -> Node:
        left = parse_and()
        parts = [left]
        while peek() is not None and peek().lower() == "or":
            take()
            parts.append(parse_and())
        return parts[0] if len(parts) == 1 else Node("or", children=tuple(parts))

    def parse_and() -> Node:
        left = parse_unary()
        parts = [left]
        while peek() is not None and peek().lower() == "and":
            take()
            parts.append(parse_unary())
        return parts[0] if len(parts) == 1 else Node("and", children=tuple(parts))

    def parse_unary() -> Node:
        t = peek()
        if t is None:
            raise ValueError(f"unexpected end of expression: {q!r}")
        if t.lower() == "not":
            take()
            return Node("not", children=(parse_unary(),))
        if t == "(":
            take()
            inner = parse_or()
            if peek() != ")":
                raise ValueError(f"missing ')' in {q!r}")
            take()
            return inner
        if t == ")" or t.lower() in _KEYWORDS:
            raise ValueError(f"unexpected {t!r} in {q!r}")
        return Node("term", term=take().lower())

    out = parse_or()
    if pos != len(toks):
        raise ValueError(f"trailing tokens in {q!r}")
    return out


def terms_of(node: Node) -> list[str]:
    if node.op == "term":
        return [node.term]
    out: list[str] = []
    for c in node.children:
        out.extend(t for t in terms_of(c) if t not in out)
    return [t for i, t in enumerate(out) if t not in out[:i]]


def _eval_sets(node: Node, term_set, universe) -> DataFrame:
    """Generic set-algebra evaluator: ``term_set(t)`` and ``universe``
    are (doc_id) DataFrames. Each combinator is a distributed
    semi/anti join or union — never a driver-side set."""
    if node.op == "term":
        return term_set(node.term)
    if node.op == "and":
        out = _eval_sets(node.children[0], term_set, universe)
        for c in node.children[1:]:
            out = out.join(_eval_sets(c, term_set, universe), "doc_id", "left_semi")
        return out
    if node.op == "or":
        out = _eval_sets(node.children[0], term_set, universe)
        for c in node.children[1:]:
            out = out.unionByName(_eval_sets(c, term_set, universe))
        return out.distinct()
    if node.op == "not":
        inner = _eval_sets(node.children[0], term_set, universe)
        return universe.join(inner, "doc_id", "left_anti")
    raise ValueError(node.op)  # pragma: no cover


def evaluate(
    docs: DataFrame, q: str, text_col: str = "text", tokenizer_mode: str = "simple"
) -> DataFrame:
    """Corpus-algebra evaluation (the oracle-shaped path): one token
    scan feeds every term's doc set; combinators are joins."""
    from open_source_search_engine_spark.operators.postings import doc_tokens

    ast = parse(q)
    terms = terms_of(ast)
    toks = doc_tokens(docs, text_col, mode=tokenizer_mode)
    td = (
        toks.filter(F.col("term").isin(terms))
        .select("doc_id", "term")
        .distinct()
        .persist()
    )
    universe = docs.select("doc_id")
    out = _eval_sets(
        ast,
        lambda t: td.filter(F.col("term") == t).select("doc_id"),
        universe,
    ).orderBy("doc_id")
    # materialize now (eager localCheckpoint — RDD-level blocks the
    # ContextCleaner frees when the result is GC'd), then drop the big
    # intermediate: a query loop must not accumulate cached token scans
    # until executor storage evicts them (ADVICE r02)
    out = out.localCheckpoint(eager=True)
    td.unpersist()
    return out


def evaluate_indexed(spark, index_dir, q: str) -> DataFrame:
    """Segment-store evaluation: ONE pruned scan decodes every term's
    list (index/lists.py), the tree is joins over those rows; the NOT
    universe is doc_meta (titledb), never the corpus."""
    from open_source_search_engine_spark.index import lists as L

    ast = parse(q)
    terms = terms_of(ast)
    index_dir = L.as_handle(spark, index_dir)
    tmap = L.term_id_map(spark, index_dir, terms)
    tp = L.term_postings(spark, index_dir, terms).select("term_id", "doc_id").persist()
    universe = index_dir.doc_meta_df().select("doc_id")
    empty = local_frame(spark, "doc_id long")

    def term_set(t: str) -> DataFrame:
        if t not in tmap:
            return empty
        return tp.filter(F.col("term_id") == tmap[t]).select("doc_id")

    out = _eval_sets(ast, term_set, universe).orderBy("doc_id")
    # same storage-hygiene rule as evaluate(): materialize, then free
    # the decoded-lists cache before returning
    out = out.localCheckpoint(eager=True)
    tp.unpersist()
    return out


def to_sql(q: str) -> str:
    """DuckDB mirror: INTERSECT / UNION / EXCEPT over per-term doc-id
    sets (set ops are distinct-semantics — sound because every operand
    is a doc-id set)."""
    ast = parse(q)

    def emit(node: Node) -> str:
        if node.op == "term":
            t = node.term.replace("'", "''")
            return f"(SELECT doc_id FROM toks_f WHERE term = '{t}')"
        if node.op == "and":
            return "(" + "\n INTERSECT\n ".join(emit(c) for c in node.children) + ")"
        if node.op == "or":
            return "(" + "\n UNION\n ".join(emit(c) for c in node.children) + ")"
        if node.op == "not":
            return (
                "((SELECT doc_id FROM documents)\n EXCEPT\n "
                + emit(node.children[0])
                + ")"
            )
        raise ValueError(node.op)  # pragma: no cover

    prelude = """WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), toks_f AS (SELECT doc_id, term FROM toks WHERE term <> '')"""
    return f"{prelude}\nSELECT doc_id FROM {emit(ast)} ORDER BY doc_id"
