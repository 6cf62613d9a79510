"""Query-language front end — the Spark analog of Query.cpp
(Query::set2 turning the query string into QueryWords/QueryTerms with
signs, field codes and phrase ids; SURVEY.md §2.2 F1-F5, §3.1).

Grammar (Gigablast-compatible subset):

    term            scored, REQUIRED (default-AND, Query.cpp set2)
    +term           same (explicit plus sign)
    -term           excluded (negative sign, F1): drops every doc
                    with a live posting of the term
    field:value     metadata restriction (F3) on a docs column
                    (lang:, source:; numeric col ops via range_:)
    "a b"           phrase: tokens must be adjacent (X4 bigram ids);
                    each token also scored
    a|b|c           synonym OR-group (X5 — Query.cpp set2 synonym
                    expansion, Synonyms.cpp getSynonyms): the group
                    must match (>=1 member present), every present
                    member contributes its BM25 term score; -a|b
                    excludes docs containing ANY member

``execute`` compiles the parsed query onto the DataFrame BM25 oracle;
``execute_indexed`` compiles it into one segment-store scan and the
one match kernel of the read path, ``index.lists.match_kernel``
(Msg39's per-shard intersect-and-score, SURVEY.md §3.1);
``sql`` emits the equivalent DuckDB SQL so the driver can verify the
whole front end end-to-end.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from open_source_search_engine_spark.index import lists as L
from open_source_search_engine_spark.operators import bm25, phrase as phrase_ops
from open_source_search_engine_spark.plans import oracle_sql as osql
from open_source_search_engine_spark.session import local_frame

FIELD_COLS = {"lang", "source", "repo", "path"}


@dataclass
class ParsedQuery:
    required: list[str] = field(default_factory=list)
    excluded: list[str] = field(default_factory=list)
    filters: dict[str, str] = field(default_factory=dict)
    phrases: list[tuple[str, ...]] = field(default_factory=list)
    groups: list[tuple[str, ...]] = field(default_factory=list)

    @property
    def scored_groups(self) -> list[tuple[str, ...]]:
        """AND units, in query order: singleton groups for plain
        required terms and phrase words, multi-member groups for
        ``a|b`` tokens. Term membership is first-wins (a term already
        claimed by an earlier unit is dropped from later ones), so
        term → group is a function — the CASE/WHEN gid chains in the
        Spark paths and the SQL oracle agree by construction."""
        out: list[tuple[str, ...]] = []
        seen: set[str] = set()
        units = (
            [(t,) for t in self.required]
            + [tuple(g) for g in self.groups]
            + [(w,) for p in self.phrases for w in p]
        )
        for g in units:
            members = tuple(t for t in dict.fromkeys(g) if t not in seen)
            if not members:
                continue
            seen.update(members)
            out.append(members)
        return out

    @property
    def scored_terms(self) -> list[str]:
        return [t for g in self.scored_groups for t in g]

    @property
    def has_or_groups(self) -> bool:
        return any(len(g) > 1 for g in self.scored_groups)


def parse(q: str) -> ParsedQuery:
    out = ParsedQuery()
    for m in re.finditer(r'[+-]?"[^"]+"|\S+', q):
        tok = m.group(0)
        sign = ""
        if tok[0] in "+-":
            sign, tok = tok[0], tok[1:]
        if tok.startswith('"') and tok.endswith('"') and len(tok) > 1:
            words = tuple(tok[1:-1].lower().split())
            if words:
                out.phrases.append(words)
            continue
        if ":" in tok:
            f, v = tok.split(":", 1)
            if f.lower() in FIELD_COLS:
                out.filters[f.lower()] = v
                continue
        if "|" in tok:
            members = [w for w in tok.lower().split("|") if w]
            if not members:
                continue
            if sign == "-":
                out.excluded.extend(members)
            elif len(members) == 1:
                out.required.append(members[0])
            else:
                out.groups.append(tuple(members))
            continue
        t = tok.lower()
        if not t:
            continue
        (out.excluded if sign == "-" else out.required).append(t)
    return out


# a real synonym dictionary is ~1e5 entries (the reference ships a ~MB
# Wiktionary file); 1e6 is far past any dictionary and well before
# driver memory pain — fail loudly there (VERDICT r04 minor #2)
SYNONYM_DICT_MAX_ENTRIES = 1_000_000


def expand_synonyms(q: str, synonyms) -> str:
    """Dictionary-driven synonym expansion (Synonyms.cpp getSynonyms /
    Wiktionary.cpp, SURVEY.md §2.8 X5): rewrite each scored query term
    that has a dictionary entry into an ``a|b|c`` OR-group, which the
    existing grammar compiles to group-counted BM25 (every member
    scores, the GROUP must match). Applied at the string level BEFORE
    ``parse`` so every execution path (corpus algebra, segment store,
    DuckDB oracle) sees the identical expanded query.

    NOT expanded, matching the reference's behavior: excluded terms
    (``-t`` stays a precise exclusion), field filters, phrase words
    (a phrase is a verbatim position constraint) and tokens that are
    already OR-groups.

    ``synonyms`` — a ``{term: [synonym, ...]}`` dict, or a DataFrame
    with (term, synonym) columns. The DataFrame form is collected
    driver-side: a synonym dictionary is vocabulary-scale metadata
    (the reference ships a ~MB wiktionary-synonyms file), the same
    class as the term dict — never corpus-scale."""
    if isinstance(synonyms, DataFrame):
        synonyms_df = synonyms.groupBy("term").agg(
            F.array_sort(F.collect_set("synonym")).alias("syns")
        )
        # explicit contract (VERDICT r04): the collect is bounded to
        # dictionary scale. A table past the cap is not a synonym
        # dictionary — rewrite the expansion as a broadcast join
        # against the parsed query's term list instead of collecting.
        n = synonyms_df.limit(SYNONYM_DICT_MAX_ENTRIES + 1).count()
        if n > SYNONYM_DICT_MAX_ENTRIES:
            raise ValueError(
                f"synonym dictionary exceeds {SYNONYM_DICT_MAX_ENTRIES} "
                "entries — too large to collect driver-side; join it "
                "against the query terms (broadcast the terms, not the "
                "dictionary) and pass the resulting small dict instead"
            )
        synonyms = {r["term"]: list(r["syns"]) for r in synonyms_df.collect()}

    out: list[str] = []
    for m in re.finditer(r'[+-]?"[^"]+"|\S+', q):
        tok = m.group(0)
        sign = tok[0] if tok[0] in "+-" else ""
        body = tok[len(sign):]
        is_phrase = body.startswith('"')
        is_field = (
            ":" in body and body.split(":", 1)[0].lower() in FIELD_COLS
        )
        is_group = "|" in body
        if sign != "-" and not (is_phrase or is_field or is_group):
            t = body.lower()
            syns = synonyms.get(t)
            if syns:
                members = [t] + sorted(set(s.lower() for s in syns) - {t})
                tok = sign + "|".join(members)
        out.append(tok)
    return " ".join(out)


def execute(
    docs: DataFrame,
    q: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    tokenizer_mode: str = "simple",
) -> DataFrame:
    """Compile + run: metadata filters prune candidates, phrases
    semi-join adjacency matches, negatives anti-join, positives score
    in default-AND mode."""
    pq = parse(q)
    cand_filter: Column | None = None
    for f, v in pq.filters.items():
        c = F.col(f) == v
        cand_filter = c if cand_filter is None else (cand_filter & c)

    require = None
    for words in pq.phrases:
        for a, b in zip(words, words[1:]):
            m = phrase_ops.phrase_bigram(
                docs, a, b, tokenizer_mode=tokenizer_mode, text_col=text_col, id_col=id_col
            )
            require = m if require is None else require.join(m, "doc_id", "left_semi")

    exclude = None
    if pq.excluded:
        from open_source_search_engine_spark.operators.postings import doc_tokens

        toks = doc_tokens(docs, text_col, id_col, mode=tokenizer_mode)
        exclude = (
            toks.filter(F.col("term").isin(pq.excluded)).select("doc_id").distinct()
        )

    return bm25.bm25_topk_oracle(
        docs,
        pq.scored_terms,
        k=k,
        mode="and",
        candidate_filter=cand_filter,
        cfg=bm25.EngineConfig(),
        text_col=text_col,
        id_col=id_col,
        tokenizer_mode=tokenizer_mode,
        require_docs=require,
        exclude_docs=exclude,
        groups=(
            [list(g) for g in pq.scored_groups] if pq.has_or_groups else None
        ),
    )


QUERY_SCHEMA = "doc_id long, score double"


def execute_indexed(
    spark,
    index_dir,
    q: str,
    k: int = 10,
) -> DataFrame:
    """Compile + run the SAME query language ENTIRELY from the segment
    store (VERDICT r01 item 1) as ONE scan and ONE kernel: the units
    are the scored groups plus one per indexed field term, and
    ``lists.match_kernel`` evaluates them in one pass over the union of
    their lists (Msg39's intersect-and-score, SURVEY.md §3.1) — once in
    the driver for a small scan, else per salt plus the top-k merge
    (``ColdIndex.scan``). Positions are read only for a phrase. A filter
    on a NON-indexed doc_meta column is a semi-join on the kernel's
    uncut output. Scores are rounded to 5 places after the cut: in
    Python on a small scan without such a filter, whose frame is final
    in the driver. Must stay hash-identical to ``execute`` / the DuckDB
    oracle ``sql(q)``.

    Empty results, as in ``execute``: no scored group, or the empty
    rule of ``lists.match_plan``. Phrases constrain per ADJACENT PAIR,
    mirroring ``execute`` and ``sql`` — not the full-chain n-gram of
    ``index.lists.phrase_docs``."""
    pq = parse(q)
    ix = L.as_handle(spark, index_dir)
    indexed_fields = set(ix.meta.get("index_fields", []))
    fields = [f"{f}:{v}" for f, v in pq.filters.items() if f in indexed_fields]
    meta_filters = {f: v for f, v in pq.filters.items() if f not in indexed_fields}
    plan = L.match_plan(
        ix,
        [list(g) for g in pq.scored_groups] + [[f] for f in fields],
        pq.scored_terms,
        [p for words in pq.phrases for p in zip(words, words[1:])],
        pq.excluded,
    ) if pq.scored_groups else None
    if plan is None:
        return local_frame(spark, QUERY_SCHEMA)
    k_cut = None if meta_filters else k

    def top(df: DataFrame) -> DataFrame:
        return df.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    out = ix.scan(
        plan.tids,
        lambda arrays: L.match_kernel(plan, k_cut, arrays),
        QUERY_SCHEMA, with_positions=bool(plan.pairs),
        merge=None if meta_filters else top,
        round_dp=None if meta_filters else 5,
    )
    if meta_filters:
        dm = ix.doc_meta_df()
        for f, v in meta_filters.items():
            dm = dm.filter(F.col(f) == v)
        out = top(out.join(dm.select("doc_id"), "doc_id", "left_semi"))
        out = out.select("doc_id", F.round("score", 5).alias("score"))
    return out


def sql(q: str, k: int = 10) -> str:
    """DuckDB oracle for ``execute`` (same semantics, same aliases)."""
    pq = parse(q)
    terms = pq.scored_terms
    tl = ", ".join("'" + t.replace("'", "''") + "'" for t in sorted(set(terms)))
    n_terms = len(set(terms))
    if pq.has_or_groups:
        # synonym OR-groups: count matched GROUPS, not terms (X5)
        sg = pq.scored_groups
        whens = " ".join(
            f"WHEN tf.term IN ({', '.join(chr(39) + t.replace(chr(39), chr(39) * 2) + chr(39) for t in g)}) THEN {i}"
            for i, g in enumerate(sg)
        )
        having = f"COUNT(DISTINCT CASE {whens} END) = {len(sg)}"
    else:
        having = None
    parts = []
    for f, v in pq.filters.items():
        vv = v.replace("'", "''")
        parts.append(
            f"AND doc_id IN (SELECT doc_id FROM documents WHERE {f} = '{vv}')"
        )
    for words in pq.phrases:
        for a, b in zip(words, words[1:]):
            aa, bb = a.replace("'", "''"), b.replace("'", "''")
            parts.append(
                f"""AND doc_id IN (
  WITH ptoks AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term,
           generate_subscripts(string_split(lower(text), ' '), 1) AS pos
    FROM documents)
  SELECT DISTINCT p1.doc_id
  FROM (SELECT doc_id, pos FROM ptoks WHERE term = '{aa}') p1
  JOIN (SELECT doc_id, pos FROM ptoks WHERE term = '{bb}') p2
    ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1)"""
            )
    if pq.excluded:
        el = ", ".join("'" + t.replace("'", "''") + "'" for t in pq.excluded)
        parts.append(
            f"AND doc_id NOT IN (SELECT doc_id FROM toks_f WHERE term IN ({el}))"
        )
    cand_filter = "\n  ".join(parts)
    p = osql.BM25_PARAMS
    return f"""{osql._PRELUDE}, q_df AS (
  SELECT term, COUNT(*)::DOUBLE AS df
  FROM (SELECT DISTINCT doc_id, term FROM toks_f WHERE term IN ({tl}))
  GROUP BY term
), tf AS (
  SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
  FROM toks_f WHERE term IN ({tl})
  {cand_filter}
  GROUP BY doc_id, term
), agg AS (
  SELECT tf.doc_id,
         SUM( ln((stats.n_docs - q_df.df + 0.5)/(q_df.df + 0.5) + 1.0)
              * tf.tf * ({p['k1']} + 1.0)
              / (tf.tf + {p['k1']} * (1.0 - {p['b']}
                    + {p['b']} * dl.doc_len / stats.avgdl)) ) AS s
  FROM tf JOIN q_df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats GROUP BY tf.doc_id
  HAVING {having or f"COUNT(*) = {n_terms}"}
)
SELECT doc_id, ROUND(s, 5) AS score
FROM agg ORDER BY s DESC, doc_id ASC LIMIT {k}"""
