"""Query-string parser goldens (Query.cpp set2 surface, SURVEY §2.2)."""

from __future__ import annotations

import pytest

from open_source_search_engine_spark.plans.query_language import parse


def test_parse_signs_fields_phrases():
    pq = parse('join +hash -dup lang:en "merge scan" source:s3')
    assert pq.required == ["join", "hash"]
    assert pq.excluded == ["dup"]
    assert pq.filters == {"lang": "en", "source": "s3"}
    assert pq.phrases == [("merge", "scan")]
    # phrase words are scored too, deduped, insertion order
    assert pq.scored_terms == ["join", "hash", "merge", "scan"]


def test_parse_unknown_field_is_term():
    pq = parse("foo:bar")
    assert pq.required == ["foo:bar"]
    assert pq.filters == {}


def test_parse_case_folding_and_empty():
    pq = parse("JOIN +Hash")
    assert pq.required == ["join", "hash"]
    assert parse("").required == []


def test_parse_negative_phrase_kept_as_phrase():
    # sign on a phrase: we treat it as a plain phrase (required);
    # matches Gigablast which applies signs per-term
    pq = parse('-"a b" c')
    assert ("a", "b") in pq.phrases
    assert pq.required == ["c"]


def test_parse_or_groups():
    # a|b|c synonym OR-groups (X5 through the grammar)
    pq = parse("join|merge hash -dup|copy lang:en")
    assert pq.groups == [("join", "merge")]
    assert pq.required == ["hash"]
    # negative group excludes every member
    assert pq.excluded == ["dup", "copy"]
    assert pq.filters == {"lang": "en"}
    assert pq.has_or_groups
    # AND units: required first, then groups, then phrase words
    assert pq.scored_groups == [("hash",), ("join", "merge")]
    assert pq.scored_terms == ["hash", "join", "merge"]


def test_parse_or_group_first_wins_dedup():
    # a term claimed by an earlier unit drops out of later groups,
    # so term -> group stays a function (gid CASE chains agree)
    pq = parse("join join|merge")
    assert pq.scored_groups == [("join",), ("merge",)]
    # singleton pipe token degrades to a plain term; no OR semantics
    assert not parse("a| b").has_or_groups
    assert parse("a| b").required == ["a", "b"]


def test_parse_no_groups_keeps_legacy_shape():
    # without | tokens, scored_groups are all singletons and
    # scored_terms matches the historical order exactly
    pq = parse('join +hash "merge scan"')
    assert pq.scored_groups == [("join",), ("hash",), ("merge",), ("scan",)]
    assert pq.scored_terms == ["join", "hash", "merge", "scan"]
    assert not pq.has_or_groups


def test_expand_synonyms_dict_rewrite():
    from open_source_search_engine_spark.plans.query_language import expand_synonyms

    syn = {"join": ["merge"], "scan": ["key", "probe"]}
    # scored terms expand (sorted, deduped, self first); excluded,
    # field, phrase and pre-grouped tokens are untouched
    assert (
        expand_synonyms('join +scan -join lang:en "join scan" a|b', syn)
        == 'join|merge +scan|key|probe -join lang:en "join scan" a|b'
    )
    # expansion result parses into the intended OR-groups (parse lists
    # plain required units before groups; AND semantics, order-free)
    pq = parse(expand_synonyms("join hash", syn))
    assert set(pq.scored_groups) == {("join", "merge"), ("hash",)}
    # self-synonym entries don't duplicate the head term
    assert expand_synonyms("join", {"join": ["join", "merge"]}) == "join|merge"
    # no dictionary hit -> identity
    assert expand_synonyms("hash -dup", syn) == "hash -dup"


def test_expand_synonyms_dataframe_form(spark):
    from open_source_search_engine_spark.plans.query_language import expand_synonyms

    df = spark.createDataFrame(
        [("join", "merge"), ("scan", "key"), ("scan", "probe")],
        "term string, synonym string",
    )
    assert expand_synonyms("join scan hash", df) == expand_synonyms(
        "join scan hash", {"join": ["merge"], "scan": ["key", "probe"]}
    )


def test_synonym_dictionary_collect_cap(spark, monkeypatch):
    from open_source_search_engine_spark.plans import query_language as ql

    df = spark.createDataFrame(
        [("join", "merge"), ("hash", "digest"), ("scan", "sweep")],
        "term string, synonym string",
    )
    monkeypatch.setattr(ql, "SYNONYM_DICT_MAX_ENTRIES", 2)
    with pytest.raises(ValueError, match="synonym dictionary exceeds"):
        ql.expand_synonyms("join hash", df)
    monkeypatch.undo()
    assert ql.expand_synonyms("join hash", df) == "join|merge hash|digest"


def test_execute_phrase_reads_the_named_text_column(spark):
    """A phrase leg tokenizes ``text_col``: a corpus whose text column
    is ``content`` answers as the same corpus renamed to ``text``."""
    import pandas as pd

    from fixtures.gen_corpus import gen_corpus
    from open_source_search_engine_spark.plans.query_language import execute

    pdf = gen_corpus(n_docs=120)
    q = '"scan lock" merge'
    got = execute(
        spark.createDataFrame(pdf), q, text_col="content", tokenizer_mode="code"
    ).toPandas()
    want = execute(
        spark.createDataFrame(pdf.rename(columns={"content": "text"})), q,
        tokenizer_mode="code",
    ).toPandas()
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want)
