"""Generative differential tests of the query-DSL translator.

A hypothesis grammar draws search bodies over every query type in
``dsl._HANDLERS`` — well-formed specs and malformed ones (wrong value
kinds, missing and unknown keys, unknown fields) — and checks three
properties on the sf0.001 documents, with the session's positional
index and without it:

* every body gives a collectable frame or a ``DslError``, nothing else;
* the indexed and exhaustive paths answer alike wherever both accept;
* plain ``match`` bodies equal the DuckDB oracle.

The ``tier1`` hypothesis profile (tests/conftest.py) derandomizes the
draws and bounds the examples, so the run is reproducible and short."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from neural_search_spark import oracle
from neural_search_spark.query import dsl
from neural_search_spark.query.dsl import DslError, SearchContext, search

VOCAB = ["spark", "window", "merge", "join", "table", "scan", "batch",
         "stream", "the", "zzz"]
BAD = st.sampled_from(["x", None, [1], True, {"a": 1}, -1, 1.5])


def mostly(good, bad=BAD, n: int = 5):
    """``good`` about n times in n+1 draws, else ``bad`` (by default a
    malformed value)."""
    return st.sampled_from(range(n + 1)).flatmap(lambda i: bad if i == n else good)


words = st.lists(st.sampled_from(VOCAB), min_size=1, max_size=3).map(" ".join)
text = mostly(words, st.sampled_from(["", "!!!", 5, None, ["spark"]]))
term = mostly(st.sampled_from(VOCAB))
field = mostly(st.just("text"), st.just("other"))
integer = mostly(st.integers(0, 3))
number = mostly(st.floats(0, 2))
column = mostly(st.sampled_from(["doc_id", "n_chars", "lang"]),
                st.sampled_from(["text", "nope", "a-b"]), n=3)
scalar = mostly(st.integers(0, 500) | st.sampled_from(["es", "de", "x"]), n=3)
op = mostly(st.sampled_from(["or", "and"]), st.just("xor"))


def obj(required: dict, optional: dict | None = None, value_key: str | None = None):
    """A field-keyed or plain params object: every required key and any
    subset of the optional ones; now and then an unknown key added or a
    required key dropped."""
    params = st.fixed_dictionaries(required, optional=optional or {})
    bogus = params.map(lambda d: {**d, "bogus": 1})
    dropped = params.flatmap(
        lambda d: st.sampled_from(sorted(required)).map(
            lambda k: {kk: v for kk, v in d.items() if kk != k}) if required else st.just(d))
    params = st.sampled_from(range(10)).flatmap(
        lambda i: bogus if i == 8 else dropped if i == 9 else params)
    if value_key is None:
        return params
    return st.builds(lambda f, p: {f: p}, field, required[value_key] | params)


def match_spec(extra=None):
    return obj({"query": text}, {"operator": op, **(extra or {})}, "query")


predicate = st.one_of(
    st.builds(lambda c, v: {"term": {c: v}}, column, scalar),
    st.builds(lambda c, vs: {"terms": {c: vs}}, column, st.lists(scalar, max_size=2)),
    st.builds(lambda c, lo, hi: {"range": {c: {"gte": lo, "lte": hi}}},
              column, st.one_of(st.integers(0, 300), BAD), st.integers(100, 600)),
    st.builds(lambda c: {"exists": {"field": c}}, column),
    BAD,
)
span_clause = st.one_of(
    st.builds(lambda f, t: {"span_term": {f: t}}, field, term),
    st.builds(lambda kind, v: {"span_multi": {"match": {kind: {"text": {"value": v}}}}},
              st.sampled_from(["prefix", "wildcard", "fuzzy", "regexp", "match"]),
              st.sampled_from(["sp", "wi*", "spark", "s.*", ""])),
)
span_or = st.builds(lambda cs: {"span_or": {"clauses": cs}},
                    st.lists(span_clause, max_size=2))
span_near = st.builds(
    lambda cs, slop, order: {"span_near": {"clauses": cs, "slop": slop, "in_order": order}},
    st.lists(st.one_of(span_clause, span_or), min_size=1, max_size=3), integer,
    mostly(st.booleans()))


def leaf():
    """Scoring sub-queries: the types compound queries compose."""
    return st.one_of(
        st.builds(lambda s: {"match": s}, match_spec()),
        st.builds(lambda s: {"match_phrase": s}, obj({"query": text}, {"slop": integer}, "query")),
        st.builds(lambda c, v: {"term": {c: v}}, st.sampled_from(["text", "lang"]), term),
        st.just({"match_all": {}}),
        st.builds(lambda c, lo: {"range": {c: {"gte": lo}}}, column, number),
        st.sampled_from([{"match_none": {}}, {"hybrid": {"queries": [{"match_all": {}}]}},
                         {"bogus": {}}]),
    )


def clauses():
    return st.lists(st.one_of(st.builds(lambda s: {"match": s}, match_spec()),
                              st.sampled_from([{"term": {"text": "spark"}}, "x"])),
                    max_size=2)


def grammar() -> dict:
    """One strategy per query type — its spec, as the body's
    ``{type: spec}`` value."""
    multiterm = obj({"value": st.one_of(st.sampled_from(["sp", "win*", "spark", "s[ab]", ""]), BAD)},
                    {"max_expansions": integer, "fuzziness": integer}, "value")
    sub = leaf()
    g = {
        "match": match_spec({"minimum_should_match": integer,
                             "fuzziness": st.sampled_from([1, 2, "AUTO", 3, "x"])}),
        "match_phrase": obj({"query": text}, {"slop": integer}, "query"),
        "match_phrase_prefix": obj({"query": text}, {"max_expansions": integer}, "query"),
        "match_bool_prefix": obj({"query": text},
                                 {"operator": op, "minimum_should_match": integer}, "query"),
        **{kind: multiterm for kind in ("prefix", "wildcard", "fuzzy", "regexp")},
        "bool": obj({}, {"must": clauses(), "should": clauses(), "must_not": clauses(),
                         "minimum_should_match": integer,
                         "filter": st.lists(predicate, max_size=2)}),
        "dis_max": obj({"queries": st.lists(sub, min_size=1, max_size=2)}, {"tie_breaker": number}),
        "hybrid": obj({"queries": st.lists(sub, min_size=1, max_size=2)}),
        "neural": obj({"query_vector_id": integer}, {"k": integer, "ef": integer},
                      "query_vector_id"),
        "knn": obj({"vector": st.lists(number, max_size=2)}, {"k": integer}, "vector"),
        "neural_sparse": obj({"query_tokens": st.dictionaries(term, number, max_size=2)},
                             {"k": integer}, "query_tokens"),
        "nested": obj({"path": st.just("chunks"), "query": sub}, {"score_mode": term}),
        "term": st.builds(lambda c, v: {c: v}, column, scalar),
        "terms": st.builds(lambda c, vs: {c: vs}, column, st.one_of(st.lists(scalar, max_size=2), BAD)),
        "range": st.builds(lambda c, b: {c: b}, column,
                           obj({}, {"gte": number, "lt": st.integers(0, 600)})),
        "exists": obj({"field": column}),
        "ids": obj({"values": st.one_of(st.lists(st.integers(0, 600), max_size=3), BAD)}),
        "match_all": st.sampled_from([{}, {"x": 1}, "x"]),
        "match_none": st.sampled_from([{}, {"x": 1}]),
        "constant_score": obj({"filter": predicate}, {"boost": number}),
        "multi_match": obj({"query": text, "fields": st.sampled_from(
            [["text"], ["text^2"], ["text^x"], ["lang"], [], "text"])}, {"operator": op}),
        "boosting": obj({"positive": sub, "negative": sub, "negative_boost": number}),
        "function_score": obj({"field_value_factor": obj(
            {"field": column}, {"factor": number, "modifier": st.sampled_from(
                ["none", "log1p", "sqrt", "cube", ["x"]]), "missing": number})},
            {"query": sub, "boost_mode": st.sampled_from(["multiply", "sum", "max"])}),
        "simple_query_string": obj({"query": st.one_of(
            text, st.sampled_from(['spark -window', '"spark window" sca*', 'a + b | c']))},
            {"default_operator": op, "minimum_should_match": integer}),
        "query_string": obj({"query": st.one_of(
            text, st.sampled_from(['spark AND win*', '"spark window"~1 scan^2',
                                   'text:spark NOT join', 'fuzz~1 (a']))},
            {"default_operator": op, "minimum_should_match": integer}),
        "more_like_this": obj({"like": st.one_of(
            st.builds(lambda i: {"_id": i}, integer), BAD)},
            {"max_query_terms": integer, "min_term_freq": integer,
             "min_doc_freq": integer}),
        "rank_feature": obj({"field": column}, {"saturation": obj({}, {"pivot": number}),
                                                "boost": number}),
        "distance_feature": obj({"field": column, "origin": number, "pivot": number},
                                {"boost": number}),
        "terms_set": st.builds(lambda f, p: {f: p}, field, obj(
            {"terms": st.lists(term, max_size=2)},
            {"minimum_should_match_field": column,
             "minimum_should_match_script": st.sampled_from(
                 [{"source": "1"}, {"source": "2"}, {"source": "x"}, "1"])})),
        "script_score": obj({"query": sub, "script": obj(
            {"source": st.sampled_from(["_score * 2", "_score * params.f", "Math.log(2)"])},
            {"params": obj({}, {"f": number})})}, {"min_score": number}),
        "pinned": obj({"ids": st.one_of(st.lists(st.integers(0, 600), max_size=3, unique=True),
                                        BAD), "organic": sub}),
        "wrapper": obj({"query": st.sampled_from(
            ["eyJtYXRjaCI6IHsidGV4dCI6ICJzcGFyayJ9fQ==", "%%%", "WzEsIDJd"])}),
        "span_term": st.builds(lambda f, t: {f: t}, field, term),
        "span_or": span_or.map(lambda q: q["span_or"]),
        "span_multi": span_clause.map(lambda q: next(iter(q.values()))),
        "span_near": span_near.map(lambda q: q["span_near"]),
        "span_first": obj({"match": st.one_of(span_clause, span_near), "end": integer}),
        "span_not": obj({"include": span_clause, "exclude": span_clause},
                        {"pre": integer, "post": integer, "dist": integer}),
        "span_containing": obj({"big": span_near, "little": span_clause}),
        "span_within": obj({"big": span_near, "little": span_clause}),
        "intervals": st.builds(lambda f, src: {f: src}, field, st.one_of(
            st.builds(lambda s: {"match": s}, obj({"query": text},
                                                  {"max_gaps": integer,
                                                   "ordered": st.booleans()})),
            st.builds(lambda qs: {"any_of": {"intervals": [{"match": {"query": q}} for q in qs]}},
                      st.lists(text, max_size=2)))),
    }
    return g


GRAMMAR = grammar()
TYPES = sorted(dsl._HANDLERS)


def queries(types=TYPES):
    return st.sampled_from(types).flatmap(
        lambda t: GRAMMAR[t].map(lambda spec: {t: spec}))


extras = st.fixed_dictionaries({}, optional={
    "from": integer,
    "sort": st.sampled_from([["n_chars"], [{"lang": {"order": "desc"}}],
                             [{"n_chars": "up"}], "n_chars", ["nope"]]),
    "post_filter": predicate,
    "collapse": st.sampled_from([{"field": "lang"}, {"field": "nope"}, {}]),
    "explain": st.just(True),
    "highlight": st.sampled_from([{"fields": {"text": {}}},
                                  {"fields": {"text": {}}, "window": "x"}, {}]),
})
bodies = st.builds(
    lambda q, size, extra: {"query": q, "size": size, **extra},
    queries(), mostly(st.integers(1, 5)),
    mostly(st.just({}), extras.filter(lambda d: len(d) <= 1), n=3))


@pytest.fixture(scope="module")
def plain_ctx(documents):
    return SearchContext(docs=documents)


def _answer(ctx, body):
    """The collected rows, or None when the translator rejects the body
    (a DslError); any other exception fails the test."""
    try:
        df = search(ctx, body)
    except DslError:
        return None
    return sorted(tuple(r) for r in df.collect())


def test_grammar_covers_every_handler():
    assert set(GRAMMAR) == set(dsl._HANDLERS)


@settings(max_examples=100)
@given(body=bodies)
def test_fuzz_frame_or_dsl_error(positional_reader_ctx, plain_ctx, body):
    for ctx in (positional_reader_ctx, plain_ctx):
        _answer(ctx, body)


INDEXED = [t for t, h in dsl._HANDLERS.items() if h.indexed_topk is not None] + [
    "multi_match", "simple_query_string", "query_string", "match_bool_prefix"]


@settings(max_examples=40)
@given(q=queries(INDEXED), size=st.integers(1, 8))
def test_fuzz_indexed_equals_exhaustive(positional_reader_ctx, plain_ctx, q, size):
    body = {"query": q, "size": size}
    indexed, exhaustive = _answer(positional_reader_ctx, body), _answer(plain_ctx, body)
    if indexed is not None and exhaustive is not None:
        assert indexed == exhaustive, body


@settings(max_examples=15)
@given(text=words, operator=st.sampled_from(["or", "and"]), size=st.integers(1, 10))
def test_fuzz_match_equals_oracle(positional_reader_ctx, plain_ctx, duck, text,
                                  operator, size):
    from neural_search_spark.functions.tokenize import analyze_query

    body = {"query": {"match": {"text": {"query": text, "operator": operator}}},
            "size": size}
    sql = (oracle.match_text_topk_sql(text, k=size) if operator == "or"
           else oracle.bm25_and_topk_sql(analyze_query(text, "simple"), k=size))
    exp = [(int(d), int(r)) for d, r in duck.execute(
        f"SELECT doc_id, rank FROM ({sql}) ORDER BY rank").fetchall()]
    exp_scores = [s for (s,) in duck.execute(f"SELECT score FROM ({sql}) ORDER BY rank").fetchall()]
    for ctx in (positional_reader_ctx, plain_ctx):
        rows = sorted(search(ctx, body).collect(), key=lambda r: r["rank"])
        assert [(r["doc_id"], r["rank"]) for r in rows] == exp, (body, ctx.reader)
        assert [r["score"] for r in rows] == pytest.approx(exp_scores, abs=1e-4)
