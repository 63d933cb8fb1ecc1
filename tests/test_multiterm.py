"""Multi-term rewrites (prefix/wildcard/fuzzy) + minimum_should_match.

Parity strategy: the pattern→matcher rewrite is unit-tested pure; the
dictionary expansion is checked corpus-vs-index (two independent
derivations of the same term dictionary); scoring parity rides the
existing exhaustive==indexed rank-identity machinery; msm degenerates
(m=1 == OR, m=n == AND) are asserted bit-identical on the kernel path.
"""

import pytest
from pyspark.sql import functions as F

from neural_search_spark.index.builder import build_index
from neural_search_spark.query.multiterm import (
    _matcher_sql,
    expand_terms_corpus,
    expand_terms_indexed,
    fuzzy_topk,
    like_escape,
    multiterm_topk_indexed,
    prefix_topk,
    wildcard_to_like,
)
from neural_search_spark.query.wand import IndexReader, bm25_topk_indexed


@pytest.fixture(scope="module")
def doc_index(spark, documents, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx_mt"))
    build_index(spark, documents, d, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=4, range_block=64)
    return IndexReader(spark, d, cache_hot=True)


# --- pure rewrite helpers ---------------------------------------------

def test_like_escape():
    assert like_escape("a_b%c!d") == "a!_b!%c!!d"


def test_wildcard_to_like():
    assert wildcard_to_like("s*a?_x") == "s%a_!_x"


def test_matcher_requires_exactly_one():
    with pytest.raises(ValueError):
        _matcher_sql()
    with pytest.raises(ValueError):
        _matcher_sql(like="a%", fuzzy=("a", 1, 0))


def test_fuzzy_matcher_bounds():
    with pytest.raises(ValueError):
        _matcher_sql(fuzzy=("abc", 3, 0))
    m = _matcher_sql(fuzzy=("scal", 2, 1))
    assert "levenshtein" in m and "BETWEEN 2 AND 6" in m and "'s%'" in m


def test_matcher_is_dual_dialect(spark, duck):
    """The SAME matcher string evaluates identically in Spark SQL and
    DuckDB over the same term list (incl. the ! LIKE escape)."""
    terms = ["scan", "small", "spark", "s_core", "s%x", "other"]
    for matcher in [
        _matcher_sql(like=like_escape("s") + "%"),
        _matcher_sql(like=like_escape("s_") + "%"),
        _matcher_sql(like=wildcard_to_like("s*a*")),
        _matcher_sql(fuzzy=("scal", 2, 1)),
    ]:
        got_spark = sorted(
            r["term"]
            for r in spark.createDataFrame([(t,) for t in terms], ["term"])
            .where(F.expr(matcher)).collect()
        )
        got_duck = sorted(
            r[0]
            for r in duck.execute(
                "SELECT term FROM (SELECT unnest(?) AS term) WHERE " + matcher,
                [terms],
            ).fetchall()
        )
        assert got_spark == got_duck, matcher


# --- dictionary expansion ---------------------------------------------

def test_expansion_corpus_matches_index(documents, doc_index):
    for kwargs in [
        {"like": "s%"},
        {"like": wildcard_to_like("s*a*")},
        {"fuzzy": ("scal", 2, 1)},
        {"like": "zzz%"},  # no matches
    ]:
        assert expand_terms_corpus(documents, **kwargs) == expand_terms_indexed(
            doc_index, **kwargs
        ), kwargs


def test_expansion_cap_is_df_ordered(documents):
    full = expand_terms_corpus(documents, like="%")  # whole dictionary
    capped = expand_terms_corpus(documents, like="%", max_expansions=5)
    assert len(capped) == 5 and set(capped) <= set(full)


# --- scoring parity ----------------------------------------------------

def _pdf(df):
    return df.toPandas().sort_values("doc_id").reset_index(drop=True)


def test_prefix_exhaustive_matches_indexed(documents, doc_index):
    ex = _pdf(prefix_topk(documents, "s", k=10))
    ix = _pdf(multiterm_topk_indexed(doc_index, like=like_escape("s") + "%", k=10))
    assert ex["doc_id"].tolist() == ix["doc_id"].tolist()
    assert (ex["score"] - ix["score"]).abs().max() < 1e-9


def test_fuzzy_exhaustive_matches_indexed(documents, doc_index):
    ex = _pdf(fuzzy_topk(documents, "scal", 2, 1, k=10))
    ix = _pdf(multiterm_topk_indexed(doc_index, fuzzy=("scal", 2, 1), k=10))
    assert ex["doc_id"].tolist() == ix["doc_id"].tolist()


def test_empty_expansion_returns_empty(documents, doc_index):
    assert prefix_topk(documents, "zzz", k=10).count() == 0
    assert multiterm_topk_indexed(doc_index, like="zzz%", k=10).count() == 0


# --- minimum_should_match ---------------------------------------------

MSM_TERMS = ["spark", "window", "merge", "vector"]


def test_msm_degenerates_to_or_and(doc_index):
    or_top = bm25_topk_indexed(doc_index, MSM_TERMS, k=10, mode="or").toPandas()
    msm1 = bm25_topk_indexed(doc_index, MSM_TERMS, k=10, mode="msm:1").toPandas()
    assert or_top["doc_id"].tolist() == msm1["doc_id"].tolist()
    assert (or_top["score"] - msm1["score"]).abs().max() == 0.0  # bit-identical

    and_top = bm25_topk_indexed(doc_index, MSM_TERMS, k=10, mode="and").toPandas()
    msm_all = bm25_topk_indexed(
        doc_index, MSM_TERMS, k=10, mode=f"msm:{len(MSM_TERMS)}"
    ).toPandas()
    assert and_top["doc_id"].tolist() == msm_all["doc_id"].tolist()


def test_msm_monotone_hit_counts(doc_index):
    """Raising m can only shrink the hit set."""
    counts = []
    for m in range(1, len(MSM_TERMS) + 1):
        hits = bm25_topk_indexed(
            doc_index, MSM_TERMS, k=10_000, mode=f"msm:{m}"
        ).count()
        counts.append(hits)
    assert counts == sorted(counts, reverse=True)


def test_msm_exhaustive_matches_indexed(documents, doc_index):
    from neural_search_spark.query.exhaustive import bm25_msm

    ex = _pdf(bm25_msm(documents, MSM_TERMS, 3, round_to=None))
    ix = _pdf(
        bm25_topk_indexed(doc_index, MSM_TERMS, k=10_000, mode="msm:3")
        .select("doc_id", "score")
    )
    assert ex["doc_id"].tolist() == ix["doc_id"].tolist()
    assert (ex["score"] - ix["score"]).abs().max() < 1e-9


def test_msm_validation(doc_index, documents):
    from neural_search_spark.query.exhaustive import bm25_msm

    with pytest.raises(ValueError):
        bm25_topk_indexed(doc_index, MSM_TERMS, mode="msm:0")
    with pytest.raises(ValueError):
        bm25_msm(documents, MSM_TERMS, 0)
    with pytest.raises(ValueError):
        bm25_msm(documents, MSM_TERMS, 5)


# --- match_phrase_prefix ----------------------------------------------

def test_phrase_prefix_exhaustive_matches_indexed(documents, doc_index):
    from neural_search_spark.query.multiterm import (
        phrase_prefix_topk,
        phrase_prefix_topk_indexed,
    )

    ex = _pdf(phrase_prefix_topk(documents, ["data"], "s", k=10))
    ix = _pdf(phrase_prefix_topk_indexed(doc_index, ["data"], "s", k=10))
    assert len(ex) == 10
    assert ex["doc_id"].tolist() == ix["doc_id"].tolist()
    assert (ex["score"] - ix["score"]).abs().max() < 1e-9


def test_phrase_prefix_single_expansion_equals_phrase_gate(documents):
    """prefix 'win' expands only to 'window', so the gated doc set must
    equal the exact-phrase gate of ['spark','window']."""
    from neural_search_spark.query.exhaustive import bm25_phrase
    from neural_search_spark.query.multiterm import phrase_prefix_topk

    pp = phrase_prefix_topk(documents, ["spark"], "win", k=10_000)
    ph = bm25_phrase(documents, ["spark", "window"])
    assert sorted(r["doc_id"] for r in pp.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in ph.select("doc_id").collect()
    )


def test_phrase_prefix_empty_expansion(documents, doc_index):
    from neural_search_spark.query.multiterm import (
        phrase_prefix_topk,
        phrase_prefix_topk_indexed,
    )

    assert phrase_prefix_topk(documents, ["data"], "zzz", k=10).count() == 0
    assert phrase_prefix_topk_indexed(doc_index, ["data"], "zzz", k=10).count() == 0


# --- highlighting ------------------------------------------------------

def test_highlight_snippet_contains_a_query_term(documents):
    from neural_search_spark.query.highlight import highlight_topk

    rows = highlight_topk(documents, ["spark", "window", "merge"], k=10, window=5).collect()
    assert len(rows) == 10
    for r in rows:
        toks = r["snippet"].split(" ")
        assert len(toks) <= 11  # 2*window+1 cap
        assert set(toks) & {"spark", "window", "merge"}, r["snippet"]


def test_highlight_window_centering(spark):
    """Doc with a known token stream: snippet must center on the first
    query-term occurrence, clamped at the document start."""
    from neural_search_spark.query.highlight import highlight_topk

    docs = spark.createDataFrame(
        [(1, "a b c d e f g target h i j k l m n"), (2, "target x y z")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["snippet"] for r in highlight_topk(docs, ["target"], k=2, window=2).collect()}
    assert got[1] == "f g target h i"
    assert got[2] == "target x y z"  # clamped left, short right


# --- bool / dis_max ----------------------------------------------------

def test_bool_must_not_excludes(documents):
    from neural_search_spark.query.booleans import bool_topk

    with_not = bool_topk(documents, must=["data"], must_not=["dup"], k=10_000)
    without = bool_topk(documents, must=["data"], k=10_000)
    ids_with = {r["doc_id"] for r in with_not.select("doc_id").collect()}
    ids_without = {r["doc_id"] for r in without.select("doc_id").collect()}
    assert ids_with <= ids_without
    # every excluded doc really contains the prohibited term
    from neural_search_spark.query.exhaustive import tokenized
    dup_docs = {
        r["doc_id"]
        for r in tokenized(documents).where(F.array_contains("toks", "dup"))
        .select("doc_id").collect()
    }
    assert ids_without - ids_with == ids_without & dup_docs


def test_bool_pure_must_equals_conjunctive(documents):
    from neural_search_spark.query.booleans import bool_topk
    from neural_search_spark.query.exhaustive import bm25_conjunctive, topk

    terms = ["data", "query", "table"]
    b = bool_topk(documents, must=terms, k=10_000).select("doc_id", "score")
    c = topk(bm25_conjunctive(documents, terms, round_to=4), k=10_000, round_to=None
             ).select("doc_id", "score")
    bp = _pdf(b); cp = _pdf(c)
    assert bp["doc_id"].tolist() == cp["doc_id"].tolist()
    assert (bp["score"] - cp["score"]).abs().max() < 1e-9


def test_bool_indexed_matches_exhaustive(documents, doc_index):
    from neural_search_spark.query.booleans import bool_topk, bool_topk_indexed

    ex = _pdf(bool_topk(documents, must=["data"], should=["spark", "window"],
                        must_not=["dup"], k=10))
    ix = _pdf(bool_topk_indexed(doc_index, must=["data"], should=["spark", "window"],
                                must_not=["dup"], k=10))
    assert ex["doc_id"].tolist() == ix["doc_id"].tolist()
    assert (ex["score"] - ix["score"]).abs().max() < 1e-9


def test_bool_validation(documents, doc_index):
    from neural_search_spark.query.booleans import bool_topk, bool_topk_indexed

    with pytest.raises(ValueError):
        bool_topk(documents)  # no scoring clause
    with pytest.raises(ValueError):
        bool_topk(documents, must=["data"], must_not=["data"])
    with pytest.raises(ValueError):
        bool_topk(documents, should=["a"], minimum_should_match=2)
    with pytest.raises(ValueError):
        bool_topk_indexed(doc_index, should=["spark"])  # indexed needs must


def test_dis_max_tie_breaker_bounds(documents):
    from neural_search_spark.query.booleans import dis_max_topk

    with pytest.raises(ValueError):
        dis_max_topk(documents, [["a"]], tie_breaker=1.5)


def test_dis_max_degenerates(documents):
    """tie_breaker=1 == bool-should sum; tie_breaker=0 == best field."""
    from neural_search_spark.query.booleans import dis_max_topk
    from neural_search_spark.query.exhaustive import bm25_scores, topk

    groups = [["spark", "window"], ["merge"]]
    dm1 = _pdf(dis_max_topk(documents, groups, tie_breaker=1.0, k=10_000))
    flat = _pdf(topk(bm25_scores(documents, ["spark", "window", "merge"], round_to=4),
                     k=10_000, round_to=None))
    assert dm1["doc_id"].tolist() == flat["doc_id"].tolist()
    assert (dm1["score"] - flat["score"]).abs().max() <= 1e-4  # per-group rounding

    dm0 = dis_max_topk(documents, groups, tie_breaker=0.0, k=10_000).toPandas()
    per_g = {}
    for g in groups:
        for r in bm25_scores(documents, g, round_to=None).collect():
            per_g.setdefault(r["doc_id"], []).append(r["score"])
    for r in dm0.itertuples():
        assert abs(r.score - round(max(per_g[r.doc_id]), 4)) <= 1e-4


# --- regexp query -------------------------------------------------------

def test_regexp_matcher_validation():
    from neural_search_spark.query.multiterm import regexp_matcher

    assert regexp_matcher("al(pha|fa)") == (
        "regexp_replace(term, '^(?:al(pha|fa))$', '') = ''"
    )
    # class negation is the ONE allowed use of ^
    regexp_matcher("[^x]eta")
    for bad in ["", "a\\d", "a~b", "a&b", "a<b", "a>b", "a#b",
                "^a", "a$", "café", "a\tb"]:
        with pytest.raises(ValueError):
            regexp_matcher(bad)


def test_regexp_expansion_corpus_matches_index(documents, doc_index):
    from neural_search_spark.query.multiterm import regexp_matcher

    for pat in ["s[cpt].*|merge", ".?eta", "quer(y|ies)", "zzz+"]:
        m = regexp_matcher(pat)
        assert expand_terms_corpus(documents, matcher=m) == expand_terms_indexed(
            doc_index, matcher=m
        ), pat


def test_regexp_whole_term_and_scoring(documents, doc_index):
    """Lucene RegexpQuery matches the ENTIRE term (a partial-match
    pattern expands to nothing), and the exhaustive and indexed paths
    rank identically on a real expansion."""
    from neural_search_spark.query.multiterm import regexp_matcher, regexp_topk

    # "spar" is a strict prefix of the term "spark" — whole-term
    # semantics must NOT match it
    assert expand_terms_corpus(documents, matcher=regexp_matcher("spar")) == []

    exh = regexp_topk(documents, "s[cpt].*|merge", k=10).toPandas()
    idx = multiterm_topk_indexed(
        doc_index, matcher=regexp_matcher("s[cpt].*|merge"), k=10
    ).toPandas()
    assert exh["doc_id"].tolist() == idx["doc_id"].tolist()
    assert (exh["score"] - idx["score"]).abs().max() <= 1e-4
