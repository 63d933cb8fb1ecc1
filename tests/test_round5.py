"""Round-5 additions, third-party-checked where possible:

* Unicode analyzers (`standard`/`letter`/`lowercase` now use \\p{L}/\\p{N}
  classes — UAX#29-approximate word runs with ExtendNumLet underscore
  joining): the four engines that tokenize (Python predicates, RE2 via
  DuckDB, RE2 via Arrow, Java via Spark SQL) must agree token-for-token
  on mixed-script text, and `match_text_topk` must be rank-identical to
  a DuckDB oracle over a NON-ASCII corpus.
* v5 positional codec (per-term PFor-vs-varint choice for position
  deltas): decoded chains equal direct tokenization on both codec
  branches, and the PFor branch is actually exercised.
"""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

# Mixed-script strings exercising the documented divergence boundary:
# accents, Cyrillic, Greek, CJK runs, superscripts (No), Roman numerals
# (Nl), underscores (ExtendNumLet).
MIXED = [
    "naïve café_über Москва привет42 foo_bar 3.14 don't 東京タワー test",
    "Grüße ÅNGSTRÖM Ωmega ζήτα λ_calculus x²+y² Ⅷ time",
    "mixed ASCII and Ünïcödé wörds_123",
    "__edge__ _ 42 ¼cup preṃchand",
    # whitespace-analyzer boundary: \x0B (RE2 \s and Java \s disagree
    # on it — the explicit class does not), \x1f (Java isWhitespace,
    # Python \s, NOT RE2 \s), \xa0 +   (non-breaking: NOT
    # whitespace in Java/Lucene),  /　 (Zl/ideographic space)
    "a\x0bb\x1fc\xa0d e f　g  h",
]


@pytest.mark.parametrize("name", ["standard", "letter", "lowercase",
                                  "whitespace"])
def test_analyzer_four_engine_parity(spark, duck, name):
    from neural_search_spark.functions.tokenize import ANALYZERS, py_token_spans

    split_re, _token_re, lower = ANALYZERS[name]
    import pyarrow as pa
    import pyarrow.compute as pc

    for s in MIXED:
        t = s.lower() if lower else s
        py = [t[a:b] for a, b in py_token_spans(t, name)]
        got_duck = duck.execute(
            "SELECT list_filter(regexp_split_to_array(?, ?), x -> x <> '')",
            [t, split_re],
        ).fetchone()[0]
        assert py == got_duck, (name, s, py, got_duck)
        cleaned = pc.replace_substring_regex(
            pa.array([t]), pattern=split_re, replacement=" "
        )
        got_arrow = [x for x in cleaned[0].as_py().split(" ") if x]
        assert py == got_arrow, (name, s, py, got_arrow)
        # F.split passes the Java-regex pattern verbatim (a spark.sql
        # string literal would eat the backslashes)
        got_spark = [
            x for x in spark.createDataFrame([(t,)], "t string")
            .select(F.split("t", split_re)).collect()[0][0] if x
        ]
        assert py == got_spark, (name, s, py, got_spark)


def test_analyzer_parity_random_unicode(duck):
    """Generative extension of the four-engine parity: on ARBITRARY
    unicode text (hypothesis), the Python span scanner, DuckDB's RE2
    split and Arrow's RE2 replace-then-split must agree token-for-token
    for every analyzer. (The Spark/Java engine is pinned by the fixed
    mixed-script corpus above — per-example Spark jobs would dominate
    the suite.)"""
    import pyarrow as pa
    import pyarrow.compute as pc
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from neural_search_spark.functions.tokenize import ANALYZERS, py_token_spans

    # version-stable alphabet: the four engines ship DIFFERENT Unicode
    # table versions (CPython 3.11 = 14.0, RE2 builds vary, Java 17 =
    # 13.0), so code points assigned between versions legitimately
    # classify differently (\p{L} vs isalpha) — e.g. U+31350 (CJK ext H,
    # Unicode 15). Generate from blocks stable for a decade+: Latin
    # through Greek/Cyrillic/punct/space blocks, CJK punct + kana, and
    # the original unified-ideograph block.
    stable = st.characters(
        max_codepoint=0x2FFF,
        exclude_categories=("Cs",),
    ) | st.characters(min_codepoint=0x3000, max_codepoint=0x30FF) | (
        st.characters(min_codepoint=0x4E00, max_codepoint=0x9F00))

    @settings(max_examples=120, deadline=None)
    @given(st.text(alphabet=stable, max_size=60))
    def run(s):
        for name in ("standard", "letter", "lowercase", "whitespace",
                     "code", "simple"):
            split_re, _token_re, lower = ANALYZERS[name]
            t = s.lower() if lower else s
            py = [t[a:b] for a, b in py_token_spans(t, name)]
            got_duck = duck.execute(
                "SELECT list_filter(regexp_split_to_array(?, ?), x -> x <> '')",
                [t, split_re],
            ).fetchone()[0]
            assert py == got_duck, (name, s, py, got_duck)
            cleaned = pc.replace_substring_regex(
                pa.array([t]), pattern=split_re, replacement=" "
            )
            got_arrow = [x for x in cleaned[0].as_py().split(" ") if x]
            assert py == got_arrow, (name, s, py, got_arrow)

    run()


def test_standard_joins_underscore_like_uax29(spark):
    # UAX#29 WB13a/13b: ExtendNumLet joins — StandardTokenizer keeps
    # foo_bar as ONE token; the r04 ASCII approximation split it.
    from neural_search_spark.functions.tokenize import analyze_query

    assert analyze_query("foo_bar baz", "standard") == ["foo_bar", "baz"]
    assert analyze_query("foo_bar baz", "letter") == ["foo", "bar", "baz"]


NONASCII_DOCS = [
    (0, "naïve café implementation naïve again"),
    (1, "Москва uses naïve caching"),
    (2, "café Москва café naïve"),
    (3, "plain ascii words only here"),
    (4, "λ_calculus and naïve λ_calculus notes"),
    (5, "Grüße from the café in Москва"),
]


def test_match_text_nonascii_indexed_vs_duckdb_oracle(spark, tmp_path):
    """VERDICT r04 #7 done-bar: match over a non-ASCII corpus with the
    standard analyzer, indexed kernel vs a DuckDB oracle running the
    SAME \\p{} spec — rank-identical."""
    import duckdb
    import pandas as pd

    from neural_search_spark.index.builder import build_index
    from neural_search_spark.oracle import match_text_topk_sql
    from neural_search_spark.query.wand import IndexReader, match_text_topk

    docs = spark.createDataFrame(NONASCII_DOCS, "doc_id long, text string")
    d = str(tmp_path / "uniidx")
    build_index(spark, docs, d, key_cols=["doc_id"], text_col="text",
                tokenizer="standard", num_segments=2, range_block=4)
    r = IndexReader(spark, d, cache_hot=True)
    for q in ["naïve café", "Москва", "λ_calculus naïve", "NAÏVE plain"]:
        got = match_text_topk(r, q, k=10)
        rows = sorted(
            ((int(x["doc_id"]), round(float(x["score"]), 4)) for x in got.collect()),
            key=lambda t: (-t[1], t[0]))
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(NONASCII_DOCS,
                                               columns=["doc_id", "text"]))
        exp = con.execute(
            match_text_topk_sql(q, k=10, tokenizer="standard")
        ).fetchall()
        exp = [(int(a), float(b)) for a, b, _rank in exp]
        con.close()
        assert rows == exp, (q, rows, exp)


def test_chunk_fixed_standard_nonascii(spark):
    """Fixed-token chunking with the standard analyzer over non-ASCII
    text: chunk boundaries follow Unicode token spans; re-chunked text
    concatenates back to full coverage of every token."""
    from neural_search_spark.operators.chunkers import chunk_fixed_token_length
    from neural_search_spark.functions.tokenize import py_token_spans

    text = "naïve café_über Москва привет λ_calculus Grüße test naïve end"
    chunks = chunk_fixed_token_length(text, token_limit=3, overlap_rate=0.0,
                                      tokenizer="standard")
    spans = py_token_spans(text, "standard")
    # every chunk holds <= 3 tokens and the union covers all tokens
    total = 0
    for c in chunks:
        n = len(py_token_spans(c, "standard"))
        assert 1 <= n <= 3
        total += n
    assert total == len(spans)


def test_position_stream_roundtrip_every_term(spark):
    """Every term's varint position stream decodes to the token
    ordinals of direct tokenization — dense small-gap chains, one
    far-offset occurrence per doc, and a single-occurrence term."""
    from neural_search_spark.functions.codecs import varint_decode
    from neural_search_spark.index.builder import (
        decode_term_deltas,
        decode_term_positions,
    )
    from neural_search_spark.index.builder import build_index
    from neural_search_spark.query.wand import IndexReader
    import tempfile

    # `dense` appears every other token (tiny gaps); `rare` appears
    # once per doc at a large offset; `zzqunique` once in the corpus
    rows = []
    for d in range(60):
        toks = []
        for i in range(40):
            toks.append("dense" if i % 2 == 0 else f"filler{i}_{d}")
        toks.append("rare")
        if d == 7:
            toks.append("zzqunique")
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    with tempfile.TemporaryDirectory() as td:
        d = os.path.join(td, "idx")
        build_index(spark, docs, d, key_cols=["doc_id"], text_col="text",
                    tokenizer="simple", num_segments=1, range_block=8)
        r = IndexReader(spark, d, cache_hot=False)
        pdf = r.postings_positional().toPandas().set_index("term")
        assert {"dense", "rare", "zzqunique"} <= set(pdf.index)
        from neural_search_spark.query.exhaustive import tokenized

        toks_by_doc = {int(x["doc_id"]): list(x["toks"]) for x in
                       tokenized(docs).collect()}
        dm = {int(x["nss_doc_id"]): int(x["doc_id"]) for x in
              r.docmap().collect()}
        for term, row in pdf.iterrows():
            deltas = decode_term_deltas(row["docs"], row["block_ns"],
                                        row["block_doc_off"], int(row["pack_bits"]),
                                        row["exc_pos"], row["exc_high"])
            ns = np.asarray(row["block_ns"], dtype=np.int64)
            bids = np.asarray(row["block_ids"], dtype=np.int64)
            starts = np.r_[0, np.cumsum(ns)[:-1]]
            cs = np.cumsum(deltas)
            carry = np.repeat(cs[starts] - deltas[starts], ns)
            local = np.repeat(bids * 8, ns) + cs - carry
            tfs = varint_decode(row["tfs"]).astype(np.int64)
            pos = decode_term_positions(row["positions"], tfs)
            off = np.r_[0, np.cumsum(tfs)]
            seg = int(row["segment_id"])
            for i, lid in enumerate(local):
                did = dm[(seg << 40) + int(lid)]
                exp = [j for j, t in enumerate(toks_by_doc[did]) if t == term]
                assert pos[off[i]:off[i + 1]].tolist() == exp, (term, did)


def test_nested_score_modes_hand_computed(spark):
    """Third-source fixture for the block-join ScoreMode rollup: a
    4-chunk corpus with EQUAL chunk lengths (dl = avgdl = 4 ⇒ the
    Lucene norm term is exactly 1.0, so per-chunk BM25 reduces to
    idf·tf/(tf+k1)) — every rollup value is hand-derivable:

      chunks: d1c1 "q a b c" (tf=1), d1c2 "q q d e" (tf=2),
              d2c1 "q f g h" (tf=1), d3c1 "x y z w" (no match)
      N=4, df(q)=3 ⇒ idf = ln(1 + (4-3+0.5)/(3+0.5)) = ln(10/7)
      tf1 = idf/2.2, tf2 = idf·(2/3.2)

      parent 1: max=tf2, total=tf1+tf2, avg=(tf1+tf2)/2, min=tf1
      parent 2: every mode = tf1;  parent 3: absent (never 0-scored)
    """
    import math

    from neural_search_spark.operators.nested import nested_chunk_scores

    docs = spark.createDataFrame(
        [(1, "q a b c | q q d e"), (2, "q f g h"), (3, "x y z w")],
        "doc_id long, text string")
    idf = math.log(10.0 / 7.0)
    tf1, tf2 = idf / 2.2, idf * (2.0 / 3.2)
    want = {
        "max": {1: tf2, 2: tf1},
        "total": {1: tf1 + tf2, 2: tf1},
        "sum": {1: tf1 + tf2, 2: tf1},
        "avg": {1: (tf1 + tf2) / 2.0, 2: tf1},
        "min": {1: tf1, 2: tf1},
    }
    for mode, exp in want.items():
        got = {r["doc_id"]: r["score"]
               for r in nested_chunk_scores(docs, ["q"], " | ",
                                            score_mode=mode).collect()}
        assert set(got) == {1, 2}, mode  # parent 3 never appears
        for d, v in exp.items():
            assert abs(got[d] - v) < 1e-9, (mode, d, got[d], v)


def test_nested_conjunctive_hand_computed(spark):
    """Third-source fixture for nested match Operator.AND: conjunction
    gates each CHUNK before the rollup. Equal chunk lengths (dl =
    avgdl = 4 ⇒ Lucene norm term exactly 1.0, per-chunk BM25 =
    idf·tf/(tf+k1)):

      chunks: d1c1 "q r a b" (both terms, tf=1 each),
              d1c2 "q c d e" (q only — NEVER qualifies under AND),
              d2c1 "q q r r" (both, tf=2 each), d3c1 "r f g h" (r only)
      N=4 chunks, df(q)=df(r)=3 ⇒ idf = ln(10/7) for both terms

      AND: parent 1 = 2·idf/2.2 (d1c1 alone), parent 2 = 2·idf·(2/3.2),
           parent 3 absent
      OR (same corpus): parent 1 totals the q-only chunk too, parent 3
           appears — the sets the conjunction must exclude
    """
    import math

    from neural_search_spark.operators.nested import nested_chunk_scores

    docs = spark.createDataFrame(
        [(1, "q r a b | q c d e"), (2, "q q r r"), (3, "r f g h")],
        "doc_id long, text string")
    idf = math.log(10.0 / 7.0)
    c11 = 2.0 * idf / 2.2
    c21 = 2.0 * idf * (2.0 / 3.2)
    for mode in ("total", "max"):
        got = {r["doc_id"]: r["score"] for r in nested_chunk_scores(
            docs, ["q", "r"], " | ", score_mode=mode,
            operator="and").collect()}
        assert set(got) == {1, 2}, mode
        assert abs(got[1] - c11) < 1e-9 and abs(got[2] - c21) < 1e-9, mode
    got_or = {r["doc_id"]: r["score"] for r in nested_chunk_scores(
        docs, ["q", "r"], " | ", score_mode="total").collect()}
    assert set(got_or) == {1, 2, 3}
    assert abs(got_or[1] - (c11 + idf / 2.2)) < 1e-9  # + the q-only chunk
    assert abs(got_or[3] - idf / 2.2) < 1e-9


def test_format_version_guard(spark, tmp_path):
    """index_meta.json carries format_version and every open/append
    path rejects a mismatch (SegmentInfos version check analog) — an
    older version and a meta without the key alike: every v5+ writer
    persisted the version, so a version-less meta predates v6."""
    import json

    from neural_search_spark.index.builder import (
        FORMAT_VERSION, build_index, paths,
    )
    from neural_search_spark.index.live import append_segment
    from neural_search_spark.index.merge import merge_segments
    from neural_search_spark.query.wand import IndexReader

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(8)], "doc_id long, text string")
    idx = str(tmp_path / "idx")
    build_index(spark, docs, idx, key_cols=["doc_id"], text_col="text",
                tokenizer="simple", num_segments=2, range_block=64)
    mpath = paths(idx)["meta"]
    with open(mpath) as fh:
        meta = json.load(fh)
    assert meta["format_version"] == FORMAT_VERSION == 6
    assert "pos_codec" not in meta

    v5 = {**meta, "format_version": 5}
    unversioned = {k: v for k, v in meta.items() if k != "format_version"}
    for bad in (v5, unversioned):
        with open(mpath, "w") as fh:
            json.dump(bad, fh)
        with pytest.raises(ValueError, match="format"):
            IndexReader(spark, idx)
        with pytest.raises(ValueError, match="format"):
            merge_segments(spark, idx, str(tmp_path / "merged"), factor=2)
        with pytest.raises(ValueError, match="format"):
            append_segment(spark, docs, idx, segment_id=2)
        with pytest.raises(ValueError, match="format"):
            build_index(spark, docs, idx, key_cols=["doc_id"], text_col="text",
                        tokenizer="simple", num_segments=2, range_block=64,
                        resume=True)


def test_rhp_band_key_impls_bit_identical(spark):
    """The interpreted-HOF band-key projection must produce the SAME
    integer bucket keys as the codegen inline form on every vector
    (same left-fold dot-product order -> same IEEE sign decisions), so
    impl= only changes the physical plan, never the pair set."""
    import math

    from pyspark.sql import functions as F

    from neural_search_spark.pipeline import dedup

    d, n = 16, 60
    rows = [(i, [math.sin(0.1 * i * (j + 1)) for j in range(d)]) for i in range(n)]
    rows += [(n, rows[3][1]), (n + 1, rows[7][1])]  # exact dups -> pairs
    vecs = spark.createDataFrame(rows, "doc_id long, v array<double>")

    cg = dedup.rhp_band_key_exprs("v", d, dedup.RHP_BANDS, dedup.RHP_BITS,
                                  one_based=False)
    hof = dedup.rhp_band_key_exprs_hof("v", d, dedup.RHP_BANDS, dedup.RHP_BITS)
    both = vecs.select(
        "doc_id",
        *[F.expr(k).cast("long").alias(f"c{i}") for i, k in enumerate(cg)],
        *[F.expr(k).cast("long").alias(f"h{i}") for i, k in enumerate(hof)],
    ).collect()
    for r in both:
        for i in range(dedup.RHP_BANDS):
            assert r[f"c{i}"] == r[f"h{i}"], (r["doc_id"], i)

    def pairset(impl):
        return {(r["a"], r["b"], r["cos"]) for r in dedup.embedding_lsh_pairs(
            vecs, threshold=0.98, dim=d, impl=impl).collect()}

    p_cg, p_hof, p_auto = pairset("codegen"), pairset("hof"), pairset("auto")
    assert p_cg == p_hof == p_auto
    assert {(a, b) for a, b, _ in p_cg} >= {(3, n), (7, n + 1)}

    with pytest.raises(ValueError, match="impl"):
        dedup.embedding_lsh_pairs(vecs, threshold=0.98, dim=d, impl="nope")
