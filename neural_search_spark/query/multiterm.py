"""Multi-term query rewriting: prefix / wildcard / fuzzy BM25 queries.

Lucene/OpenSearch analog (public semantics): ``MultiTermQuery`` with a
top-terms scoring-boolean rewrite — seek the term dictionary for terms
matching the pattern, keep the top ``max_expansions`` (OpenSearch
default 50) and score the rewritten boolean OR with BM25. The reference
plugin composes these core query types inside hybrid ``bool`` queries
(HybridQueryBuilder accepts arbitrary sub-queries — see
`src/main/java/org/opensearch/neuralsearch/query/HybridQueryBuilder.java`
doWriteTo/fromXContent: sub-queries are opaque QueryBuilders), so the
engine needs them for a user to run today's queries unchanged.

Determinism: Lucene's TopTermsRewrite ranks expansions by docFreq with
an implementation-defined tiebreak; here the cut is total-ordered by
(df DESC, term ASC) and the DuckDB oracle applies the identical cut, so
results are reproducible across engines.

Scale posture
-------------
* The expansion runs against the term DICTIONARY, never the corpus:
  on the indexed path it is a postings aggregate that reads ONLY the
  ``term``/``n``/(``term_bucket``) columns — parquet column pruning
  keeps the heavy payload bytes (docs/tf/position streams) unread, so
  the scan cost is the vocabulary row count, not the index size. This
  is the columnar analog of Lucene's FST dictionary seek; a dedicated
  sorted dictionary table would prune further but adds nothing at the
  scales where vocabulary ≪ postings (Heaps' law).
* The collected expansion is ≤ ``max_expansions`` strings — query
  metadata, exactly like Lucene's rewritten BooleanQuery — not a
  driver-side data loop.
* Scoring reuses the existing OR machinery unchanged: the exhaustive
  one-traversal scorer or the block-max kernel path
  (`wand.bm25_topk_indexed`), both rank-identical by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .exhaustive import bm25_scores, tokenized, topk

MAX_EXPANSIONS = 50  # OpenSearch default for multi-term rewrites


def like_escape(s: str) -> str:
    """Escape LIKE metacharacters with ``!`` (the matcher SQL appends
    ``ESCAPE '!'``). ``!`` rather than backslash because the SAME
    matcher string is executed by Spark SQL (backslash-escaped string
    literals) and DuckDB (standard SQL: backslash is literal) — ``!``
    parses identically in both. ``_`` matters in practice: the code
    tokenizer emits identifier terms like ``doc_id``."""
    return s.replace("!", "!!").replace("%", "!%").replace("_", "!_")


def wildcard_to_like(pattern: str) -> str:
    """Lucene wildcard syntax → SQL LIKE: ``*`` → ``%``, ``?`` → ``_``;
    everything else matches literally."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        else:
            out.append(like_escape(ch))
    return "".join(out)


def regexp_matcher(pattern: str) -> str:
    """Lucene ``regexp`` query → shared Spark-SQL/DuckDB matcher.

    Lucene ``RegexpQuery`` matches the ENTIRE term (no anchors in its
    syntax; reference composes core query types inside hybrid bodies —
    see HybridQueryBuilder fromXContent, sub-queries are opaque), so the
    pattern is wrapped in ``^(?:...)$``. Neither engine shares a regex
    *predicate* spelling (Spark has ``regexp_like``, DuckDB has
    ``regexp_matches``), but BOTH have ``regexp_replace`` with identical
    first-match semantics under a full-string anchor — the predicate
    ``regexp_replace(term, anchored, '') = ''`` is therefore the one
    string both engines evaluate identically, preserving the module's
    provable-same-expansion invariant.

    Accepted subset = the constructs Java regex (Spark) and RE2 (DuckDB
    / the Arrow kernel) agree on: literals, ``.``, ``?``, ``*``, ``+``,
    ``{m,n}``, alternation ``|``, groups ``(...)``, character classes
    ``[...]`` / ``[^...]`` with ranges. Rejected LOUDLY (never silently
    re-interpreted): ``\\`` (Spark SQL string literals consume
    backslash, DuckDB does not — measured divergence), Lucene's
    optional operators ``~ & < > #`` (complement/intersection/interval
    — not implemented; in Java/RE2 they'd silently match literally),
    and anchors ``^``/``$`` outside a class (no-ops under Lucene's
    whole-term semantics but load-bearing in Java/RE2)."""
    if not pattern:
        raise ValueError("regexp pattern must be non-empty")
    for i, ch in enumerate(pattern):
        if ch == "\\":
            raise ValueError(
                "regexp: backslash escapes are unsupported (engine string-"
                "literal rules diverge); use a character class like [+]"
            )
        if ch in "~&<>#":
            raise ValueError(
                f"regexp: Lucene optional operator [{ch}] is unsupported"
            )
        if ch == "^" and not (i > 0 and pattern[i - 1] == "["):
            raise ValueError(
                "regexp: ^ is only supported as class negation [^...]"
            )
        if ch == "$":
            raise ValueError(
                "regexp: $ is unsupported (Lucene regexp matches the "
                "whole term; no anchors)"
            )
        if not (0x20 <= ord(ch) < 0x7F):
            raise ValueError(
                f"regexp: non-printable/non-ASCII pattern char {ch!r} "
                "is unsupported"
            )
    # brace quantifiers are another measured divergence class: Java
    # regex REJECTS a malformed '{' (PatternSyntaxException) while RE2
    # silently matches it literally — so outside character classes
    # (where braces are literal in both engines) every '{' must open a
    # valid {m} / {m,} / {m,n} quantifier attached to a quantifiable
    # atom, and every '}' must close one
    import re as _re

    open_spans = [m.span() for m in _re.finditer(r"\{\d+(,\d*)?\}", pattern)]
    closers = {e - 1 for _, e in open_spans}
    in_class = False
    first_content = -1
    for i, ch in enumerate(pattern):
        if in_class:
            if ch == "]":
                if i == first_content:
                    raise ValueError(
                        "regexp: ']' as the first class character is "
                        "unsupported (Java and RE2 disagree on it)"
                    )
                in_class = False
            continue
        if ch == "[":
            in_class = True
            first_content = i + (2 if pattern[i + 1:i + 2] == "^" else 1)
            continue
        if ch == "{":
            if not any(s == i for s, _ in open_spans):
                raise ValueError(
                    "regexp: '{' must start a {m}/{m,}/{m,n} quantifier "
                    "(Java regex rejects it; RE2 would silently match "
                    "literally); a literal brace goes in a class: [{]"
                )
            if i == 0 or pattern[i - 1] in "(|{*+?":
                raise ValueError(
                    "regexp: a {m,n} quantifier needs a quantifiable "
                    "atom before it"
                )
        elif ch == "}" and i not in closers:
            raise ValueError(
                "regexp: stray '}' is unsupported (use a character "
                "class like [}])"
            )
    if in_class:
        raise ValueError("regexp: unterminated character class")
    quoted = pattern.replace("'", "''")
    return f"regexp_replace(term, '^(?:{quoted})$', '') = ''"


def _matcher_sql(
    like: str | None = None,
    fuzzy: tuple[str, int, int] | None = None,
) -> str:
    """SQL predicate over a ``term`` column — VALID IN BOTH Spark SQL
    and DuckDB (the oracle embeds the same string, so the two engines
    provably apply the same expansion rule).

    ``fuzzy`` is (query_term, max_edits, prefix_length): Lucene
    FuzzyQuery semantics — first ``prefix_length`` chars must match
    exactly, Levenshtein distance ≤ ``max_edits`` (the exact term, at
    distance 0, is included). The length window is a cheap prefilter
    that both engines can evaluate without the O(len²) edit distance.
    """
    if (like is None) == (fuzzy is None):
        raise ValueError("exactly one of like= / fuzzy= is required")

    def sq(s: str) -> str:
        # '' is the standard-SQL quote escape — identical in Spark SQL
        # and DuckDB, so a query term containing ' neither breaks nor
        # injects into either engine's matcher evaluation
        return s.replace("'", "''")

    if like is not None:
        return f"term LIKE '{sq(like)}' ESCAPE '!'"
    q, max_edits, prefix_length = fuzzy
    if max_edits < 0 or max_edits > 2:
        raise ValueError(f"max_edits must be in [0, 2] (Lucene bound), got {max_edits}")
    preds = [
        f"length(term) BETWEEN {len(q) - max_edits} AND {len(q) + max_edits}",
        f"levenshtein(term, '{sq(q)}') <= {max_edits}",
    ]
    if prefix_length > 0:
        preds.insert(1, f"term LIKE '{sq(like_escape(q[:prefix_length]))}%' ESCAPE '!'")
    return " AND ".join(preds)


def _top_expansions(dictionary: DataFrame, matcher: str, max_expansions: int) -> list[str]:
    """(term, df) frame → top ``max_expansions`` matching terms by
    (df DESC, term ASC); returns the collected term list (≤ 50 strings
    of query metadata — the rewritten BooleanQuery's term set)."""
    rows = (
        dictionary.where(F.expr(matcher))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(max_expansions)
        .select("term")
        .collect()
    )
    return [r["term"] for r in rows]


def expand_terms_corpus(
    docs: DataFrame,
    like: str | None = None,
    fuzzy: tuple[str, int, int] | None = None,
    matcher: str | None = None,
    max_expansions: int = MAX_EXPANSIONS,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "simple",
) -> list[str]:
    """Dictionary expansion for the exhaustive (index-free) path: the
    dictionary is derived from the corpus (term → distinct-doc df).
    ``matcher`` is a prebuilt shared-SQL predicate (regexp_matcher);
    otherwise it is built from ``like``/``fuzzy``. ``tokenizer`` must
    match the analyzer the caller scores with — mixing token streams
    would expand terms that never occur in the scored stream."""
    tok = tokenized(docs, id_col, text_col, tokenizer)
    dictionary = (
        tok.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    if matcher is None:
        matcher = _matcher_sql(like, fuzzy)
    return _top_expansions(dictionary, matcher, max_expansions)


def expand_terms_indexed(
    reader,
    like: str | None = None,
    fuzzy: tuple[str, int, int] | None = None,
    matcher: str | None = None,
    max_expansions: int = MAX_EXPANSIONS,
) -> list[str]:
    """Dictionary expansion against the index: Σ ``n`` over a term's
    posting rows is its df (each posting is one doc — builder
    invariant), so `SELECT term, sum(n) GROUP BY term` over the
    postings IS the dictionary. Only the ``term``/``n`` columns are
    read (columnar pruning; see PLANS.md §9)."""
    dictionary = (
        reader.postings()
        .select("term", "n")
        .groupBy("term")
        .agg(F.sum("n").alias("df"))
    )
    if matcher is None:
        matcher = _matcher_sql(like, fuzzy)
    return _top_expansions(dictionary, matcher, max_expansions)


def _scored_or(docs, terms, k, id_col, text_col, tokenizer):
    if not terms:
        spark = docs.sparkSession
        return spark.createDataFrame([], "doc_id long, score double, rank int")
    # rank on the ROUNDED score: multi-term expansions sum many small
    # contributions, so cross-engine float ULP ties at the 4-decimal
    # boundary are likely — both this path and the DuckDB oracle order
    # by (round(score,4) DESC, doc_id ASC), making ranks reproducible.
    return topk(
        bm25_scores(docs, terms, id_col, text_col, round_to=4, tokenizer=tokenizer),
        k=k, round_to=None,
    )


def prefix_topk(
    docs: DataFrame,
    prefix: str,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "simple",
) -> DataFrame:
    """``prefix`` query, scoring-boolean rewrite, exhaustive path.
    ``tokenizer`` (here and in the wildcard/fuzzy/regexp/phrase-prefix
    twins) analyzes the corpus for both the dictionary expansion and
    the scoring — the context's analyzer, as on the indexed path."""
    terms = expand_terms_corpus(
        docs, like=like_escape(prefix) + "%", max_expansions=max_expansions,
        id_col=id_col, text_col=text_col, tokenizer=tokenizer,
    )
    return _scored_or(docs, terms, k, id_col, text_col, tokenizer)


def wildcard_topk(
    docs: DataFrame,
    pattern: str,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "simple",
) -> DataFrame:
    """``wildcard`` query (``*``/``?``), scoring-boolean rewrite."""
    terms = expand_terms_corpus(
        docs, like=wildcard_to_like(pattern), max_expansions=max_expansions,
        id_col=id_col, text_col=text_col, tokenizer=tokenizer,
    )
    return _scored_or(docs, terms, k, id_col, text_col, tokenizer)


def fuzzy_topk(
    docs: DataFrame,
    term: str,
    max_edits: int = 1,
    prefix_length: int = 0,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "simple",
) -> DataFrame:
    """``fuzzy`` query (Levenshtein ≤ max_edits), scoring-boolean
    rewrite, exhaustive path."""
    terms = expand_terms_corpus(
        docs, fuzzy=(term, max_edits, prefix_length),
        max_expansions=max_expansions, id_col=id_col, text_col=text_col,
        tokenizer=tokenizer,
    )
    return _scored_or(docs, terms, k, id_col, text_col, tokenizer)


def regexp_topk(
    docs: DataFrame,
    pattern: str,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "simple",
) -> DataFrame:
    """``regexp`` query (Lucene RegexpQuery: whole-term match),
    scoring-boolean rewrite, exhaustive path. The accepted pattern
    subset and the shared-SQL matcher are documented on
    ``regexp_matcher``."""
    terms = expand_terms_corpus(
        docs, matcher=regexp_matcher(pattern), max_expansions=max_expansions,
        id_col=id_col, text_col=text_col, tokenizer=tokenizer,
    )
    return _scored_or(docs, terms, k, id_col, text_col, tokenizer)


def rounded_topk_from_kernel(spark, fetch, k: int, n_cap: int = 65536,
                             key: str = "doc_id") -> DataFrame:
    """Rank-with-ties-safe rounded top-k over a kernel that cuts on the
    UNROUNDED score.

    ``fetch(n)`` returns the kernel's top-``n`` (``key``, score) on the
    raw float score — ``key`` is the index's key column, output as
    ``doc_id``; the final ranking is on ``round(score, 4)`` (ties
    at the 4-decimal boundary are likely when expansions sum many small
    contributions). The kernel cut can only disturb the rounded top-k
    if the boundary (n-th) candidate's ROUNDED score ties the k-th
    final rounded score — rounding is monotone, so every excluded doc
    rounds ≤ the boundary. Escalate ``n`` 4× until the boundary is
    strictly below the k-th rounded score (or the result set is
    complete); beyond ``n_cap`` accept the cut as a documented bound.

    The collect is the kernel's bounded top-n — query-result metadata
    (n starts at max(4k, 40)), not a corpus read; escalation only fires
    on tie plateaus."""
    n = max(4 * k, 40)
    while True:
        rows = fetch(n).select(F.col(key).alias("doc_id"), "score").collect()
        if len(rows) < n:
            break  # complete result set — no cut occurred
        rounded = sorted((round(r["score"], 4) for r in rows), reverse=True)
        if rounded[-1] < rounded[k - 1]:
            break  # boundary strictly below the k-th rounded score
        if n >= n_cap:
            break  # documented approximation bound on tie plateaus
        n *= 4
    ranked = sorted(
        ((round(r["score"], 4), r["doc_id"]) for r in rows),
        key=lambda t: (-t[0], t[1]),
    )[:k]
    return spark.createDataFrame(
        [(int(d), float(s), i + 1) for i, (s, d) in enumerate(ranked)],
        "doc_id long, score double, rank int",
    )


def multiterm_topk_indexed(
    reader,
    like: str | None = None,
    fuzzy: tuple[str, int, int] | None = None,
    matcher: str | None = None,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Indexed path: dictionary expansion over postings metadata, then
    the block-max OR kernel (`wand.bm25_topk_indexed`) — prefix,
    wildcard, fuzzy and regexp all ride this after their pattern is
    rewritten to a matcher."""
    from .wand import bm25_topk_indexed

    terms = expand_terms_indexed(reader, like, fuzzy, matcher, max_expansions)
    if not terms:
        spark = reader.spark
        return spark.createDataFrame([], "doc_id long, score double, rank int")
    return rounded_topk_from_kernel(
        reader.spark, lambda n: bm25_topk_indexed(reader, terms, k=n, mode="or"), k,
        key=reader.meta["key_cols"][0],
    )


def phrase_prefix_topk(
    docs: DataFrame,
    fixed_terms: list[str],
    prefix: str,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer: str = "simple",
) -> DataFrame:
    """``match_phrase_prefix``: contiguous phrase whose LAST slot is a
    prefix. The last slot expands like a prefix query (top
    ``max_expansions`` dictionary terms by df — OpenSearch's
    max_expansions knob); a doc matches when the fixed terms appear
    contiguously followed immediately by ANY expanded term.

    Scoring convention (documented, mirrored by the oracle): BM25 over
    the union of fixed + expanded terms — the positional constraint
    gates matching, term statistics drive scoring, exactly the
    phrase-vs-scoring split ``bm25_phrase`` already standardizes on.
    Ranks cut on the rounded score (multi-term sums tie at the
    4-decimal boundary across engines)."""
    if not fixed_terms:
        raise ValueError(
            "match_phrase_prefix with no fixed terms is a plain prefix "
            "query — use prefix_topk(docs, prefix) instead"
        )
    exp = expand_terms_corpus(
        docs, like=like_escape(prefix) + "%", max_expansions=max_expansions,
        id_col=id_col, text_col=text_col, tokenizer=tokenizer,
    )
    if not exp:
        spark = docs.sparkSession
        return spark.createDataFrame([], "doc_id long, score double, rank int")
    all_terms = sorted(set(fixed_terms) | set(exp))
    tok = tokenized(docs, id_col, text_col, tokenizer)
    scored = bm25_scores(docs, all_terms, id_col, text_col, round_to=4, tok=tok)
    pos = tok.select("doc_id", F.posexplode("toks").alias("pos", "term"))
    witness = None
    for i, t in enumerate(fixed_terms):
        p_i = pos.where(F.col("term") == t).select("doc_id", F.col("pos").alias(f"p{i}"))
        if witness is None:
            witness = p_i
        else:
            witness = witness.join(p_i, "doc_id").where(
                F.col(f"p{i}") == F.col(f"p{i - 1}") + 1
            )
    last = len(fixed_terms)
    p_last = pos.where(F.col("term").isin(exp)).select(
        "doc_id", F.col("pos").alias(f"p{last}")
    )
    witness = witness.join(p_last, "doc_id").where(
        F.col(f"p{last}") == F.col(f"p{last - 1}") + 1
    )
    gate = witness.select("doc_id").distinct()
    return topk(scored.join(gate, "doc_id"), k=k, round_to=None)


def phrase_prefix_topk_indexed(
    reader,
    fixed_terms: list[str],
    prefix: str,
    k: int = 10,
    max_expansions: int = MAX_EXPANSIONS,
) -> DataFrame:
    """Indexed ``match_phrase_prefix``: dictionary expansion over
    postings metadata, one positional phrase-kernel probe per expanded
    term for the gate (each probe prunes its scan to that phrase's
    terms/buckets — per-query I/O ∝ candidate postings, not corpus),
    then ONE scoring pass: the block-max OR kernel over fixed+expanded
    terms restricted to the gated docs via the FILTER-occur ``allowed``
    channel (stats stay global/unfiltered — Lucene semantics, same as
    filtered hybrid). A production refinement would accept a term-SET
    per phrase slot inside one kernel; at OpenSearch's max_expansions
    default (50) the probe fan-out is bounded and embarrassingly
    parallel."""
    from functools import reduce

    from .phrase import bm25_phrase_indexed
    from .wand import bm25_topk_indexed

    if not fixed_terms:
        raise ValueError(
            "match_phrase_prefix with no fixed terms is a plain prefix "
            "query — use multiterm_topk_indexed(reader, like=...) instead"
        )
    exp = expand_terms_indexed(
        reader, like=like_escape(prefix) + "%", max_expansions=max_expansions
    )
    if not exp:
        spark = reader.spark
        return spark.createDataFrame([], "doc_id long, score double, rank int")
    gates = [
        bm25_phrase_indexed(reader, list(fixed_terms) + [e]).select("nss_doc_id")
        for e in exp
    ]
    gate = reduce(lambda a, b: a.unionByName(b), gates).distinct()
    all_terms = sorted(set(fixed_terms) | set(exp))
    return rounded_topk_from_kernel(
        reader.spark,
        lambda n: bm25_topk_indexed(reader, all_terms, k=n, mode="or", allowed=gate),
        k,
        key=reader.meta["key_cols"][0],
    )
