"""Span queries over the POSITIONAL index — the production path.

The exhaustive span executor (query/spans.py) re-tokenizes the corpus
per query; at scale that is a full-corpus scan. This module serves the
same span semantics from the v4 positional index the way
query/phrase.py serves match_phrase:

* per segment, the span tree's terms' postings decode once; a
  conjunctive candidate set forms from the REQUIRED clause structure
  (a span_near doc needs >= 1 term of EVERY clause; span_not needs the
  include tree) — the cheap prefilter;
* POSITIONS decode only for blocks holding a candidate doc
  (block_pos_off random access), so verification I/O scales with the
  candidate set;
* every clause becomes one sorted array of (doc << POS_SHIFT | pos)
  int64 keys (terms of a span_or / span_multi clause merge — one token
  per position, so the merge stays strictly ascending), and the span
  iterators become vectorized searchsorted passes:
  - ordered near: chain each clause to the least key after the running
    end (NearSpansOrdered's monotone sub-pointers), per first-clause
    position;
  - unordered near (2 clauses): pair every key with the least
    other-clause key after it, both directions (the min-start queue);
  - span_first: endPosition <= end on the match's last key;
  - span_not: an include key survives iff no exclude key lies in
    [pos - pre, pos + post] (two searchsorted probes).
* scoring is identical to the exhaustive path: freq = sum over spans
  of 1/(1 + matchLength), score = idf_total * freq / (freq + k1*(1 -
  b + b*dl_q/avgdl)), with idf from the index's term dfs and dl_q from
  the stored SmallFloat norms — indexed == exhaustive rank identity is
  pinned in tests/test_spans.py.

Scale shape: the only shuffle key is segment_id (uniform); per-query
I/O is the tree terms' postings rows (term/bucket-pruned scan) plus
candidate-block position bytes. No full-corpus scan.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..index.builder import SEG_SHIFT
from .bm25 import B, K1, idf_by_term, tf_norm
from .phrase import (
    PHRASE_COLS,
    POS_SHIFT,
    candidate_position_keys,
    term_streams,
)
from .wand import IndexReader

POS_MASK = (1 << POS_SHIFT) - 1

_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.IntegerType(), False),
        T.StructField("nss_doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


def _enumerate_iv(plan: dict, clause_keys: list[np.ndarray]):
    """Minimal-interval enumeration (query/intervals.py semantics) over
    the same per-clause key arrays: ordered chains per first-term
    position then keeps the latest start per distinct end key
    (minimality), THEN applies max_gaps; unordered minimal intervals
    are adjacent different-clause pairs in the merged tagged stream.
    mlen = end - start (contribution 1/(1+mlen) = 1/token-length)."""
    n = len(clause_keys)
    max_gaps = plan.get("max_gaps", -1)
    if n == 1:
        keys = clause_keys[0]
        return keys >> POS_SHIFT, np.zeros(len(keys), dtype=np.int64)
    if plan["ordered"]:
        start = clause_keys[0]
        cur = start.copy()
        ok = np.ones(len(cur), dtype=bool)
        for arr in clause_keys[1:]:
            if len(arr) == 0:
                return np.empty(0, np.int64), np.empty(0, np.int64)
            idx = np.searchsorted(arr, cur, side="right")
            ok &= idx < len(arr)
            idx = np.minimum(idx, len(arr) - 1)
            cur = arr[idx]
        ok &= (cur >> POS_SHIFT) == (start >> POS_SHIFT)
        start, cur = start[ok], cur[ok]
        if len(start) == 0:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        order = np.lexsort((start, cur))
        s, c = start[order], cur[order]
        last = np.r_[c[1:] != c[:-1], True]  # max start per distinct end
        s, c = s[last], c[last]
        if max_gaps >= 0:
            keep = c - s - np.int64(n - 1) <= max_gaps
            s, c = s[keep], c[keep]
        return s >> POS_SHIFT, c - s
    # unordered, two clauses: adjacent different-clause pairs
    arr = np.concatenate(clause_keys)
    tags = np.concatenate([np.full(len(a), i, dtype=np.int8)
                           for i, a in enumerate(clause_keys)])
    order = np.argsort(arr, kind="stable")
    arr, tags = arr[order], tags[order]
    if len(arr) < 2:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    prev, cur = arr[:-1], arr[1:]
    hit = ((tags[:-1] != tags[1:])
           & ((prev >> POS_SHIFT) == (cur >> POS_SHIFT)))
    if max_gaps >= 0:
        hit &= cur - prev - 1 <= max_gaps
    return prev[hit] >> POS_SHIFT, (cur - prev)[hit]


def _enumerate(plan: dict, clause_keys: list[np.ndarray],
               exclude_keys: np.ndarray):
    """-> (match doc array, matchLength array) per the span iterators."""
    kind = plan["kind"]
    if kind == "iv":
        return _enumerate_iv(plan, clause_keys)
    max_end = plan.get("max_end")
    if kind == "set":
        keys = clause_keys[0]
        if max_end is not None:
            keys = keys[(keys & POS_MASK) + 1 <= max_end]
        return keys >> POS_SHIFT, np.ones(len(keys), dtype=np.int64)
    if kind == "not":
        keys = clause_keys[0]
        if len(exclude_keys):
            doc = keys >> POS_SHIFT
            pos = keys & POS_MASK
            lo = (doc << POS_SHIFT) + np.maximum(pos - plan["pre"], 0)
            hi = (doc << POS_SHIFT) + np.minimum(pos + plan["post"], POS_MASK)
            i1 = np.searchsorted(exclude_keys, lo, side="left")
            i2 = np.searchsorted(exclude_keys, hi, side="right")
            keys = keys[i1 == i2]
        return keys >> POS_SHIFT, np.ones(len(keys), dtype=np.int64)
    # near
    slop = np.int64(plan["slop"])
    if plan["in_order"]:
        start = clause_keys[0]
        cur = start.copy()
        ok = np.ones(len(cur), dtype=bool)
        for arr in clause_keys[1:]:
            if len(arr) == 0:
                return np.empty(0, np.int64), np.empty(0, np.int64)
            idx = np.searchsorted(arr, cur, side="right")
            ok &= idx < len(arr)
            idx = np.minimum(idx, len(arr) - 1)
            cur = arr[idx]
        hit = (ok
               & ((cur >> POS_SHIFT) == (start >> POS_SHIFT))
               & ((cur - start) - np.int64(len(clause_keys) - 1) <= slop))
        if max_end is not None:
            hit &= (cur & POS_MASK) + 1 <= max_end
        return start[hit] >> POS_SHIFT, (cur - start + 1)[hit]
    # unordered, two clauses, both directions
    docs_parts, mlen_parts = [], []
    for src, dst in ((clause_keys[0], clause_keys[1]),
                     (clause_keys[1], clause_keys[0])):
        if len(src) == 0 or len(dst) == 0:
            continue
        idx = np.searchsorted(dst, src, side="right")
        ok = idx < len(dst)
        idx = np.minimum(idx, len(dst) - 1)
        o = dst[idx]
        hit = (ok
               & ((o >> POS_SHIFT) == (src >> POS_SHIFT))
               & (o - src - 1 <= slop))
        if max_end is not None:
            hit &= (o & POS_MASK) + 1 <= max_end
        docs_parts.append(src[hit] >> POS_SHIFT)
        mlen_parts.append((o - src + 1)[hit])
    if not docs_parts:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return np.concatenate(docs_parts), np.concatenate(mlen_parts)


def _span_kernel(plan: dict, idf_total: float, avgdl: float,
                 range_block: int, k1: float = K1, b: float = B):
    required = plan["required"]          # list of term lists
    exclude = plan.get("exclude", [])    # term list

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"segment_id": pd.Series(dtype=np.int32),
             "nss_doc_id": pd.Series(dtype=np.int64),
             "score": pd.Series(dtype=np.float64)})
        present = set(pdf["term"])
        for terms in required:
            if not (present & set(terms)):
                return empty
        pdf = pdf.sort_values("term", kind="mergesort").reset_index(drop=True)
        seg = int(pdf["segment_id"].iloc[0])
        decoded = {}
        rows = {}
        for t, (r, ids, tfv, dlq_int, ns) in term_streams(pdf, range_block).items():
            decoded[t] = (ids, tfv, dlq_int.astype(np.float64), ns)
            rows[t] = r
        # candidate docs: >= 1 occurrence of every required clause
        cand = None
        for terms in required:
            docs_c = np.unique(np.concatenate(
                [decoded[t][0] for t in terms if t in decoded]))
            cand = docs_c if cand is None else np.intersect1d(
                cand, docs_c, assume_unique=True)
            if len(cand) == 0:
                return empty
        # clause key arrays (candidate blocks only), sorted merge
        clause_keys = []
        for terms in required:
            parts = [
                candidate_position_keys(rows[t], decoded[t][0],
                                        decoded[t][1], decoded[t][3], cand)
                for t in sorted(set(terms)) if t in decoded
            ]
            keys = (np.sort(np.concatenate(parts))
                    if parts else np.empty(0, dtype=np.int64))
            clause_keys.append(keys)
        exc_parts = [
            candidate_position_keys(rows[t], decoded[t][0], decoded[t][1],
                                    decoded[t][3], cand)
            for t in sorted(set(exclude)) if t in decoded
        ]
        exclude_keys = (np.sort(np.concatenate(exc_parts))
                        if exc_parts else np.empty(0, dtype=np.int64))

        docs_m, mlen = _enumerate(plan, clause_keys, exclude_keys)
        if len(docs_m) == 0:
            return empty
        uniq_docs, inv = np.unique(docs_m, return_inverse=True)
        freq = np.bincount(inv, weights=1.0 / (1.0 + mlen.astype(np.float64)))
        # dl_q lookup from the decoded norms of the required terms
        ids_all = np.concatenate([decoded[t][0] for t in decoded])
        dlq_all = np.concatenate([decoded[t][2] for t in decoded])
        u_ids, first = np.unique(ids_all, return_index=True)
        dlq = dlq_all[first][np.searchsorted(u_ids, uniq_docs)]
        score = idf_total * tf_norm(freq, dlq, avgdl, k1, b)
        gid = (np.int64(seg) << SEG_SHIFT) + uniq_docs
        return pd.DataFrame(
            {"segment_id": np.full(len(uniq_docs), seg, dtype=np.int32),
             "nss_doc_id": gid,
             "score": score.astype(np.float64)})

    return kernel


def span_topk_indexed(
    reader: IndexReader,
    plan: dict,
    k: int | None = None,
    k1: float = K1,
    b: float = B,
    round_to: int | None = None,
) -> DataFrame:
    """Run a normalized span plan (the shape query/dsl.py's _span_plan
    produces) against the positional index. plan: {"kind": "near"|
    "set"|"not", "required": [[terms]...], "exclude": [terms], "slop",
    "in_order", "max_end", "pre", "post"}. Returns (nss_doc_id,
    <key_cols>, score); ``k`` adds the deterministic (score desc, key
    asc) cut, over the ``round_to``-rounded score when given
    (round-then-rank, the dictionary-expansion convention)."""
    if not bool(reader.meta.get("store_positions", False)):
        raise ValueError(
            "index was built with store_positions=False — span queries "
            "need positional postings (rebuild with store_positions=True)")
    required = plan["required"]
    exclude = list(plan.get("exclude", []))
    if not required or any(not terms for terms in required):
        raise ValueError("every required span clause needs >= 1 term")
    idf_terms = sorted({t for terms in required for t in terms})
    all_terms = sorted(set(idf_terms) | set(exclude))
    N, avgdl = reader.global_stats()
    dfs = reader.term_dfs(all_terms)
    key_cols = reader.meta["key_cols"]
    dm = reader.docmap().select("nss_doc_id", *key_cols)

    if N == 0 or any(all(t not in dfs for t in terms) for terms in required):
        # a clause with no index-present term: an answer the optimizer
        # proves empty (no Spark job), with the usual columns
        per_seg = reader.spark.createDataFrame([], _RESULT_SCHEMA).limit(0)
    else:
        # idf over the tree's index-present terms (absent terms carry no
        # termStates in Lucene either); float64, matching the exhaustive sum
        idf_total = float(sum(idf_by_term(N, dfs, [t for t in idf_terms if t in dfs]).values()))
        kernel = _span_kernel(
            {**plan, "required": required, "exclude": exclude},
            idf_total, avgdl, int(reader.meta["range_block"]), k1=k1, b=b)
        per_seg = (
            reader.scan_terms(all_terms, PHRASE_COLS, positional=True)
            .groupBy("segment_id")
            .applyInPandas(kernel, schema=_RESULT_SCHEMA)
        )
    out = dm.join(F.broadcast(per_seg.drop("segment_id")), "nss_doc_id")
    if round_to is not None:
        out = out.withColumn("score", F.round("score", round_to))
    if k is not None:
        out = out.orderBy(F.col("score").desc(),
                          *[F.col(c).asc() for c in key_cols]).limit(k)
    return out
