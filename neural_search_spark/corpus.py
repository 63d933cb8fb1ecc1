"""Deterministic synthetic source-code corpus (BASELINE.json input_hint).

Schema: (repo, path, commit, lang, content) — all strings, non-null.
Generation is **counter-based** (splitmix64 of (seed, doc_id, position)),
not RNG-object based, so every row is reproducible from its doc id alone:
the corpus is identical no matter how Spark partitions the id range, which
is what makes resume/scaling tests byte-comparable (FIXTURES.md §1, §5).

Token stream is Zipf-skewed with a heavy keyword head (`def`, `return`,
`import`, ...) to exercise the stop-word-like term skew the north rule
calls out (salting / skew handling, SURVEY.md §7.6.2).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

KEYWORDS = np.array(
    "def return import class if else for while try except lambda public static void "
    "int string new self this fn let mut match impl struct func package var const "
    "type interface map range defer print len true false none null".split(),
    dtype=object,
)
_EXTS = np.array(["py", "java", "scala", "go", "rs", "md"], dtype=object)
_LANGS = {"py": "python", "java": "java", "scala": "scala", "go": "go", "rs": "rust", "md": "markdown"}
_MODULES = np.array(["core", "io", "net", "util", "index", "query", "store", "codec"], dtype=object)

_VOCAB_SIZE = 30_000
_KEYWORD_PROB = 0.35
_ZIPF_S = 1.07


def _splitmix64(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _hash2(seed: int, a: np.ndarray, salt: int) -> np.ndarray:
    # the seed mix wraps modulo 2**64, so any Python int seed works
    h = _splitmix64(a.astype(np.uint64) ^ np.uint64((seed * 0x100000001B3 + salt) % 2**64))
    return _splitmix64(h ^ np.uint64(salt << 17))


def _uniform(h: np.ndarray) -> np.ndarray:
    return (h >> np.uint64(11)).astype(np.float64) * (2.0**-53)


_vocab_cache: dict[int, np.ndarray] = {}
_zipf_cdf_cache: dict[tuple[int, float], np.ndarray] = {}


def _vocab() -> np.ndarray:
    if _VOCAB_SIZE not in _vocab_cache:
        prefixes = ["get", "set", "parse", "build", "read", "write", "merge", "flush",
                    "open", "close", "init", "push", "pop", "next", "scan", "emit"]
        roots = ["node", "term", "block", "batch", "field", "token", "score", "shard",
                 "frame", "cursor", "buffer", "handle", "offset", "bitmap", "vector", "posting"]
        base = np.array(
            [f"{prefixes[i % 16]}_{roots[(i // 16) % 16]}_{i}" for i in range(_VOCAB_SIZE)],
            dtype=object,
        )
        _vocab_cache[_VOCAB_SIZE] = base
    return _vocab_cache[_VOCAB_SIZE]


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    key = (n, s)
    if key not in _zipf_cdf_cache:
        w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
        _zipf_cdf_cache[key] = np.cumsum(w) / w.sum()
    return _zipf_cdf_cache[key]


def generate_batch(
    doc_ids: np.ndarray,
    seed: int = 42,
    min_tokens: int = 50,
    max_tokens: int = 800,
) -> pd.DataFrame:
    """Vectorized corpus rows for the given doc ids (any order/subset)."""
    ids = np.asarray(doc_ids, dtype=np.int64)
    n = len(ids)
    if n == 0:
        return pd.DataFrame({c: pd.Series(dtype=object) for c in ["repo", "path", "commit", "lang", "content"]})
    u_len = _uniform(_hash2(seed, ids, 1))
    log_lo, log_hi = np.log(min_tokens), np.log(max_tokens)
    dl = np.exp(log_lo + u_len * (log_hi - log_lo)).astype(np.int64).clip(min_tokens, max_tokens)

    # flat token stream, one hash per (doc, position)
    doc_idx = np.repeat(np.arange(n), dl)
    starts = np.cumsum(dl) - dl
    pos = np.arange(dl.sum(), dtype=np.int64) - starts[doc_idx]
    tok_key = ids[doc_idx].astype(np.uint64) * np.uint64(1_000_003) + pos.astype(np.uint64)
    h1 = _hash2(seed, tok_key, 2)
    h2 = _hash2(seed, tok_key, 3)
    is_kw = _uniform(h1) < _KEYWORD_PROB
    kw_idx = np.searchsorted(_zipf_cdf(len(KEYWORDS), 1.0), _uniform(h2))
    id_idx = np.searchsorted(_zipf_cdf(_VOCAB_SIZE, _ZIPF_S), _uniform(h2))
    tokens = np.where(is_kw, KEYWORDS[kw_idx.clip(0, len(KEYWORDS) - 1)],
                      _vocab()[id_idx.clip(0, _VOCAB_SIZE - 1)])

    # separators give the text code-ish line structure (and "\n\n" blocks
    # for the delimiter chunker); tokenizer treats them all as breaks.
    sep = np.full(len(tokens), " ", dtype=object)
    sep[pos % 12 == 11] = "\n    "
    sep[pos % 72 == 71] = "\n\n"
    is_last = np.r_[doc_idx[1:] != doc_idx[:-1], True]
    sep[is_last] = ""
    pieces = pd.Series(tokens + sep)
    content = pieces.groupby(doc_idx).agg("".join).to_numpy(dtype=object)

    hrepo = _hash2(seed, ids, 4)
    hext = _hash2(seed, ids, 5)
    ext = _EXTS[(hext % np.uint64(len(_EXTS))).astype(np.int64)]
    module = _MODULES[((hext >> np.uint64(8)) % np.uint64(len(_MODULES))).astype(np.int64)]
    commit_h = _hash2(seed, ids, 6)
    return pd.DataFrame(
        {
            "repo": [f"org{int(h) % 7}/repo{int(h) % 131}" for h in hrepo],
            "path": [f"src/{m}/file_{int(i)}.{e}" for m, i, e in zip(module, ids, ext)],
            "commit": [f"{int(h):016x}{int(h2v):016x}"[:40].ljust(40, "0")
                       for h, h2v in zip(commit_h, _hash2(seed, ids, 7))],
            "lang": [_LANGS[e] for e in ext],
            "content": content,
        }
    )


def corpus_df(
    spark,
    n_docs: int,
    seed: int = 42,
    min_tokens: int = 50,
    max_tokens: int = 800,
    partitions: int | None = None,
):
    """Distributed generation: spark.range -> mapInPandas (Arrow batches).

    Rows depend only on (seed, id) — never on partitioning — so the same
    call at local[8] and local[32] yields the identical table.
    """
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField(c, T.StringType(), False)
                           for c in ["repo", "path", "commit", "lang", "content"]])
    rng = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield generate_batch(b["id"].to_numpy(), seed=seed,
                                 min_tokens=min_tokens, max_tokens=max_tokens)

    return rng.mapInPandas(gen, schema=schema)
