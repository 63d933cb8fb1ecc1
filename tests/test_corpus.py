"""Synthetic corpus generator: seeds of any size generate, and the rows
of seeds that always worked stay byte-identical."""

import hashlib
import warnings

import numpy as np
import pytest

from neural_search_spark.corpus import generate_batch


def _digest(pdf) -> str:
    rows = ("\x1f".join(r) for r in pdf.itertuples(index=False))
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("seed", [2**24, 2**40, -3])
def test_large_and_negative_seeds_generate(seed):
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # no out-of-bound integer conversion
        pdf = generate_batch(np.arange(20), seed=seed)
    assert len(pdf) == 20 and pdf["content"].str.len().min() > 0


def test_seed_mix_unchanged():
    # digests of the generator before its seed mix wrapped modulo 2**64
    assert _digest(generate_batch(np.arange(50), seed=42)) == (
        "0fb1a9eadf8e5354f4e07535ab7717475afc8cdedd1086f71411c8164e69d272")
    assert _digest(generate_batch(np.arange(50), seed=-3)) == (
        "efa48ba53bf3c60f359a3f67c17d228deec2ed88ccd41f5d583bce370a9491fe")
