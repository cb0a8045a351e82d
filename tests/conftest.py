"""Shared fixtures: one SparkSession for the whole test run, plus the
deterministic fixture pages / golden tables.

Mirrors the reference's test strategy (SURVEY.md §5): a session-scoped
expensive resource (there: the OCR model, tests/test_ocr.py; here: the
SparkSession) and seeded deterministic fixtures.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pandas as pd
import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from manga_ocr_spark.fixtures.golden import generate_golden  # noqa: E402
from manga_ocr_spark.fixtures.pages import generate_pages  # noqa: E402

N_FIXTURE_ROWS = 140  # 7 families x 20


@pytest.fixture(scope="session")
def spark():
    from manga_ocr_spark.jobs.session import get_spark

    s = get_spark(master="local[4]", app_name="manga-ocr-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages_pdf() -> pd.DataFrame:
    return generate_pages(N_FIXTURE_ROWS, seed=42)


@pytest.fixture(scope="session")
def golden_pdf(pages_pdf: pd.DataFrame) -> pd.DataFrame:
    return generate_golden(pages_pdf)


@pytest.fixture(scope="session")
def pages_df(spark, pages_pdf: pd.DataFrame):
    # the engine never sees the `family` debug column
    return spark.createDataFrame(pages_pdf.drop(columns=["family"]))


@pytest.fixture(scope="session")
def golden_df(spark, golden_pdf: pd.DataFrame):
    return spark.createDataFrame(golden_pdf)


def _minhash_band_pairs(texts: dict, num_hashes: int = 16, bands: int = 4) -> set:
    """Pure-Python reference for the MinHash tier, uncapped and expanded to
    members: every (a < b) pair sharing a band key, where band ``b``'s key
    is the md5 of the comma-joined ``b``-th slice of
    ``minhash_signature_py``."""
    import hashlib
    from collections import defaultdict
    from itertools import combinations

    from manga_ocr_spark.operators.dedup import minhash_signature_py

    rows = num_hashes // bands
    buckets = defaultdict(list)
    for i, t in sorted(texts.items()):
        sig = minhash_signature_py(t, num_hashes)
        for b in range(bands):
            key = ",".join(map(str, sig[b * rows : (b + 1) * rows]))
            buckets[b, hashlib.md5(key.encode()).hexdigest()].append(i)
    return {p for ids in buckets.values() for p in combinations(ids, 2)}


def _simhash_band_pairs(texts: dict, bands: int = 4, max_hamming: int = 3) -> set:
    """Pure-Python reference for the SimHash tier, uncapped and expanded to
    members: every (a < b, hamming) pair that shares one of ``bands``
    equal bit-slices of ``simhash_py`` (band 0 the most significant) and
    has ``popcount(xor) <= max_hamming``."""
    from collections import defaultdict
    from itertools import combinations

    from manga_ocr_spark.operators.dedup import simhash_py

    width = 64 // bands
    sigs = {i: simhash_py(t) & (2**64 - 1) for i, t in texts.items()}
    buckets = defaultdict(list)
    for i in sorted(sigs):
        for b in range(bands):
            buckets[b, (sigs[i] >> (bands - 1 - b) * width) & ((1 << width) - 1)].append(i)
    pairs = {p for ids in buckets.values() for p in combinations(ids, 2)}
    hams = {(a, b, bin(sigs[a] ^ sigs[b]).count("1")) for a, b in pairs}
    return {p for p in hams if p[2] <= max_hamming}


@pytest.fixture(scope="session")
def minhash_pairs_py():
    return _minhash_band_pairs


@pytest.fixture(scope="session")
def simhash_pairs_py():
    return _simhash_band_pairs
