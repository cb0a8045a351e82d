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


@pytest.fixture
def capture_arrow_frames(monkeypatch):
    """``capture(module)`` wraps ``module.arrow_frame`` and returns the list
    every driver-built frame the module makes is appended to."""

    def capture(module) -> list:
        frames = []
        real = module.arrow_frame

        def spy(spark, rows, schema):
            frames.append(real(spark, rows, schema))
            return frames[-1]

        monkeypatch.setattr(module, "arrow_frame", spy)
        return frames

    return capture
