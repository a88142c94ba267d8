"""The debug-origin gate switch: off by default at package import,
opt-out honored, and provably result-neutral (the wrapper only decorates
error metadata, never values)."""

import os

import pyspark
import pyspark.errors.utils as eu
import pytest

from pdf_ocr_api_spark._pydriver import disable_dataframe_debug_origin


@pytest.fixture
def restore_gate():
    prev = eu._enable_debugging_cache
    yield
    eu._enable_debugging_cache = prev


@pytest.mark.skipif(
    os.environ.get("PDF_OCR_SPARK_DF_DEBUGGING") == "1", reason="opted out of the gate switch"
)
def test_package_import_disabled_the_gate():
    # conftest imported the package long before this test ran
    assert eu._enable_debugging_cache is False
    assert eu.is_debugging_enabled() is False


def test_idempotent_and_reports_true(restore_gate, monkeypatch):
    monkeypatch.delenv("PDF_OCR_SPARK_DF_DEBUGGING", raising=False)
    assert disable_dataframe_debug_origin() is True
    assert disable_dataframe_debug_origin() is True
    assert eu._enable_debugging_cache is False


def test_env_opt_out_leaves_gate_untouched(restore_gate, monkeypatch):
    monkeypatch.setenv("PDF_OCR_SPARK_DF_DEBUGGING", "1")
    eu._enable_debugging_cache = True
    assert disable_dataframe_debug_origin() is False
    assert eu._enable_debugging_cache is True


def test_cached_true_is_honoured(restore_gate, monkeypatch):
    monkeypatch.delenv("PDF_OCR_SPARK_DF_DEBUGGING", raising=False)
    eu._enable_debugging_cache = True
    assert disable_dataframe_debug_origin() is False
    assert eu._enable_debugging_cache is True


def test_unverified_pyspark_version_is_left_alone(restore_gate, monkeypatch):
    monkeypatch.delenv("PDF_OCR_SPARK_DF_DEBUGGING", raising=False)
    eu._enable_debugging_cache = None
    monkeypatch.setattr(pyspark, "__version__", "4.2.0")
    assert disable_dataframe_debug_origin() is False
    assert eu._enable_debugging_cache is None


def test_results_identical_with_gate_on_and_off(restore_gate, spark):
    from pyspark.sql import functions as F

    def build():
        df = spark.range(100).select(
            F.col("id"),
            (F.col("id") % 7).alias("k"),
            F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
        )
        return df.groupBy("k").agg(
            F.count("*").alias("n"), F.max("s").alias("mx")
        )

    eu._enable_debugging_cache = True
    on = build()
    rows_on = sorted(map(tuple, on.collect()))
    eu._enable_debugging_cache = False
    off = build()
    rows_off = sorted(map(tuple, off.collect()))
    assert on.schema == off.schema
    assert rows_on == rows_off
