"""S2 binary-document source over the reference's real PDF corpus
(read-only fixtures, ref resources/ — SURVEY §5)."""

import pytest
from pyspark.sql import functions as F

from pdf_ocr_api_spark.ops import multimodal
from pdf_ocr_api_spark.sources import binary

from tests.conftest import REFERENCE_ROOT, requires_reference

pytestmark = requires_reference


@pytest.fixture(scope="module")
def pdfs(spark):
    return binary.read_binary_docs(spark, f"{REFERENCE_ROOT}/resources/*.pdf")


def test_binary_scan_reads_real_pdfs(pdfs):
    rows = pdfs.select("doc_path", "n_bytes").collect()
    assert len(rows) >= 20  # the reference ships a 30+ document corpus
    assert all(r.n_bytes > 0 for r in rows)


def test_magic_byte_sniffer(pdfs, spark):
    kinds = binary.as_media_table(pdfs).groupBy("kind").count().collect()
    by_kind = {r.kind: r["count"] for r in kinds}
    assert set(by_kind) == {"pdf"}  # every resources/*.pdf is a real PDF

    mixed = spark.createDataFrame(
        [(bytearray(b"%PDF-1.7 x"),), (bytearray(b"\x89PNG\r\n"),), (bytearray(b"plain"),)],
        "payload BINARY",
    )
    got = [r.k for r in mixed.select(binary.sniff_kind(F.col("payload")).alias("k")).collect()]
    assert got == ["pdf", "png", "unknown"]


def test_real_pdfs_through_multimodal_plumbing(pdfs):
    """The full S2 → media table → feature-extraction path on real bytes
    (decode itself stubbed; plumbing and determinism real)."""
    media = binary.as_media_table(pdfs)
    f1 = multimodal.media_features(media).orderBy("media_id").toPandas()
    f2 = multimodal.media_features(media.repartition(5)).orderBy("media_id").toPandas()
    assert len(f1) == media.count()
    assert (f1.n_bytes > 0).all()
    assert f1.feature.map(tuple).tolist() == f2.feature.map(tuple).tolist()
