"""Hot-conversation skew: salting must break the pinned conversation
across tasks (SURVEY §4 — the distributed answer to the reference's
single-process pin, ref worker/processJob.js:74-87)."""

from pyspark.sql import functions as F

from pdf_ocr_api_spark import fixtures, pipeline


def _partition_shares(df):
    sizes = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    total = sum(r["count"] for r in sizes)
    return max(r["count"] for r in sizes) / total, len(sizes)


def test_salting_breaks_hot_conversation(spark, depara):
    # conv-000000 holds ~20% of all turns (FIXTURES.md skew fixture);
    # hash-partitioning by conv_id pins it into one task
    pdf = fixtures.fixture_frame(60)
    hot_share = (pdf.conv_id == "conv-000000").mean()
    assert hot_share > 0.15

    sdf = spark.createDataFrame(pdf).repartition(16, "conv_id")
    skewed_max, _ = _partition_shares(sdf)
    assert skewed_max >= hot_share  # the pin is real

    salted = pipeline.extract_transcripts(sdf, depara, salt=16, num_partitions=16)
    # measure the map-side partition balance the extractor actually sees
    balanced_max, n_parts = _partition_shares(salted)
    assert balanced_max < hot_share, (balanced_max, hot_share)
    assert balanced_max < skewed_max / 2
