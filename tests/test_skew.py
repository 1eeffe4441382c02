"""Skew handling: a pathological media-heavy document must spread across
shuffle partitions via the salt (never hot-spot one task) and still come
back complete and ordered."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_spark.fixtures import fake_media_content
from ocr_spark.pipeline import SALT_BUCKETS, explode_spans, run_extraction
from ocr_spark.udfs import OCR_OUT_SCHEMA, make_ocr_batch_fn

SPANS_DDL = ("doc_id string, spans array<struct<kind:string,text:string,"
             "media_ref:string,offset:int>>")
MEDIA_DDL = ("media_ref string, content binary, fmt string, width int, "
             "height int, truth_lines array<string>")

N_MEDIA = 600  # one monster document


def _monster(spark):
    spans = [("media", None, f"m_{i:04d}", i) for i in range(N_MEDIA)]
    spans_df = spark.createDataFrame([("monster", spans)], schema=SPANS_DDL)
    media_df = spark.createDataFrame(
        [(f"m_{i:04d}", fake_media_content([f"LINE {i}"]), "img", 1, 1,
          [f"LINE {i}"]) for i in range(N_MEDIA)],
        schema=MEDIA_DDL,
    )
    return spans_df, media_df


def test_salting_spreads_one_doc_across_partitions(spark):
    """Without salting, every span of one doc_id hashes to ONE partition;
    the salted repartition must spread the monster doc over (close to)
    SALT_BUCKETS partitions."""
    spans_df, media_df = _monster(spark)
    media = explode_spans(spans_df).filter(
        F.col("kind") == "media"
    ).join(media_df.select("media_ref", "content"), on="media_ref")
    salt = F.pmod(
        F.xxhash64("media_ref", "offset"), F.lit(SALT_BUCKETS)
    )
    # Salting guarantees up-to-SALT_BUCKETS-way spread per hot doc, SUBJECT
    # to hash placement: Murmur3 of ("monster", 0..15) measurably piles 4
    # of the 16 keys into one of 64 partitions.  The honest invariant is
    # therefore "many partitions, biggest ≪ whole doc", with the practical
    # rule (documented on SALT_BUCKETS) of SALT_BUCKETS ≥ 4× the per-doc
    # parallelism actually needed.
    placed = (
        media.repartition(64, F.col("doc_id"), salt)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    n_parts = len(placed)
    biggest = max(r["count"] for r in placed)
    assert n_parts >= 10, f"only {n_parts} partitions used"
    assert biggest <= 5 * N_MEDIA / 16, (n_parts, biggest)
    assert biggest < N_MEDIA / 2

    # control: unsalted placement hot-spots a single partition
    unsalted = (
        media.repartition(64, F.col("doc_id"))
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    assert len(unsalted) == 1


def test_monster_doc_round_trips_complete_and_ordered(spark):
    spans_df, media_df = _monster(spark)
    row = run_extraction(spark, spans_df, media_df).collect()[0]
    assert len(row.spans_out) == N_MEDIA
    offs = [s.offset for s in row.spans_out]
    assert offs == list(range(N_MEDIA))
    assert row.spans_out[17].text == "LINE 17"
    assert not row.errors
