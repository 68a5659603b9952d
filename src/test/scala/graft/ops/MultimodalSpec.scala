package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val media = {
    val docs = Seq((1L, "some text payload"), (2L, "another blob"), (3L, "third"))
      .toDF("doc_id", "text")
    Multimodal.synthFromDocuments(docs, "doc_id", "text").cache()
  }

  test("blob content dedup groups identical bytes, ignores id/metadata") {
    val docs = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa"), (10L, "aaa"))
      .toDF("doc_id", "text")
    val got = Multimodal.dedupByContent(
        Multimodal.synthFromDocuments(docs, "doc_id", "text"))
      .as[(String, Long, Long)].collect().toSet
    // digest pinned to the JDK's md5 over the raw UTF-8 bytes — the
    // exact value a SQL oracle's md5(text) must reproduce
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got == Set(
      (md5hex("aaa"), 1L, 3L), // survivor = min id, metadata differences ignored
      (md5hex("bbb"), 2L, 1L)))
  }

  test("synth media matches the declared schema (names + types)") {
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => (f.name, f.dataType.sql.replace(" NOT NULL", ""))).toSeq
    assert(shape(media.schema) == shape(MultimodalSpec.mediaSchema))
  }

  test("decodeFeatures: batch shape, dimension, determinism") {
    val out = Multimodal.decodeFeatures(spark, media)
      .orderBy("media_id").collect()
    assert(out.length == 3)
    out.foreach { r =>
      assert(r.getSeq[Float](r.fieldIndex("features")).length == Multimodal.featureDim)
    }
    // deterministic: same bytes → same features
    val again = Multimodal.decodeFeatures(spark, media).orderBy("media_id").collect()
    assert(out.map(_.getSeq[Float](3).toSeq).toSeq
      == again.map(_.getSeq[Float](3).toSeq).toSeq)
    // n_bytes round-trips the blob length
    assert(out.map(_.getAs[Int]("n_bytes")).toSeq == Seq(17, 12, 5))
  }

  test("metadata-only stats never read the blob column (columnar pruning)") {
    val dir = Files.createTempDirectory("graft_media").toString
    media.write.mode("overwrite").parquet(dir)
    val fromDisk = spark.read.parquet(dir)
    val plan = Multimodal.metaStats(fromDisk).queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("modality") && readSchema.contains("meta"))
    assert(!readSchema.contains("bytes"),
      s"blob column leaked into the scan: $readSchema")
  }

  test("interleaveRender: marker at midpoint, stripping it recovers the text") {
    val docs = Seq((1L, "abcdef"), (2L, "xyz"), (3L, ""))
      .toDF("doc_id", "text")
    val out = Multimodal.interleaveRender(docs,
      Multimodal.synthFromDocuments(docs, "doc_id", "text"),
      "doc_id", "text").orderBy("doc_id").collect()
    // doc 1 (id%3=1 → audio): n=6, m=3 → "abc<|audio:1|>def"
    assert(out(0).getString(3) === "abc<|audio:1|>def")
    assert(out(0).getLong(2) === 3L)
    // doc 2 (video): n=3, m=1 → "x<|video:2|>yz"
    assert(out(1).getString(3) === "x<|video:2|>yz")
    // empty doc (image): marker only
    assert(out(2).getString(3) === "<|image:3|>")
    // stripping the placeholder recovers the original text, every row
    val bad = Multimodal.interleaveRender(docs,
        Multimodal.synthFromDocuments(docs, "doc_id", "text"),
        "doc_id", "text")
      .join(docs, "doc_id")
      .withColumn("stripped",
        regexp_replace($"seq_text", "<\\|(image|audio|video):\\d+\\|>", ""))
      .filter($"stripped" =!= $"text")
    assert(bad.count() === 0)
  }

  test("interleaveRender: media blob column never enters the scan") {
    val dir = Files.createTempDirectory("graft_media2").toString
    media.write.mode("overwrite").parquet(dir)
    val docs = Seq((1L, "some text payload")).toDF("doc_id", "text")
    val plan = Multimodal.interleaveRender(docs, spark.read.parquet(dir),
      "doc_id", "text").queryExecution.executedPlan.toString
    val mediaScan = plan.linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(!mediaScan.contains("bytes"),
      s"blob column leaked into the media scan: $mediaScan")
  }
}

object MultimodalSpec {
  import org.apache.spark.sql.types._

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("bytes", BinaryType, nullable = false),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("dur_ms", IntegerType, nullable = true),
      StructField("codec", StringType, nullable = true)
    )), nullable = false)
  ))
}
