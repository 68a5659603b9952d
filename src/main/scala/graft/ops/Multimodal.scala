package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed by partition-batched
  * transforms.
  *
  * The decode step is STUBBED (this container has no image/audio codecs)
  * — [[stubDecodeFeatures]] derives a deterministic pseudo-feature vector
  * from the bytes so the Spark-side plumbing (schema, partitioning,
  * batch shape, encoder round-trip) is real and tested; swap the stub
  * for an actual codec (e.g. JNI/ONNX batch scorer) on a real cluster.
  *
  * Scale notes: binary payloads ride in the same row as metadata —
  * filters on typed metadata columns (modality, width, dur_ms) push down
  * to parquet WITHOUT touching the blob column (columnar pruning), which
  * is the whole point of this layout at 100 TB.
  */
object Multimodal {

  /** Deterministic synthetic media table (blob = text bytes; metadata
    * derived from id with plain INTEGER arithmetic, so a DuckDB oracle
    * can reproduce it — xxhash64 here would make the metadata queries
    * unverifiable). */
  def synthFromDocuments(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      element_at(lit(Array("image", "audio", "video")),
        (pmod(col(idCol), lit(3)) + 1).cast("int")).as("modality"),
      col(textCol).cast("binary").as("bytes"),
      struct(
        (pmod(col(idCol) * 37, lit(1920)) + 1).cast("int").as("width"),
        (pmod(col(idCol) * 59, lit(1080)) + 1).cast("int").as("height"),
        (pmod(col(idCol) * 97, lit(60000)) + 1).cast("int").as("dur_ms"),
        lit("stub").as("codec")).as("meta"))

  val featureDim = 8

  /** STUB decode: deterministic pseudo-features from the blob bytes.
    * Real implementation would decode pixels/samples here — per
    * partition, batched, exactly this signature.
    *
    * MODULAR (not wrapping) arithmetic throughout — the same base-31
    * mod 2^31−1 rolling hash as [[graft.functions.RollingFingerprint]]
    * — so a SQL oracle that traps on bigint overflow (DuckDB
    * `list_reduce`) reproduces every feature bit-exactly; round 2's
    * wrapping-Long variant was the engine's last unverifiable output.
    * Feature d = ((h·(100003+17d) + 7919d) mod 1000)/1000 ∈ [0,1),
    * computed double→float exactly like `CAST(k/1000.0 AS REAL)`. */
  def stubDecodeFeatures(bytes: Array[Byte]): Array[Float] = {
    val M = 2147483647L
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = (h * 31 + (bytes(i) & 0xffL)) % M; i += 1 }
    val out = new Array[Float](featureDim)
    var d = 0
    while (d < featureDim) {
      val k = (h * (100003L + 17L * d) + 7919L * d) % 1000L
      out(d) = (k.toDouble / 1000.0).toFloat
      d += 1
    }
    out
  }

  private val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false), nullable = false)
  ))

  /** Partition-batched decode+featurize: the Scala analog of a pandas
    * `mapInPandas` batch UDF — one JVM-side pass per partition, blob
    * column read only here. */
  def decodeFeatures(spark: SparkSession, media: DataFrame): DataFrame = {
    val enc = RowEncoder.encoderFor(decodedSchema)
    media.select("media_id", "modality", "bytes").mapPartitions { it =>
      it.map { r =>
        val bytes = r.getAs[Array[Byte]]("bytes")
        Row(r.getLong(0), r.getString(1), bytes.length,
          stubDecodeFeatures(bytes).toSeq)
      }
    }(enc)
  }

  /** Metadata-only stats — must NOT read the blob column (verified by
    * plan in tests: ReadSchema excludes `bytes`). */
  def metaStats(media: DataFrame): DataFrame =
    media.groupBy("modality")
      .agg(count(lit(1)).as("n"),
        avg(col("meta.width")).as("avg_width"),
        avg(col("meta.dur_ms")).as("avg_dur_ms"))

  /** Exact media dedup by content hash — the multimodal analog of the
    * d01 text pass: byte-identical blobs collapse to one survivor
    * regardless of id or metadata (re-uploaded/mirrored images are the
    * dominant dup class in crawled media). The groupBy key is the
    * 32-hex md5 of the blob, so the shuffle carries hashes + counts,
    * never the blobs themselves, and a SQL oracle reproduces the digest
    * (swap in xxhash64(bytes) to shrink the key to 8 bytes when no
    * oracle needs to follow). */
  def dedupByContent(media: DataFrame): DataFrame =
    media.groupBy(md5(col("bytes")).as("content_md5"))
      .agg(min("media_id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** Interleaved multimodal training sequence: each document's text
    * with its media item spliced in as a `<|modality:id|>` placeholder
    * token at the integer midpoint (n div 2) — the row shape a
    * text+image training loader consumes (the trainer later swaps the
    * placeholder for the encoded media embedding). Production would
    * carry the media's byte offset table instead of an inline marker;
    * the join/render plan is identical.
    *
    * Scale: one equi-join on the 8-byte id between the text corpus and
    * the (typically much wider) media table — only `media_id, modality`
    * are projected from the media side, so the blob column never leaves
    * the scan (the m01-established blob-pruning contract), then a
    * narrow codegen render. No shuffle beyond the join's. */
  def interleaveRender(docs: DataFrame, media: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val n = length(col(textCol)).cast("bigint")
    val m = call_function("div", n, lit(2L))
    docs.filter(col(textCol).isNotNull)
      .join(media.select(col("media_id"), col("modality")),
        col(idCol) === col("media_id"))
      .select(col(idCol), col("modality"), m.as("insert_off"),
        concat(
          col(textCol).substr(lit(1), m.cast("int")),
          lit("<|"), col("modality"), lit(":"),
          col("media_id").cast("string"), lit("|>"),
          col(textCol).substr((m + lit(1L)).cast("int"), (n - m).cast("int"))
        ).as("seq_text"))
  }
}
