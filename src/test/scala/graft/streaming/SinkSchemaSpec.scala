package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.functions.MediaCodecs
import graft.operators.{BandIndex, ClusterIndex, Clustering, FpIndex, Multimodal}

/** Every sink's declared log ([[SinkLog]]) against what its batch body
  * writes: for each history or state reader, the frame it answers before
  * the first batch (the declared schema's empty frame) must carry the
  * same column names and types as the frame it answers after one
  * committed batch (the written files). Nullability is left out — the
  * written files' nullability follows each expression, not the
  * declaration.
  */
class SinkSchemaSpec extends SparkSpec {

  import spark.implicits._

  private val pid = ProcessHandle.current().pid()

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def loose(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, loose(f.dataType))))
    case a: ArrayType => ArrayType(loose(a.elementType))
    case m: MapType => MapType(loose(m.keyType), loose(m.valueType))
    case other => other
  }

  private def docs(lo: Int, hi: Int): DataFrame =
    graft.core.Tables(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int"))
      .filter(col("bucket") >= lo && col("bucket") < hi)
      .select("doc_id", "text")

  private def embeddings(n: Int): DataFrame =
    graft.core.Tables(spark, sf0001, "embeddings")
      .filter(col("vec_id") < n)
      .select(col("vec_id"), col("embedding"))

  private def fpIndex(tag: String): String = {
    val name = s"graft_schema_fp_${tag}_$pid"
    FpIndex.Layout.initIndex(spark, name, Paths.get(tmp("graft-schema-fp"), "idx"))
    name
  }

  private def clusterIndex(tag: String): String = {
    val name = s"graft_schema_cl_${tag}_$pid"
    ClusterIndex.Layout.initIndex(spark, name,
      Paths.get(tmp("graft-schema-cl"), "idx"))
    name
  }

  /** A modality's frozen cells: one Lloyd pass over a history slice. */
  private def cells(featsOf: DataFrame => DataFrame, featCol: String): DataFrame =
    Clustering.lloydCentroids(
      featsOf(docs(0, 200)).select(col("vec_id"),
        transform(col(featCol), x => x.cast("long")).as("qv")), 8, 1)
      .localCheckpoint(true)

  private lazy val imgCells = cells(Clustering.imageFeaturesOf(spark, _), "hist")
  private lazy val audCells = cells(Clustering.audioFeaturesOf(spark, _), "env")
  private lazy val vidCells = cells(Clustering.videoFeaturesOf(spark, _), "vfeat")
  private lazy val art = CurationSink.artifactsOf(docs(0, 200))

  private def payloads(column: String, enc: String => Array[Byte]): DataFrame =
    docs(200, 256).as[(Long, String)]
      .map { case (id, text) => (id, enc(text)) }.toDF("vec_id", column)

  private def changes: DataFrame =
    Seq((1L, "a", 5L, false, Timestamp.valueOf("2026-01-01 00:00:00")),
      (2L, "b", 7L, false, Timestamp.valueOf("2026-01-01 00:01:00")))
      .toDF("key", "name", "delta_cents", "deleted", "ts")

  /** sink → (its readers by name, one committed batch 0 into a dir). */
  private val cases: Seq[(String, Seq[(String, String => DataFrame)], String => Unit)] = Seq(
    ("UpsertSink", Seq("snapshot" -> (UpsertSink.snapshot(spark, _))),
      dir => UpsertSink.applyBatch(changes, 0L, dir)),
    ("RollupSink", Seq("rollup" -> (RollupSink.rollup(spark, _))),
      dir => RollupSink.applyBatch(changes, 0L, s"$dir-snap", dir)),
    ("SampleSink", Seq("sample" -> (SampleSink.sample(spark, _))),
      dir => SampleSink.applyBatch(docs(0, 64), 0L, dir)),
    ("ClusterSink", Seq("state" -> (ClusterSink.Log.current(spark, _))),
      dir => ClusterSink.applyBatch(embeddings(16).select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000000.0).cast("long")).as("qv")),
        0L, dir)),
    ("HeavyHittersSink", Seq("state" -> (HeavyHittersSink.state(spark, _)._1)),
      dir => HeavyHittersSink.applyBatch(docs(0, 64), 0L, dir)),
    ("IngestDedupSink", Seq("decisions" -> (IngestDedupSink.decisions(spark, _))),
      { dir =>
        val name = s"graft_schema_band_$pid"
        BandIndex.Layout.initIndex(spark, name,
          Paths.get(tmp("graft-schema-band"), "idx"))
        IngestDedupSink.applyBatch(docs(0, 64), 0L, name, dir)
      }),
    ("WinnowIndexSink", Seq("cleanedDocs" -> (WinnowIndexSink.cleanedDocs(spark, _))),
      dir => WinnowIndexSink.applyBatch(docs(0, 64), 0L, fpIndex("winnow"), dir)),
    ("ClusterIndexSink", Seq("verdicts" -> (ClusterIndexSink.verdicts(spark, _))),
      dir => ClusterIndexSink.applyBatch(
        Seq(1L -> Seq(1.0, 0.2), 2L -> Seq(0.0, 1.0)).toDF("vec_id", "embedding"),
        0L, clusterIndex("vec"),
        Seq(0L -> Seq(1000000L, 0L), 1L -> Seq(0L, 1000000L)).toDF("cid", "cv"),
        dir)),
    ("CurationSink", Seq("verdicts" -> (CurationSink.verdicts(spark, _))),
      dir => CurationSink.applyBatch(docs(200, 256), 0L, fpIndex("cur"),
        sf0001, art, dir)),
    ("MultimodalCurationSink", Seq(
        "verdicts" -> (MultimodalCurationSink.verdicts(spark, _)),
        "quarantined" -> (MultimodalCurationSink.quarantined(spark, _))),
      dir => MultimodalCurationSink.applyBatch(
        Multimodal.mintWide(spark, docs(200, 256), corrupt = true).toDF(), 0L,
        fpIndex("mm"), sf0001, art,
        MultimodalCurationSink.ModalIndex(clusterIndex("mmi"), imgCells),
        MultimodalCurationSink.ModalIndex(clusterIndex("mma"), audCells),
        MultimodalCurationSink.ModalIndex(clusterIndex("mmv"), vidCells), dir)),
    ("ImageDedupSink", Seq(
        "verdicts" -> (ImageDedupSink.verdicts(spark, _)),
        "quarantined" -> (ImageDedupSink.quarantined(spark, _))),
      dir => ImageDedupSink.applyBatch(
        payloads("image", MediaCodecs.PpmCodec.encode), 0L,
        clusterIndex("img"), imgCells, dir)),
    ("AudioDedupSink", Seq(
        "verdicts" -> (AudioDedupSink.verdicts(spark, _)),
        "quarantined" -> (AudioDedupSink.quarantined(spark, _))),
      dir => AudioDedupSink.applyBatch(
        payloads("audio", MediaCodecs.WavCodec.encode), 0L,
        clusterIndex("aud"), audCells, dir)),
    ("VideoDedupSink", Seq(
        "verdicts" -> (VideoDedupSink.verdicts(spark, _)),
        "quarantined" -> (VideoDedupSink.quarantined(spark, _))),
      dir => VideoDedupSink.applyBatch(
        payloads("video", MediaCodecs.VideoCodec.encode), 0L,
        clusterIndex("vid"), vidCells, dir)),
    ("AnnServeSink", Seq("results" -> (AnnServeSink.results(spark, _))),
      dir => AnnServeSink.applyBatch(
        embeddings(4).withColumnRenamed("vec_id", "q_id"), 0L, sf0001, dir)),
    ("Bm25ServeSink", Seq("results" -> (Bm25ServeSink.results(spark, _))),
      dir => Bm25ServeSink.applyBatch(
        Seq(1L -> Seq("data", "spark")).toDF("q_id", "terms"), 0L, sf0001, dir)),
    ("HybridServeSink", Seq("results" -> (HybridServeSink.results(spark, _))),
      dir => HybridServeSink.applyBatch(
        embeddings(2).select(col("vec_id").as("q_id"),
          array(lit("data"), lit("spark")).as("terms"), col("embedding")),
        0L, sf0001, dir)),
    ("BoilerplateSink", Seq("decisions" -> (BoilerplateSink.decisions(spark, _))),
      dir => BoilerplateSink.applyBatch(docs(0, 64), 0L, dir)),
    ("DecontamSink", Seq("decisions" -> (DecontamSink.decisions(spark, _))),
      dir => DecontamSink.applyBatch(docs(0, 64), 0L, sf0001, dir)))

  cases.foreach { case (sink, readers, oneBatch) =>
    test(s"$sink: each reader's empty schema is the schema one batch writes") {
      val dir = tmp(s"graft-schema-${sink.toLowerCase}")
      val before = readers.map { case (r, read) => r -> loose(read(dir).schema) }
      oneBatch(dir)
      assert(VersionedPointer.latest(dir).contains(0L))
      readers.zip(before).foreach { case ((r, read), (_, empty)) =>
        val written = loose(read(dir).schema)
        assert(empty == written,
          s"$sink.$r declares ${empty.simpleString} but reads " +
            written.simpleString)
      }
    }
  }
}
