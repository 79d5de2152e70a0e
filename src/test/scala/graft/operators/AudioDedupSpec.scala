package graft.operators

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.SparkSpec
import graft.functions.MediaCodecs.{PpmCodec, WavCodec}

/** The audio SemDeDup estate behind q126: the envelope feature must be
  * the decoder's closed form and genuinely TEMPORAL (order-sensitive,
  * unlike the image histograms), and the serving path must read the
  * persisted audio index bucketed, exchange-free, never rebuilding it.
  */
class AudioDedupSpec extends SparkSpec {

  private val dir = sf0001

  private def q(name: String) = Clustering.defs.find(_.name == name).get.fn

  test("decodeEnvelope is the closed form over the minted samples") {
    // sample for code c is 257*c - 32768 (always negative for 7-bit
    // codes), so |sample| = 32768 - 257*c; sample j of n lands in
    // frame j*8/n
    val text = "The quick brown fox jumps over the lazy dog."
    val n = text.length
    val want = new Array[Long](8)
    for (j <- 0 until n)
      want((j * 8) / n) += 32768L - 257L * text.charAt(j).toInt
    assert(WavCodec.decodeEnvelope(WavCodec.encode(text)).toSeq == want.toSeq)
    // the empty payload decodes to the zero envelope, not a crash
    assert(WavCodec.decodeEnvelope(WavCodec.encode("")).toSeq ==
      Seq.fill(8)(0L))
  }

  test("the envelope is order-SENSITIVE where the image histogram is blind") {
    // same character multiset => identical image histogram, but the
    // time-reversed audio must fingerprint differently — the property
    // that makes the envelope a TEMPORAL feature rather than a bag of
    // samples (and the reason rotation replicas cannot curve q126)
    val fwd = "aaaaZZZZ"
    val rev = fwd.reverse
    assert(PpmCodec.decodeHistogram(PpmCodec.encode(fwd)).toSeq ==
      PpmCodec.decodeHistogram(PpmCodec.encode(rev)).toSeq)
    val ef = WavCodec.decodeEnvelope(WavCodec.encode(fwd))
    val er = WavCodec.decodeEnvelope(WavCodec.encode(rev))
    assert(ef.toSeq != er.toSeq)
    assert(ef.toSeq == er.reverse.toSeq,
      "reversing the audio must exactly reverse the envelope")
  }

  test("q126 prunes at least one within-cell audio near-dup") {
    val out = q("q126_audio_semdedup")(spark, dir).collect()
    assert(out.nonEmpty)
    assert(out.exists(!_.getBoolean(3)),
      "corpus must contain at least one audio semdedup prune")
  }

  test("q126 plan: the AUDIO pair join reads its index bucketed, exchange-free") {
    // the q113/q121 plan discipline at the third modality
    ClusterIndex.ensure(spark, dir, ClusterIndex.Audio)
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = q("q126_audio_semdedup")(spark, dir)
        .queryExecution.executedPlan
      val name = ClusterIndex.Audio.layout.tableNameFor(dir)
      def sideBucketedNoShuffle(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
        p.collect { case e: ShuffleExchangeExec => e }.isEmpty &&
          p.collect {
            case f: FileSourceScanExec
                if f.tableIdentifier.exists(_.table == name) => f
          }.forall(_.bucketedScan)
      val smjs = plan.collect { case j: SortMergeJoinExec => j }
      assert(smjs.exists(j =>
          sideBucketedNoShuffle(j.left) && sideBucketedNoShuffle(j.right)),
        s"no exchange-free bucketed audio pair join found:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
    }
  }

  test("q126's audio index is served, never rebuilt in-line") {
    val name = ClusterIndex.ensure(spark, dir, ClusterIndex.Audio)
    val fpPath = java.nio.file.Paths.get(
      IndexCommit.indexRoot, name, "_GRAFT_FP")
    val before = java.nio.file.Files.getLastModifiedTime(fpPath)
    // simulate a fresh JVM: catalog entry gone, files on disk
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val out = q("q126_audio_semdedup")(spark, dir).collect()
    assert(out.nonEmpty)
    assert(spark.catalog.tableExists(name),
      "the run must re-register the persisted audio index")
    assert(java.nio.file.Files.getLastModifiedTime(fpPath) == before,
      "a q126 run must never rebuild the audio index in-line")
  }
}
