package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.Lake

/** Persisted Lloyd cluster assignment — the persisted-index "build
  * once, probe forever" pattern ([[IndexLayout]]) applied to the
  * clustering layer.
  *
  * q104 re-learns the k-means cells in-query on every run;
  * profile_q104.json put that Lloyd chain at 66% of the query. In a
  * deployment the assignment is a curated artifact: learned once per
  * embedding-corpus generation, then served to every downstream
  * consumer (SemDeDup pruning, balanced sampling, per-cell budgets).
  * This object persists exactly that — (vec_id, cid, v, nrm), the
  * assignment JOINED with the full-precision vectors — as a parquet
  * table bucketed by `cid`, which is the within-cell pair join's key:
  * q113's self-join reads BOTH sides from the bucketed scan with no
  * exchange ([[ClusterIndexSpec]] pins the plan).
  *
  * One [[Modality]] per feature corpus (embedding, image, audio,
  * video): its layout (same schema, own table prefix), its
  * fingerprint, and its Lloyd artifacts. Freshness, restart, append,
  * compaction and recovery are the one index lifecycle. The frozen
  * learned cells land as the underscore-prefixed `_CENTROIDS` sidecar
  * (invisible to the table scan): q117's probe ranks cells against
  * these without re-running the Lloyd chain, and compaction copies them
  * byte for byte.
  */
object ClusterIndex {

  /** (vec_id, cid, v, nrm) bucketed on `cid`, sorted (cid, vec_id). */
  val Layout = IndexLayout("graft_cluster_asg_",
    StructType.fromDDL("vec_id BIGINT, cid BIGINT, v ARRAY<DOUBLE>, nrm DOUBLE"),
    Seq("cid"), Seq("cid", "vec_id"), sidecars = Seq("_CENTROIDS"))

  /** One feature corpus's assignment index: its layout, its freshness
    * fingerprint (source metadata + the parameters the assignment was
    * learned under — a param change makes the old index read as stale,
    * never as valid), and its generation artifacts (centroids, full
    * assignment frame).
    */
  final case class Modality(layout: IndexLayout, fingerprint: String => String,
      artifacts: (SparkSession, String) => (DataFrame, DataFrame))

  /** The embedding corpus (`embeddings.parquet`), in-corpus Lloyd. */
  val Embedding = Modality(Layout,
    dir => IndexCommit.sourceFingerprint(dir, "embeddings.parquet") +
      ":" + Clustering.paramsTag + ":cent-v2",
    (s, dir) => Clustering.assignmentArtifacts(s, dir))

  /** The IMAGE corpus (minted from the documents): assignment learned
    * over REAL decoded PPM features (q114's sample-trained recipe) —
    * q121's serving table.
    */
  val Image = Modality(Layout.copy(prefix = "graft_cluster_img_"),
    dir => IndexCommit.sourceFingerprint(dir, "documents.parquet") +
      ":" + Clustering.imageParamsTag,
    (s, dir) => Clustering.imageArtifacts(s, dir))

  /** The AUDIO corpus: decoded WAV envelopes — q126's serving table. */
  val Audio = Modality(Layout.copy(prefix = "graft_cluster_aud_"),
    dir => IndexCommit.sourceFingerprint(dir, "documents.parquet") +
      ":" + Clustering.audioParamsTag,
    (s, dir) => Clustering.audioArtifacts(s, dir))

  /** The VIDEO corpus: frame-SAMPLED spatiotemporal sums (non-sampled
    * frames skipped, never parsed) — q129's serving table.
    */
  val Video = Modality(Layout.copy(prefix = "graft_cluster_vid_"),
    dir => IndexCommit.sourceFingerprint(dir, "documents.parquet") +
      ":" + Clustering.videoParamsTag,
    (s, dir) => Clustering.videoArtifacts(s, dir))

  /** Ensure modality `m`'s assignment index for `dir` through the one
    * lifecycle ([[IndexLayout.ensure]]); returns the table name. Cold
    * cost one Lloyd run, paid once per corpus generation, NOT per query.
    */
  def ensure(spark: SparkSession, dir: String,
      m: Modality = Embedding): String = synchronized {
    m.layout.ensure(spark, dir, m.fingerprint(dir)) { (tn, tp) =>
      val (cents, full) = m.artifacts(spark, dir)
      m.layout.write(spark, full, tn, tp)
      cents.coalesce(1).write.mode("overwrite")
        .parquet(tp.resolve("_CENTROIDS").toString)
    }
  }

  /** The persisted generation centroids ((cid, cv) integer micro-units)
    * of the ensure()-managed index for `dir` — K rows, broadcastable.
    */
  def centroids(spark: SparkSession, dir: String): DataFrame =
    centroidsOf(spark, Layout.tableNameFor(dir))

  /** The `_CENTROIDS` sidecar of ANY ensure()-managed index by table
    * name — every modality's build persists one, so every modality's
    * index can serve ANN probes ([[Clustering.annProbeFrom]]). The read
    * names the sidecar's part files: Spark's hidden-path filter would
    * flag the underscore directory itself (the name that keeps it out
    * of the bucketed table's scan).
    */
  def centroidsOf(spark: SparkSession, name: String): DataFrame = {
    val dir = IndexLayout.pathOf(name).resolve("_CENTROIDS").toString
    spark.read.parquet(Lake.listNames(dir).filter(_.endsWith(".parquet"))
      .sorted.map(n => s"$dir/$n"): _*)
  }

  /** SemDeDup's within-cell duplicate threshold (q104's rule) — shared
    * by every within-cell prune ([[Clustering.cellDups]]) and the
    * history leg of [[probeVerdicts]].
    */
  val Tau = 0.3

  /** (vec_id, cid, v, nrm) of a (vec_id, embedding) batch under FROZEN
    * centroids — the exact q101 assignment rule (integer micro-unit
    * quantization, exact integer distances, ties on cid). Shared by
    * [[graft.streaming.ClusterIndexSink]] and q116 so the ingest
    * assignment cannot drift between batch and stream.
    */
  private[graft] def assignBatch(batch: DataFrame,
      centroids: DataFrame): DataFrame = {
    val qv = batch.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * lit(1000000.0)).cast("long")).as("qv"))
    val asg = Clustering.assign(qv, centroids).select("vec_id", "cid")
    batch.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(aggregate(
        transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
      .join(asg, "vec_id")
  }

  /** (vec_id, cid, v, nrm) of an exact-INTEGER feature batch
    * (vec_id, `featCol`) under FROZEN centroids — [[assignBatch]]
    * without the micro-unit quantization step: integer features are
    * the Lloyd coordinates directly ([[Clustering]]'s
    * sampledArtifacts rule, shared verbatim by the q125/q127
    * maintenance loops and the image/audio ingest sinks so batch and
    * stream cannot drift across ANY modality).
    */
  private def assignIntBatch(batch: DataFrame,
      centroids: DataFrame,
      featCol: String): DataFrame = {
    val qv = batch.select(col("vec_id"),
      transform(col(featCol), x => x.cast("long")).as("qv"))
    val asg = Clustering.assign(qv, centroids).select("vec_id", "cid")
    batch.select(col("vec_id"),
        transform(col(featCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(aggregate(
        transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
      .join(asg, "vec_id")
  }

  /** [[assignIntBatch]] over a (vec_id, hist) IMAGE-feature batch. */
  private[graft] def assignImageBatch(batch: DataFrame,
      centroids: DataFrame): DataFrame =
    assignIntBatch(batch, centroids, "hist")

  /** [[assignIntBatch]] over a (vec_id, env) AUDIO-envelope batch. */
  private[graft] def assignAudioBatch(batch: DataFrame,
      centroids: DataFrame): DataFrame =
    assignIntBatch(batch, centroids, "env")

  /** [[assignIntBatch]] over a (vec_id, vfeat) VIDEO-feature batch. */
  private[graft] def assignVideoBatch(batch: DataFrame,
      centroids: DataFrame): DataFrame =
    assignIntBatch(batch, centroids, "vfeat")

  /** Verdicts (vec_id, cid, dup_of, kept) of an assigned batch frame
    * `b` (vec_id, cid, v, nrm) against the index — the probe half of
    * continuous-ingest SemDeDup, shared VERBATIM by the streaming sink
    * and the q116 oracle-gated maintenance loop (batch and stream
    * cannot diverge; the [[Winnow.spliceClean]] discipline at the
    * vector layer). History contains ONLY admitted representatives, so
    * an arrival is pruned iff it matches an ADMITTED same-cell vector
    * (grouped-min reduce — duplicate index rows from a crash-replayed
    * append can never change a verdict) or an EARLIER (smaller vec_id)
    * member of its own batch, whatever that member's own verdict (the
    * q78 within-batch keep-first). The history leg shuffles the BATCH
    * side only — the index is read bucketed on `cid`.
    *
    * `excludeBatchFromHistory` is the replay seam ([[FpIndex
    * .probeSpans]]): a crashed prior attempt may have appended this
    * batch's own rows; excluding the batch's ids from the history leg
    * makes the probe idempotent under replay-after-append.
    */
  private[graft] def probeVerdicts(spark: SparkSession,
      indexName: String, b: DataFrame,
      excludeBatchFromHistory: Boolean): DataFrame = {
    val hist = spark.table(indexName)
      .select(col("vec_id").as("h_id"), col("cid"),
        col("v").as("hv"), col("nrm").as("hn"))
    val pairs0 = b.join(hist, Seq("cid"))
      .withColumn("cos", aggregate(
        zip_with(col("v"), col("hv"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x) / (col("nrm") * col("hn")))
      .filter(col("cos") >= Tau)
    // the replay exclusion operates on the MATCHED PAIRS (already
    // batch-sized), never on the raw index — an anti join against the
    // scan side would reshuffle the whole index by vec_id every
    // micro-batch; here it is an explicit broadcast anti over the
    // batch-id set (a checkpointed batch has no stats, so the planner
    // would not broadcast it on its own)
    val pairs =
      if (excludeBatchFromHistory)
        pairs0.join(broadcast(b.select(col("vec_id").as("h_id"))),
          Seq("h_id"), "left_anti")
      else pairs0
    val histDup = pairs.groupBy("vec_id").agg(min(col("h_id")).as("h_dup"))
    val batchDup = Clustering.cellDups(b).withColumnRenamed("dup_of", "b_dup")
    b.select("vec_id", "cid")
      .join(histDup, Seq("vec_id"), "left")
      .join(batchDup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        least(col("h_dup"), col("b_dup")).as("dup_of"),
        (col("h_dup").isNull && col("b_dup").isNull).as("kept"))
  }
}
