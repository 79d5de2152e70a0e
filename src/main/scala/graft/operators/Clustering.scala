package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Pin, QueryDef, Tables}

/** Deterministic k-means (Lloyd) over the `embeddings` table — the
  * clustering primitive behind cluster-balanced curation (SemDeDup's
  * first stage, cluster-proportional sampling, per-cell dedup budgets).
  * q42/q89 consume FIXED centroid cells; q101 is the step that produces
  * cells from the data itself, so the whole curation chain
  * (cluster → per-cell dedup → balanced sample) is now in-engine.
  *
  * Cross-engine exactness (the q79/q93 design): coordinates are
  * quantized ONCE to integer micro-units (round(x·1e6) as long), after
  * which every distance, sum, and centroid update is exact int64
  * arithmetic — order-independent sums, total-order argmin
  * (distance, then centroid id), and a round-half-away integer division
  * for the mean that both engines express with the same integer ops
  * (`(2s+n) div (2n)` on the absolute value). The DuckDB oracle unrolls
  * both Lloyd iterations as CTEs, so the final per-vector assignment
  * hash pins every intermediate centroid of the dependent chain — a
  * single drifted coordinate in iteration 1 flips downstream
  * assignments and the hash.
  *
  * Scale shape (the part that matters at 100 TB): assignment is
  * map-side only — K centroids broadcast (K·d·8 bytes; thousands of
  * centroids still fit in MBs), per-row argmin folded by ONE
  * map-side-combined `min(struct)` aggregate, no window over the
  * corpus. The update step shuffles at most K·d rows PER PARTITION
  * (posexplode by dimension + partial aggregation), never the corpus;
  * per-iteration centroid frames are 8×64 longs, eagerly
  * localCheckpointed (the CC-loop discipline) so plan depth stays
  * constant in the iteration count.
  *
  * Reference scope note: the reference has no clustering operator
  * (its cells in q42's lineage are synthetic); q101 is part of the
  * beyond-reference LLM-pipeline surface, cited to Lloyd (IEEE IT'82)
  * and Abbas et al. 2023 (SemDeDup) for the curation use.
  */
object Clustering {

  private val K = 8
  private val Iters = 2
  private val Dims = 64
  /** q114's bounded training-sample size. */
  private val SampleK = 64

  /** Parameters baked into every persisted assignment — part of
    * [[ClusterIndex]]'s freshness fingerprint so a param change
    * invalidates old indexes (q1e6 = the micro-unit quantization).
    */
  private[graft] def paramsTag: String = s"lloyd-k$K-i$Iters-q1e6"

  /** embeddings quantized to integer micro-units: (vec_id, qv). */
  private def qvecs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * lit(1000000.0)).cast("long")).as("qv"))

  /** Exact integer squared L2 distance between two long arrays. */
  private def dist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  /** Nearest-centroid assignment: (vec_id, cid, dist2). Ties break on
    * centroid id ascending via the struct total order. Shared with the
    * streaming [[graft.streaming.ClusterSink]].
    */
  private[graft] def assign(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cents))
      .withColumn("d", dist2(col("qv"), col("cv")))
      .groupBy("vec_id")
      .agg(min(struct(col("d"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cid"), col("m.d").as("dist2"))

  /** One Lloyd update: integer-mean centroids of the assignment's
    * members; a centroid with no members carries over unchanged.
    * Mean rounds half away from zero in pure integer arithmetic so
    * both engines compute the identical coordinate.
    */
  private def update(vecs: DataFrame, asg: DataFrame,
      prev: DataFrame): DataFrame = {
    val sums = asg.select("vec_id", "cid").join(vecs, "vec_id")
      .select(col("cid"), posexplode(col("qv")).as(Seq("i", "x")))
      .groupBy("cid", "i")
      .agg(sum("x").as("s"), count(lit(1)).as("n"))
      .withColumn("c", expr(
        "CASE WHEN s >= 0 THEN (2*s+n) DIV (2*n) ELSE -((-2*s+n) DIV (2*n)) END"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("c")))),
        p => p.getField("c")).as("nv"))
    prev.select(col("cid"), col("cv").as("pv"))
      .join(sums, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("nv"), col("pv")).as("cv"))
  }

  /** The learned assignment joined with full-precision vectors:
    * (vec_id, cid, v, nrm) — q104's input, and the frame
    * [[ClusterIndex]] persists so the serving path skips the Lloyd
    * chain entirely.
    */
  private[graft] def assignmentWithVectors(s: SparkSession,
      dir: String): DataFrame = assignmentArtifacts(s, dir)._2

  /** The learned generation artifacts as a pair: the Lloyd CENTROIDS
    * ((cid, cv) integer micro-units — the frozen cells every later
    * probe ranks against) and the assignment joined with full-precision
    * vectors ((vec_id, cid, v, nrm) — q104's input and the frame
    * [[ClusterIndex]] persists). Split out so the index build can
    * persist BOTH without running the Lloyd chain twice (q117's probe
    * needs the centroids to pick cells; the oracle re-derives them
    * through the same unrolled CTE text, so the sidecar cannot drift).
    */
  private[graft] def assignmentArtifacts(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    // quantize ONCE: the lazy qvecs subtree (scan + per-element
    // round/cast transform) was re-evaluated by every consumer — the
    // Lloyd seed, each iteration's assign AND update (2 per iteration,
    // all SERIAL jobs, so nothing amortizes them concurrently), plus
    // the final assignment: 6 scan+quantize passes where one suffices.
    // The pin lives until the caller's scope closes.
    val q = Pin(qvecs(s, dir), "Clustering.qvecs")
    val cents = lloydCentroids(q, K, Iters)
    val asg = assign(q, cents).select("vec_id", "cid")
    val ev = Tables(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(aggregate(
        transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
    (cents, asg.join(ev, "vec_id"))
  }

  /** Image-index parameters — [[ClusterIndex.ensureImage]]'s
    * fingerprint tag (8-bin × RGB channel histograms, q114's
    * sample-trained Lloyd); a change stales persisted image indexes.
    */
  private[graft] def imageParamsTag: String =
    s"img-hist8x3-smp$SampleK-lloyd-k$K-i$Iters"

  /** Audio-index parameters — [[ClusterIndex.ensureAudio]]'s
    * fingerprint tag (8-frame |sample| energy envelope, q114's
    * sample-trained Lloyd); a change stales persisted audio indexes.
    */
  private[graft] def audioParamsTag: String =
    s"aud-env8-smp$SampleK-lloyd-k$K-i$Iters"

  /** Video-index parameters — [[ClusterIndex.ensureVideo]]'s
    * fingerprint tag (stride-2 frame sampling, per-channel sums,
    * q114's sample-trained Lloyd).
    */
  private[graft] def videoParamsTag: String =
    s"vid-str2-ch3-smp$SampleK-lloyd-k$K-i$Iters"

  /** q119's feature extractor in the index-build shape: every doc's
    * PPM payload strict-parsed and binned to the 24-dim integer
    * channel histogram ([[graft.functions.MediaCodecs.PpmCodec
    * .decodeHistogram]]) in one mapPartitions pass — (vec_id, hist).
    */
  private[graft] def imageFeatures(s: SparkSession, dir: String): DataFrame =
    imageFeaturesOf(s,
      Tables(s, dir, "documents").select(col("doc_id"), col("text")))

  /** [[imageFeatures]] over an arbitrary (doc_id, text) frame — the
    * minting+decode composed (q121's index build, q125's maintenance
    * slices). One mapPartitions pass, codec init amortized.
    */
  private[graft] def imageFeaturesOf(s: SparkSession,
      docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          (id, graft.functions.MediaCodecs.PpmCodec.decodeHistogram(
            graft.functions.MediaCodecs.PpmCodec.encode(text)))
        }
      }.toDF("vec_id", "hist")
  }

  /** Histogram features of RAW PPM payloads — what an image INGEST
    * stream carries ((vec_id, image bytes), no text to mint from).
    * Same decoder, so a payload equal to a minted doc's payload gets
    * the identical feature row ([[graft.streaming.ImageDedupSink]]).
    */
  private[graft] def imageHistogramsOf(s: SparkSession,
      payloads: DataFrame): DataFrame = {
    import s.implicits._
    payloads.as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          (id, graft.functions.MediaCodecs.PpmCodec.decodeHistogram(bytes))
        }
      }.toDF("vec_id", "hist")
  }

  /** Envelope features of RAW WAV payloads — what an audio INGEST
    * stream carries ((vec_id, audio bytes), no text to mint from).
    * Same decoder, so a payload equal to a minted doc's payload gets
    * the identical feature row ([[graft.streaming.AudioDedupSink]]).
    */
  private[graft] def audioEnvelopesOf(s: SparkSession,
      payloads: DataFrame): DataFrame = {
    import s.implicits._
    payloads.as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          (id, graft.functions.MediaCodecs.WavCodec.decodeEnvelope(bytes))
        }
      }.toDF("vec_id", "env")
  }

  /** q126's feature extractor in the index-build shape: every doc's
    * WAV payload chunk-walked and folded to the 8-frame |sample|
    * energy envelope ([[graft.functions.MediaCodecs.WavCodec
    * .decodeEnvelope]]) in one mapPartitions pass — (vec_id, env).
    */
  private[graft] def audioFeatures(s: SparkSession, dir: String): DataFrame =
    audioFeaturesOf(s,
      Tables(s, dir, "documents").select(col("doc_id"), col("text")))

  /** [[audioFeatures]] over an arbitrary (doc_id, text) frame — the
    * minting+decode composed. One mapPartitions pass, codec init
    * amortized.
    */
  private[graft] def audioFeaturesOf(s: SparkSession,
      docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          (id, graft.functions.MediaCodecs.WavCodec.decodeEnvelope(
            graft.functions.MediaCodecs.WavCodec.encode(text)))
        }
      }.toDF("vec_id", "env")
  }

  /** q129's feature extractor in the index-build shape: every doc's
    * GVID payload frame-walked with stride-2 SAMPLING — non-sampled
    * frames skipped by declared length, never parsed — and the
    * sampled frames' exact per-channel pixel sums emitted as the
    * 12-dim spatiotemporal feature ([[graft.functions.MediaCodecs
    * .VideoCodec.decodeSampledSums]]), one mapPartitions pass.
    */
  private[graft] def videoFeatures(s: SparkSession, dir: String): DataFrame =
    videoFeaturesOf(s,
      Tables(s, dir, "documents").select(col("doc_id"), col("text")))

  /** [[videoFeatures]] over an arbitrary (doc_id, text) frame. */
  private[graft] def videoFeaturesOf(s: SparkSession,
      docs: DataFrame): DataFrame = {
    import s.implicits._
    docs.as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          (id, graft.functions.MediaCodecs.VideoCodec.decodeSampledSums(
            graft.functions.MediaCodecs.VideoCodec.encode(text)))
        }
      }.toDF("vec_id", "vfeat")
  }

  /** Sampled-sum features of RAW GVID payloads — what a video INGEST
    * stream carries ([[graft.streaming.VideoDedupSink]]).
    */
  private[graft] def videoSumsOf(s: SparkSession,
      payloads: DataFrame): DataFrame = {
    import s.implicits._
    payloads.as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          (id, graft.functions.MediaCodecs.VideoCodec.decodeSampledSums(bytes))
        }
      }.toDF("vec_id", "vfeat")
  }

  /** The VIDEO generation artifacts — [[sampledArtifacts]] over the
    * frame-sampled spatiotemporal sums ([[videoFeatures]]).
    */
  private[graft] def videoArtifacts(s: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    sampledArtifacts(videoFeatures(s, dir), "vfeat")

  /** Sample-trained generation artifacts over ANY exact-integer
    * feature frame (vec_id, `featCol`) — q114's recipe, shared by the
    * image (q121) and audio (q126) index builds so the two modalities
    * cannot drift: bounded md5-priority sample, Lloyd on the sample
    * (corpus-independent learning cost), one broadcast assignment
    * pass over the corpus. Returns (centroids, (vec_id, cid, v, nrm))
    * like [[assignmentArtifacts]] so the `ensure*` builds persist
    * both in one chain. Integer features serve as the Lloyd
    * coordinates directly — no micro-unit quantization step.
    */
  private[graft] def sampledArtifacts(feats0: DataFrame,
      featCol: String): (DataFrame, DataFrame) = {
    // decode ONCE: the feature frame feeds three consumers (the
    // sample's bounded top-k, the broadcast assignment pass, and the
    // full-precision projection) — for the ensure* builds `feats0` is
    // the modality's mapPartitions codec decode of the whole corpus,
    // so the lazy form paid the decode three times. The pin is
    // feature-sized (vec_id + small int array) and lives until the
    // caller's scope closes.
    val feats = Pin(feats0, "Clustering.sampled.features")
    val q = feats.select(col("vec_id"), col(featCol).as("qv"))
    val smp = Pin(q
      .withColumn("priority", SketchExact.priorityCol(col("vec_id"), lit(1)))
      .orderBy("priority", "vec_id").limit(SampleK)
      .select("vec_id", "qv"), "Clustering.sampled.sample")
    val cents = lloydCentroids(smp, K, Iters)
    val asg = assign(q, cents).select("vec_id", "cid")
    val full = feats
      .select(col("vec_id"),
        transform(col(featCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(aggregate(
        transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
      .join(asg, "vec_id")
    (cents, full)
  }

  /** The IMAGE generation artifacts — [[sampledArtifacts]] over REAL
    * decoded channel histograms (the CLIP-style SemDeDup shape of
    * Abbas et al. 2023 at this harness's codec).
    */
  private[graft] def imageArtifacts(s: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    sampledArtifacts(imageFeatures(s, dir), "hist")

  /** The AUDIO generation artifacts — [[sampledArtifacts]] over REAL
    * decoded temporal envelopes ([[audioFeatures]]).
    */
  private[graft] def audioArtifacts(s: SparkSession,
      dir: String): (DataFrame, DataFrame) =
    sampledArtifacts(audioFeatures(s, dir), "env")

  /** SemDeDup's within-cell keep-first prune over a (vec_id, cid, v,
    * nrm) frame — shared by q104 (in-query Lloyd) and q113 (persisted
    * [[ClusterIndex]]) so the two queries cannot drift; both run under
    * ONE oracle string (the q91 ≡ q88 materialization-not-semantics
    * gate). The renamed-projection self-join never crosses cells.
    */
  private[graft] def semdedupFrom(full: DataFrame): DataFrame = {
    val a = full.select(col("vec_id").as("d1"), col("cid").as("c1"),
      col("v").as("v1"), col("nrm").as("n1"))
    val b = full.select(col("vec_id").as("d2"), col("cid").as("c2"),
      col("v").as("v2"), col("nrm").as("n2"))
    val removed = a.join(b, col("c1") === col("c2") && col("d1") < col("d2"))
      .withColumn("cos", aggregate(
        zip_with(col("v1"), col("v2"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x) / (col("n1") * col("n2")))
      .filter(col("cos") >= 0.3)
      .groupBy(col("d2").as("vec_id"))
      .agg(min(col("d1")).as("dup_of"))
    full.select("vec_id", "cid")
      .join(removed, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dup_of"),
        col("dup_of").isNull.as("kept"))
      .orderBy("vec_id")
  }

  /** The within-cell prune under the PRODUCTION cell-count knob:
    * `cells` ∝ corpus with cell size bounded — the regime q89/q104's
    * docs name as the scale path. Cells are stood in by a
    * deterministic uniform hash assignment (xxhash64 of vec_id mod
    * `cells`), NOT a Lloyd run, because the knob claim being measured
    * is about the JOIN: with cell size held bounded, within-cell pairs
    * grow linearly with the corpus however large it gets, while a
    * FIXED cell count would grow them quadratically. The learned-
    * assignment path has its own curves (q101) and persisted serving
    * form (q113); this entry exists for the ScaleBench knob curve that
    * turns the "cell count ∝ corpus" argument into a measurement.
    */
  private[graft] def semdedupKnob(s: SparkSession, dir: String,
      cells: Int): DataFrame =
    semdedupFrom(modalKnobFrame(
      Tables(s, dir, "embeddings").select("vec_id", "embedding"),
      "embedding", cells))

  /** [[semdedupKnob]]'s hash-cell device over an exact-INTEGER feature
    * frame (vec_id, `featCol`) — the scale-curve form of the MODAL
    * assignment frames: cells ∝ corpus by deterministic hash so cell
    * SIZE stays bounded as the knob tracks the corpus (the production
    * regime the fixed-K modal indexes deliberately do not measure; the
    * q104/q113 adjudication at the image/audio/video layers). Feeds
    * [[semdedupFrom]] exactly like the persisted `ensure*` tables do,
    * so the capstone knob curve ([[CurationPipeline.quadmodalKnob]])
    * swaps only the verdict SOURCE, never the stage wiring.
    */
  private[graft] def modalKnobFrame(feats: DataFrame, featCol: String,
      cells: Int): DataFrame =
    feats.select(col("vec_id"),
        transform(col(featCol), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(aggregate(
        transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
      .withColumn("cid", pmod(xxhash64(col("vec_id")), lit(cells.toLong)))

  /** q117's ANN probe over HASH cells ∝ corpus — the scale-curve form
    * of the indexed serving path ([[semdedupKnob]]'s device at the
    * probe layer): cell membership by deterministic hash so cell SIZE
    * stays bounded as the cell-count knob tracks the corpus; centroids
    * are one grouped per-dimension integer mean (a single map-side-
    * combinable pass — the corpus-linear leg); the probe is q117's
    * EXACT shape (nprobe=2 nearest cells per query by exact integer
    * distance, bounded Q·nprobe dimension-collect, cosine rerank
    * top-3). The persisted form's bucket pruning is plan-pinned in
    * ClusterIndexSpec; this curve proves the candidate + rerank cost
    * stays bounded when cells ∝ corpus — the regime q117's fixed-K
    * bench deliberately does not measure (the q104/q113 adjudication).
    */
  private[graft] def annIndexedKnob(s: SparkSession, dir: String,
      cells: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val full = Tables(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", sqrt(aggregate(
        transform(col("v"), x => x * x), lit(0.0), (a, x) => a + x)))
      .withColumn("qq", transform(col("v"),
        x => round(x * lit(1000000.0)).cast("long")))
      .withColumn("cid", pmod(xxhash64(col("vec_id")), lit(cells.toLong)))
    val cents = full.groupBy("cid")
      .agg(array((0 until Dims).map(i =>
        (sum(col("qq").getItem(i)) / count(lit(1))).cast("long")): _*)
        .as("cv"))
    val dist2 = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
    val dot = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
    val q = full.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nrm").as("qn"), col("qq"))
    val wq = Window.partitionBy("q_id").orderBy(col("d"), col("cid"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("d", dist2(col("qq"), col("cv")))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= 2)
      .select("q_id", "qv", "qn", "cid")
    val cellIds = probes.select("cid").distinct()
      .collect().map(_.getLong(0)).sorted
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    full.filter(col("cid").isInCollection(cellIds))
      .join(broadcast(probes), Seq("cid"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("q_id", "rank", "n_id", "cos")
      .orderBy("q_id", "rank")
  }

  /** `iters` Lloyd iterations from the k smallest-id seed vectors of
    * `vecs`; returns the learned CENTROIDS (cid, cv) — callers pick
    * what to assign against them (q101: the same corpus; q114: the
    * full corpus against sample-learned centroids).
    */
  def lloydCentroids(vecs: DataFrame, k: Int, iters: Int): DataFrame = Pin.scope {
    // the scope releases every iteration's centroids but the last
    var cents = Pin(vecs.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cid"), col("qv").as("cv")), "Clustering.lloyd.centroids")
    for (_ <- 1 to iters) {
      val asg = assign(vecs, cents)
      cents = Pin(update(vecs, asg, cents), "Clustering.lloyd.centroids")
    }
    cents
  }

  /** `iters` Lloyd iterations from the k smallest-id seed vectors;
    * returns the FINAL assignment (vec_id, cid, dist2).
    */
  def lloyd(vecs: DataFrame, k: Int, iters: Int): DataFrame =
    assign(vecs, lloydCentroids(vecs, k, iters))

  /** The quantized-embeddings CTE every clustering oracle opens with. */
  private val ECte =
    """WITH e AS (
      |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
      |           x -> CAST(round(x * 1000000.0) AS BIGINT)) AS qv
      |  FROM embeddings)""".stripMargin

  /** The unrolled two-iteration Lloyd chain (dims, c0..c2) learning
    * centroids FROM `src` — `src` is the full corpus `e` for q101's
    * family and the bounded sample `smp` for q114. ONE generator for
    * both so the iteration algebra cannot drift between them.
    */
  private[operators] def lloydIterCtes(src: String, dims: Int = 64): String =
    s"""dims AS (SELECT unnest(generate_series(1, $dims)) AS i),
       |c0 AS (SELECT vec_id AS cid, qv AS cv FROM $src
       |       ORDER BY vec_id LIMIT 8),
       |a1 AS (SELECT vec_id, cid FROM (
       |        SELECT $src.vec_id, c.cid, row_number() OVER (
       |            PARTITION BY $src.vec_id ORDER BY
       |            list_sum(list_transform(generate_series(1, $dims),
       |              i -> ($src.qv[i]-c.cv[i])*($src.qv[i]-c.cv[i]))), c.cid)
       |          AS rk
       |        FROM $src CROSS JOIN c0 c) t WHERE rk = 1),
       |u1 AS (SELECT a.cid, d.i, sum($src.qv[d.i]) AS s, count(*) AS n
       |       FROM a1 a JOIN $src USING (vec_id) CROSS JOIN dims d
       |       GROUP BY a.cid, d.i),
       |n1 AS (SELECT cid, list(CASE WHEN s >= 0 THEN (2*s+n)//(2*n)
       |         ELSE -((-2*s+n)//(2*n)) END ORDER BY i) AS cv
       |       FROM u1 GROUP BY cid),
       |c1 AS (SELECT c0.cid, coalesce(n1.cv, c0.cv) AS cv
       |       FROM c0 LEFT JOIN n1 USING (cid)),
       |a2 AS (SELECT vec_id, cid FROM (
       |        SELECT $src.vec_id, c.cid, row_number() OVER (
       |            PARTITION BY $src.vec_id ORDER BY
       |            list_sum(list_transform(generate_series(1, $dims),
       |              i -> ($src.qv[i]-c.cv[i])*($src.qv[i]-c.cv[i]))), c.cid)
       |          AS rk
       |        FROM $src CROSS JOIN c1 c) t WHERE rk = 1),
       |u2 AS (SELECT a.cid, d.i, sum($src.qv[d.i]) AS s, count(*) AS n
       |       FROM a2 a JOIN $src USING (vec_id) CROSS JOIN dims d
       |       GROUP BY a.cid, d.i),
       |n2 AS (SELECT cid, list(CASE WHEN s >= 0 THEN (2*s+n)//(2*n)
       |         ELSE -((-2*s+n)//(2*n)) END ORDER BY i) AS cv
       |       FROM u2 GROUP BY cid),
       |c2 AS (SELECT c1.cid, coalesce(n2.cv, c1.cv) AS cv
       |       FROM c1 LEFT JOIN n2 USING (cid))""".stripMargin

  /** Final assignment of the FULL corpus `e` against the learned c2 —
    * identical text whether c2 was learned from `e` or from a sample.
    */
  private[operators] def afCte(dims: Int = 64): String =
    s"""af AS (SELECT vec_id, cid, dist2 FROM (
      |  SELECT e.vec_id, c.cid,
      |    CAST(list_sum(list_transform(generate_series(1, $dims),
      |      i -> (e.qv[i]-c.cv[i])*(e.qv[i]-c.cv[i]))) AS BIGINT) AS dist2,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(generate_series(1, $dims),
      |        i -> (e.qv[i]-c.cv[i])*(e.qv[i]-c.cv[i]))), c.cid) AS rk
      |  FROM e CROSS JOIN c2 c) t
      |WHERE rk = 1)""".stripMargin

  /** The SQL text of q101's unrolled Lloyd chain (CTEs e..c2, af),
    * shared by q101's final assignment, q102's balanced sampler, and
    * q104/q113's prune so the oracles can never drift apart.
    */
  private val LloydCtes =
    ECte + ",\n" + lloydIterCtes("e") + ",\n" + afCte()

  /** The maintenance-loop probe tail (q116's oracle from `ev` down,
    * dims-parameterized): admitted-history keep-first over two ingest
    * batches — batch 1 probes history ∪ earlier-in-batch, batch 2
    * probes history ∪ batch-2-earlier ∪ batch-1 ADMITTED only. ONE
    * text for q116 (embeddings, dims=64) and q125 (image features,
    * dims=24), so the admission semantics cannot drift between the
    * modalities. Requires `bk` (vec_id → ingest bucket) and `af`
    * (frozen-cell assignment) in scope.
    */
  private def maintTailCtes(dims: Int, evCte: String): String = {
    val cos = s"list_sum(list_transform(generate_series(1, $dims), " +
      "i -> b.v[i]*p.v[i])) / (b.nrm*p.nrm)"
    s"""$evCte,
       |nv AS (SELECT vec_id, v,
       |         sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM ev),
       |ab AS (SELECT af.vec_id, af.cid, nv.v, nv.nrm, bk.bucket
       |       FROM af JOIN nv USING (vec_id) JOIN bk USING (vec_id)),
       |pr1 AS (SELECT b.vec_id, p.vec_id AS pid
       |        FROM ab b JOIN ab p ON p.cid = b.cid
       |          AND (p.bucket < 200
       |               OR (p.bucket >= 200 AND p.bucket < 230 AND p.vec_id < b.vec_id))
       |        WHERE b.bucket >= 200 AND b.bucket < 230 AND $cos >= 0.3),
       |d1 AS (SELECT vec_id, min(pid) AS dup_of FROM pr1 GROUP BY 1),
       |p1 AS (SELECT 1 AS batch_no, b.vec_id, b.cid, d1.dup_of,
       |         d1.dup_of IS NULL AS kept
       |       FROM ab b LEFT JOIN d1 ON d1.vec_id = b.vec_id
       |       WHERE b.bucket >= 200 AND b.bucket < 230),
       |k1 AS (SELECT vec_id FROM p1 WHERE kept),
       |pr2 AS (SELECT b.vec_id, p.vec_id AS pid
       |        FROM ab b JOIN ab p ON p.cid = b.cid
       |          AND (p.bucket < 200
       |               OR (p.bucket >= 230 AND p.vec_id < b.vec_id))
       |        WHERE b.bucket >= 230 AND $cos >= 0.3
       |        UNION ALL
       |        SELECT b.vec_id, p.vec_id
       |        FROM ab b JOIN ab p ON p.cid = b.cid
       |          JOIN k1 ON k1.vec_id = p.vec_id
       |        WHERE b.bucket >= 230 AND $cos >= 0.3),
       |d2 AS (SELECT vec_id, min(pid) AS dup_of FROM pr2 GROUP BY 1),
       |p2 AS (SELECT 2 AS batch_no, b.vec_id, b.cid, d2.dup_of,
       |         d2.dup_of IS NULL AS kept
       |       FROM ab b LEFT JOIN d2 ON d2.vec_id = b.vec_id
       |       WHERE b.bucket >= 230)
       |SELECT batch_no, vec_id, cid, dup_of, kept FROM p1
       |UNION ALL
       |SELECT batch_no, vec_id, cid, dup_of, kept FROM p2
       |ORDER BY batch_no, vec_id""".stripMargin
  }

  /** The modal maintenance loop q125 (image), q127 (audio) and q130
    * (video) share — q116's proof structure over any exact-integer
    * feature frame (vec_id, `featCol`), certifying the
    * per-micro-batch path of the matching ingest sink: freeze cells
    * learned on the HISTORY slice's decoded features (Lloyd over
    * exact integers — no quantization step), build the bucketed
    * assignment index over history, probe ingest batch 1 for
    * within-cell duplicates (admitted-history leg + within-batch
    * keep-first), append ONLY the admitted rows, probe batch 2 —
    * whose history now includes batch 1's representatives. The
    * assignment and probe halves are [[ClusterIndex
    * .assignImageBatch]]/[[ClusterIndex.assignAudioBatch]]/
    * [[ClusterIndex.assignVideoBatch]] (one shared body,
    * exhaustively dispatched on `featCol`) and [[ClusterIndex
    * .probeVerdicts]], the exact functions the streaming sinks call,
    * so certifying this loop certifies the sink (the q116 ≡
    * ClusterIndexSink discipline). The decode pass is paid ONCE
    * (eager pin) and reused by the cell learning, the index build,
    * and both batch probes.
    */
  private def modalMaintenanceLoop(s: SparkSession, dir: String,
      rawFeats: DataFrame, featCol: String, tableBase: String): DataFrame = Pin.scope {
    val name = tableBase + "_maint_" + ProcessHandle.current().pid()
    val path = java.nio.file.Paths.get(ClusterIndex.indexRoot, name)
    IndexCommit.purgeAllScratchRoots()
    val feats = Pin(rawFeats
      .withColumn("bucket",
        conv(substring(md5(col("vec_id").cast("string")), 1, 2), 16, 10)
          .cast("int")), s"modalMaintenance.$featCol.features")
    def slice(lo: Int, hi: Int) =
      feats.filter(col("bucket") >= lo && col("bucket") < hi)
        .select("vec_id", featCol)
    // exhaustive dispatch: an unknown feature column must fail loudly,
    // never silently train and probe through another modality's path
    def assignB(b: DataFrame, cents: DataFrame): DataFrame = featCol match {
      case "hist"  => ClusterIndex.assignImageBatch(b, cents)
      case "env"   => ClusterIndex.assignAudioBatch(b, cents)
      case "vfeat" => ClusterIndex.assignVideoBatch(b, cents)
      case other => throw new IllegalArgumentException(
        s"modalMaintenanceLoop: unknown feature column '$other' " +
          "(want hist | env | vfeat)")
    }
    val hist = slice(0, 200)
    val cents = lloydCentroids(
      hist.select(col("vec_id"),
        transform(col(featCol), x => x.cast("long")).as("qv")),
      K, Iters)
    ClusterIndex.buildIndexFrame(s, assignB(hist, cents), name, path)
    val b1 = Pin(assignB(slice(200, 230), cents),
      s"modalMaintenance.$featCol.batch1")
    val p1 = Pin(ClusterIndex.probeVerdicts(s, name, b1,
        excludeBatchFromHistory = true)
      .withColumn("batch_no", lit(1)), s"modalMaintenance.$featCol.verdicts1")
    ClusterIndex.append(s, name,
      b1.join(p1.filter(col("kept")).select("vec_id"), "vec_id"))
    // batch 2's assignment is pinned like batch 1's: probeVerdicts
    // consumes its batch frame in five branches — lazy, each branch
    // re-ran the pinned-feature read + broadcast-centroid assignment
    val b2 = Pin(assignB(slice(230, 256), cents),
      s"modalMaintenance.$featCol.batch2")
    val p2 = ClusterIndex.probeVerdicts(s, name, b2,
        excludeBatchFromHistory = true)
      .withColumn("batch_no", lit(2))
    // pin the small verdict result eagerly; the scope then releases
    // the corpus-sized decoded-feature frame (the q118 discipline)
    Pin(p1.unionByName(p2)
      .select("batch_no", "vec_id", "cid", "dup_of", "kept")
      .orderBy("batch_no", "vec_id"), s"modalMaintenance.$featCol.verdicts")
  }

  /** [[modalMaintenanceLoop]]'s oracle text: the modality's feature
    * CTEs (`featureCtes` defining `featFrom(doc_id, v)`), the ingest
    * bucketing, the SAME unrolled Lloyd generator over the history
    * slice at the modality's dims, and the SAME admitted-history tail
    * text as q116 ([[maintTailCtes]] — the admission semantics cannot
    * drift between the embedding, image, audio, and video
    * modalities).
    */
  private def modalMaintOracle(featureCtes: String, featFrom: String,
      dims: Int): String =
    "WITH " + featureCtes + ",\n" +
      s"e AS (SELECT doc_id AS vec_id, v AS qv FROM $featFrom),\n" +
      """bk AS (SELECT doc_id AS vec_id,
        |         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INT) AS bucket
        |       FROM documents),
        |eh AS (SELECT e.vec_id, e.qv FROM e JOIN bk USING (vec_id)
        |       WHERE bk.bucket < 200),
        |""".stripMargin +
      lloydIterCtes("eh", dims) + ",\n" + afCte(dims) + ",\n" +
      maintTailCtes(dims,
        "ev AS (SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS v FROM e)")

  /** The ANN-probe oracle tail (q117's from `nv` down,
    * dims-parameterized): queries = vec_id < 8, cells ranked by exact
    * integer distance to the learned c2 (nprobe 2), candidates from
    * the probed cells, exact-cosine top-3. ONE text for q117
    * (embeddings, dims=64) and q132 (image features, dims=24) so the
    * probe semantics cannot drift between the modalities. Requires
    * `e` (vec_id, integer qv) and `ev` (vec_id, double v) in scope.
    */
  private def annOracleTail(dims: Int): String =
    s"""
      |, nv AS (SELECT vec_id, v,
      |         sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM ev),
      |qs AS (SELECT nv.vec_id AS q_id, nv.v AS qv, nv.nrm AS qn, e.qv AS qq
      |       FROM nv JOIN e USING (vec_id) WHERE vec_id < 8),
      |pc AS (SELECT q_id, qv, qn, cid FROM (
      |        SELECT qs.q_id, qs.qv, qs.qn, c.cid,
      |          row_number() OVER (PARTITION BY qs.q_id ORDER BY
      |            list_sum(list_transform(generate_series(1, $dims),
      |              i -> (qs.qq[i]-c.cv[i])*(qs.qq[i]-c.cv[i]))), c.cid) AS rk
      |        FROM qs CROSS JOIN c2 c) t WHERE rk <= 2),
      |asgv AS (SELECT af.vec_id, af.cid, nv.v, nv.nrm
      |         FROM af JOIN nv USING (vec_id)),
      |cand AS (SELECT p.q_id, a.vec_id AS n_id,
      |    list_sum(list_transform(generate_series(1, $dims),
      |      i -> p.qv[i]*a.v[i]))/(p.qn*a.nrm) AS cos
      |  FROM pc p JOIN asgv a ON a.cid = p.cid AND a.vec_id <> p.q_id)
      |SELECT q_id, rank, n_id, cos FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id
      |    ORDER BY cos DESC, n_id) AS rank FROM cand) t
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** q104/q113's shared oracle: Lloyd unrolled + within-cell prune. */
  private def pruneTail(evCte: String, dims: Int): String =
    s"""
      |, $evCte,
      |nv AS (SELECT vec_id, v,
      |         sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM ev),
      |asg AS (SELECT af.vec_id, af.cid, nv.v, nv.nrm
      |        FROM af JOIN nv USING (vec_id)),
      |rem AS (SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
      |        FROM asg a JOIN asg b
      |          ON a.cid = b.cid AND a.vec_id < b.vec_id
      |        WHERE list_sum(list_transform(generate_series(1, $dims),
      |                i -> a.v[i]*b.v[i])) / (a.nrm*b.nrm) >= 0.3
      |        GROUP BY 1)
      |SELECT g.vec_id, g.cid, r.dup_of, r.dup_of IS NULL AS kept
      |FROM asg g LEFT JOIN rem r ON r.vec_id = g.vec_id
      |ORDER BY g.vec_id""".stripMargin

  /** q117's probe over the FROZEN persisted cells — top-`k` neighbors
    * per query row from the bucketed assignment index. `q` must carry
    * (q_id, qv double[], qn, qq long[]). The probe ranks cells against
    * the broadcast K-row centroid sidecar by EXACT integer distance
    * (ties on cid), collects the probed cell ids (bounded, ≤ Q·nprobe —
    * the q110 dimension-collect rule) and pushes them as an IN filter
    * on the bucket column so the candidate scan is BUCKET-PRUNED
    * (SelectedBucketsCount < NumBuckets, spec-pinned), then reranks by
    * the exact left-fold cosine with (cos DESC, n_id) ties. Shared
    * VERBATIM by q117 and [[graft.streaming.AnnServeSink]] — batch
    * serving and the query stream cannot drift (the
    * [[ClusterIndex.probeVerdicts]] discipline at the retrieval layer).
    * A query whose q_id equals a corpus vec_id skips itself.
    */
  private[graft] def annProbeFrom(s: SparkSession, indexName: String,
      cents: DataFrame, q: DataFrame, nprobe: Int = 2,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idx = s.table(indexName)
    val d2 = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, x) => acc + x)
    val dot = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x)
    val wq = Window.partitionBy("q_id").orderBy(col("d"), col("cid"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("d", d2(col("qq"), col("cv")))
      .withColumn("crank", row_number().over(wq))
      .filter(col("crank") <= nprobe)
      .select("q_id", "qv", "qn", "cid")
    val cellIds = probes.select("cid").distinct()
      .collect().map(_.getLong(0)).sorted
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    idx.filter(col("cid").isInCollection(cellIds))
      .join(broadcast(probes), Seq("cid"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .select(col("q_id"), col("vec_id").as("n_id"), col("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("q_id", "rank", "n_id", "cos")
  }

  /** A raw (q_id, embedding) frame lifted to [[annProbeFrom]]'s query
    * shape — the same double cast, norm fold, and micro-unit
    * quantization the index build applies ([[qvecs]]'s rule), so an
    * external query vector and a corpus vector of equal value probe
    * identically. Shared by [[graft.streaming.AnnServeSink]].
    */
  private[graft] def annQueriesOf(batch: DataFrame): DataFrame =
    batch.select(col("q_id"),
        transform(col("embedding"), x => x.cast("double")).as("qv"))
      .withColumn("qn", sqrt(aggregate(
        transform(col("qv"), x => x * x), lit(0.0), (a, x) => a + x)))
      .withColumn("qq", transform(col("qv"),
        x => round(x * lit(1000000.0)).cast("long")))

  /** q114's bounded deterministic training sample (pr, smp) over the
    * quantized corpus CTE `e` — the md5-priority bottom-[[SampleK]]
    * window. ONE text for q114 (embeddings) and q121 (image features),
    * so the sampling rule cannot drift between the modalities.
    */
  private[operators] def sampleCtes: String =
    s"""pr AS (SELECT vec_id,
       |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#1'), 1, 15)
       |      AS BIGINT) AS priority FROM e),
       |smp AS (SELECT vec_id, qv FROM (
       |    SELECT e.vec_id, e.qv,
       |      row_number() OVER (ORDER BY pr.priority, e.vec_id) AS rk
       |    FROM e JOIN pr USING (vec_id)) t WHERE rk <= $SampleK)""".stripMargin

  private val SemDedupOracle: String =
    LloydCtes + pruneTail(
      "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
      64)

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "q101_kmeans_cells",
      // qvecs pinned once (the assignmentArtifacts rule): the Lloyd
      // chain's 5 serial consumers + the final assign otherwise each
      // re-run the scan+quantize subtree
      (s, dir) => lloyd(Pin(qvecs(s, dir), "q101:qvecs"), K, Iters)
        .orderBy("vec_id"),
      Some(LloydCtes +
        "\nSELECT vec_id, cid, dist2 FROM af ORDER BY vec_id")),

    /* Cluster-balanced uniform sample: k=10 vectors per q101 cell via
     * the q97 bottom-k order machinery at weight 1 (one md5 replica per
     * vec_id) — the deterministic form of cluster-proportional eval-set
     * drawing (every cell contributes equally regardless of size).
     * Scale shape: the only addition over q101 is a window partitioned
     * by cid with k small and cells balanced BY the clustering itself,
     * so the top-k shuffle is keyed on cid and each group ranks at most
     * its own cell. Shares q101's Lloyd CTEs in the oracle so the two
     * queries cannot drift.
     */
    QueryDef(
      "q102_cluster_balanced_sample",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // qvecs pinned once (the assignmentArtifacts rule)
        val asg = lloyd(Pin(qvecs(s, dir), "q102:qvecs"), K, Iters)
          .select(col("vec_id"), col("cid"))
          .withColumn("priority",
            SketchExact.priorityCol(col("vec_id"), lit(1)))
        val w = Window.partitionBy("cid")
          .orderBy(col("priority"), col("vec_id"))
        asg.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10)
          .select("cid", "rk", "vec_id", "priority")
          .orderBy("cid", "rk")
      },
      Some(LloydCtes + """
        |, pr AS (SELECT vec_id, cid,
        |    CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#1'), 1, 15)
        |      AS BIGINT) AS priority FROM af)
        |SELECT cid, rk, vec_id, priority FROM (
        |  SELECT cid, vec_id, priority, row_number() OVER (
        |    PARTITION BY cid ORDER BY priority, vec_id) AS rk FROM pr) t
        |WHERE rk <= 10 ORDER BY cid, rk""".stripMargin)),

    /* SemDeDup over LEARNED cells: q89's within-cell near-duplicate
     * prune (one-shot keep-first at cosine >= 0.3), but the cells come
     * from q101's Lloyd assignment instead of q42's fixed centroid
     * frame — the full Abbas et al. 2023 recipe is now in-engine end
     * to end: learn cells from the data (q101), prune within cells
     * (q104), draw the balanced sample (q102). Scale shape matches
     * q89's: the quadratic regime is confined within a cell, and the
     * production knob is cell COUNT ∝ corpus (cell size bounded), so
     * the within-cell renamed-projection self-join shuffles once on
     * cid and never crosses cells. The oracle prepends q101's Lloyd
     * CTEs, so the hash pins the learned cells AND the prune decisions
     * through one value — a drifted centroid flips cell membership,
     * pair candidacy, and the final rows.
     */
    QueryDef(
      "q104_semdedup_cells",
      // the assignment frame is pinned because semdedupFrom consumes
      // it THREE times (both sides of the within-cell self-join + the
      // final join-back); lazy, each consumer re-ran the whole
      // assign-join subtree — Lloyd assignment crossJoin + groupBy +
      // the full-precision vector join (the q113 comparison: the
      // persisted form reads a bucketed table 3x instead, exchange-
      // free by layout; the in-query form earns the same by pinning)
      (s, dir) => semdedupFrom(
        Pin(assignmentWithVectors(s, dir), "q104:assignment")),
      Some(SemDedupOracle)),

    /* SemDeDup's PRODUCTION form: the same within-cell prune, but the
     * Lloyd assignment comes from the persisted [[ClusterIndex]] — a
     * (vec_id, cid, v, nrm) table bucketed by cid under _GRAFT_FP
     * freshness — instead of being re-learned in-query.
     * profile_q104.json attributed 66% of q104 to the in-query Lloyd
     * chain; here that cost is paid once per embedding-corpus
     * generation ([[ClusterIndex.ensure]]) and the serving run starts
     * at the within-cell join. Because the table is bucketed on cid —
     * the pair join's key — BOTH sides of the self-join read the
     * bucketed scan with no exchange (ClusterIndexSpec pins the plan).
     * Shares q104's oracle string verbatim: the q91 ≡ q88
     * materialization-not-semantics gate — if the persisted assignment
     * ever drifted from the in-query chain, the value hash flips.
     */
    QueryDef(
      "q113_semdedup_indexed",
      (s, dir) => semdedupFrom(s.table(ClusterIndex.ensure(s, dir))),
      Some(SemDedupOracle)),

    /* SAMPLE-trained k-means — the missing half of the cell-count-knob
     * story. q101's Lloyd revisits every vector per iteration, so
     * learning K ∝ corpus cells that way costs O(K·corpus·iters) —
     * quadratic in replication when corpus and K grow together. The
     * production recipe (what faiss-style trainers and the SemDeDup
     * pipeline of Abbas et al. 2023 actually run) trains on a BOUNDED
     * deterministic sample and broadcast-assigns the full corpus once:
     *   - sample: bottom-[[SampleK]] vectors by the q97/q102 integer
     *     md5 priority — deterministic, cross-engine, and a map-side
     *     TakeOrderedAndProject top-k, never a global sort;
     *   - Lloyd on the sample: every iteration touches [[SampleK]]
     *     rows, so learning cost is corpus-INDEPENDENT (and K could
     *     scale with the corpus without the q101 iteration cost
     *     following it);
     *   - assignment: one broadcast map-side pass over the corpus
     *     (min-struct fold, the q101 shape) — the only corpus-linear
     *     stage.
     * The oracle re-derives the sample (priority window), runs the
     * SAME unrolled Lloyd chain generator over `smp` that q101 runs
     * over `e` (one generator — the iteration algebra cannot drift),
     * and assigns the full corpus; the hash pins sample membership,
     * every intermediate centroid, and all assignments in one value.
     */
    QueryDef(
      "q114_sample_kmeans",
      (s, dir) => {
        val q = qvecs(s, dir)
        // bounded state (SampleK rows), consumed by the seed select
        // and every iteration's assign+update
        val smp = Pin(q
          .withColumn("priority", SketchExact.priorityCol(col("vec_id"), lit(1)))
          .orderBy("priority", "vec_id").limit(SampleK)
          .select("vec_id", "qv"), "q114:sample")
        assign(q, lloydCentroids(smp, K, Iters)).orderBy("vec_id")
      },
      Some(ECte + ",\n" + sampleCtes + ",\n" +
        lloydIterCtes("smp") + ",\n" + afCte() +
        "\nSELECT vec_id, cid, dist2 FROM af ORDER BY vec_id")),

    /* Cluster-assignment-index MAINTENANCE loop — q112's proof
     * structure (q87/q92's before it) at the VECTOR layer, certifying
     * the path [[graft.streaming.ClusterIndexSink]] runs per
     * micro-batch: freeze centroids learned on HISTORY (the
     * generation's curated artifact — Lloyd on the history slice),
     * build the bucketed assignment index over history
     * ([[ClusterIndex.buildIndexFrame]]), probe ingest batch 1 for
     * within-cell duplicates (admitted-history leg + within-batch
     * keep-first leg — [[ClusterIndex.probeVerdicts]], the sink's
     * EXACT code), APPEND the admitted representatives
     * ([[ClusterIndex.append]]), then probe batch 2 against the grown
     * index. The DuckDB oracle recomputes each phase monolithically:
     * phase 2's admissible partner set = history ∪ phase 1's kept rows
     * EXACTLY because batch 1's admitted vectors were appended — so
     * the hash gate proves the append path (bucket layout, frozen-
     * centroid batch assignment, grouped-min verdict reduce), not just
     * a whole-corpus aggregate. History contains every history vector
     * (the from-scratch build indexes the full slice); admission
     * filtering applies from the first INGESTED batch on — the sink's
     * cold-attach semantics.
     */
    QueryDef(
      "q116_cluster_maintenance",
      (s, dir) => Pin.scope {
        // pid-suffixed scratch under the shared index root (q112's
        // discipline): concurrent processes must not interleave
        // delete/saveAsTable on one scratch path
        val name = ClusterIndex.tableNameFor(dir) + "_maint_" +
          ProcessHandle.current().pid()
        val path = java.nio.file.Paths.get(ClusterIndex.indexRoot, name)
        // reclaim dead processes' abandoned scratch trees (q112's rule)
        IndexCommit.purgeAllScratchRoots()
        val base = Tables(s, dir, "embeddings")
          .withColumn("bucket",
            conv(substring(md5(col("vec_id").cast("string")), 1, 2), 16, 10)
              .cast("int"))
        def slice(lo: Int, hi: Int) =
          base.filter(col("bucket") >= lo && col("bucket") < hi)
            .select("vec_id", "embedding")
        val hist = slice(0, 200)
        // frozen learned cells: Lloyd on history only (bounded driver
        // state via lloydCentroids' per-iteration checkpoints). The
        // quantized history is pinned once — the Lloyd chain's 5
        // serial consumers otherwise each re-ran the scan + md5-bucket
        // + quantize subtree (the assignmentArtifacts rule)
        val histQ = Pin(hist.select(col("vec_id"),
            transform(col("embedding"),
              x => round(x.cast("double") * lit(1000000.0)).cast("long"))
              .as("qv")), "q116:history")
        val cents = lloydCentroids(histQ, K, Iters)
        ClusterIndex.buildIndexFrame(s,
          ClusterIndex.assignBatch(hist, cents), name, path)
        val b1 = Pin(ClusterIndex.assignBatch(slice(200, 230), cents),
          "q116:batch1")
        // eagerly pinned BEFORE the append mutates the table (the q112
        // probe discipline); exclusion on, mirroring the sink's replay
        // posture — a no-op on this clean run, spec-proven load-bearing
        val p1 = Pin(ClusterIndex.probeVerdicts(s, name, b1,
            excludeBatchFromHistory = true)
          .withColumn("batch_no", lit(1)), "q116:verdicts1")
        ClusterIndex.append(s, name,
          b1.join(p1.filter(col("kept")).select("vec_id"), "vec_id"))
        // batch 2's assignment is pinned like batch 1's: probeVerdicts
        // consumes its batch frame in FIVE branches (hist-pair join,
        // replay-exclusion broadcast, both sides of the within-batch
        // self-join, final join-back) — lazy, each branch re-ran the
        // scan + broadcast-centroid assignment
        val b2 = Pin(ClusterIndex.assignBatch(slice(230, 256), cents),
          "q116:batch2")
        val p2 = ClusterIndex.probeVerdicts(s, name, b2,
            excludeBatchFromHistory = true)
          .withColumn("batch_no", lit(2))
        // pin the small verdict result eagerly; the scope then releases
        // the batch-sized pins (the q118 discipline)
        Pin(p1.unionByName(p2)
          .select("batch_no", "vec_id", "cid", "dup_of", "kept")
          .orderBy("batch_no", "vec_id"), "q116:verdicts")
      },
      Some(ECte + ",\n" +
        """bk AS (SELECT vec_id,
          |         CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) AS INT) AS bucket
          |       FROM embeddings),
          |eh AS (SELECT e.vec_id, e.qv FROM e JOIN bk USING (vec_id)
          |       WHERE bk.bucket < 200),
          |""".stripMargin +
        lloydIterCtes("eh") + ",\n" + afCte() + ",\n" +
        maintTailCtes(64,
          "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"))),

    /* ANN top-k SERVED from the persisted cluster index — the
     * similarity family's q113: q42 proved the IVF probe shape
     * (nprobe nearest cells, exact cosine rerank) over FIXED centroid
     * rows re-assigned in-query; here the cells are the LEARNED
     * generation artifact. The probe ranks cells against the persisted
     * `_CENTROIDS` sidecar (K rows, broadcast; written by the same
     * build that wrote the assignment, and the oracle re-derives them
     * through q101's unrolled Lloyd CTE text — sidecar drift flips the
     * hash), then reads candidates from ONLY the probed cells' buckets:
     * the nprobe cell ids are a bounded dimension-collect (<= Q·nprobe
     * values) pushed as an IN filter on the bucket column, so the scan
     * is BUCKET-PRUNED (SelectedBucketsCount < NumBuckets, the q91
     * postings discipline — spec-pinned) and a top-k search touches
     * nprobe buckets of the corpus, never the corpus. The only shuffle
     * carries the candidate rows into the per-query rank window.
     * Cell-nearness is EXACT integer distance on the micro-unit
     * vectors (deterministic, ties on cid); the final rerank is the
     * q40/q42 left-fold cosine with (cos DESC, n_id) ordering.
     */
    QueryDef(
      "q117_ann_indexed",
      (s, dir) => {
        val idx = s.table(ClusterIndex.ensure(s, dir))
        val q = idx.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qn"),
            transform(col("v"),
              x => round(x * lit(1000000.0)).cast("long")).as("qq"))
        annProbeFrom(s, ClusterIndex.ensure(s, dir),
          ClusterIndex.centroids(s, dir), q)
          .orderBy("q_id", "rank")
      },
      Some(LloydCtes +
        "\n, ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)" +
        annOracleTail(64))),

    /* IMAGE SemDeDup served from the persisted image ClusterIndex —
     * the multimodal estate composed with the dedup estate (the
     * CLIP-embedding near-dup prune every multimodal pretraining
     * pipeline runs; Abbas et al. 2023 §4 runs exactly this shape over
     * image embeddings). The pieces are all existing machinery joined
     * end to end: q119's REAL decoded features (PPM strict-parse →
     * 24-dim integer channel histogram, [[Clustering.imageFeatures]]),
     * q114's sample-trained cells (bounded md5-priority sample, Lloyd
     * on the sample — learning cost corpus-independent), the persisted
     * bucketed assignment + `_CENTROIDS` sidecar
     * ([[ClusterIndex.ensureImage]] — built once per document-corpus
     * generation), and q104/q113's within-cell keep-first prune
     * ([[semdedupFrom]] verbatim: the self-join rides the cid
     * bucketing with no exchange, ClusterIndexSpec pins the plan).
     * The oracle re-derives the histograms from the CHARACTERS through
     * the minting codec's closed form ([[Multimodal.ImageFeatureCtes]]
     * — the q119 discipline), then runs the SAME sample/Lloyd/prune
     * CTE generators as q114/q104 at dims=24 — decoder drift, sampling
     * drift, iteration drift, and prune drift all flip one hash.
     *
     * Scale adjudication (q104/q113's verbatim): the fixed-K prune is
     * a BENCH, not a curve — with K fixed, cell size tracks the corpus
     * and within-cell pairs are quadratic by design (measured once on
     * rotation replicas: 3.9 → 338 s, 10.9× of linear at ×8, amplified
     * by rotation-identical histograms). The production regime is
     * cells ∝ corpus — curved at the prune layer by q104_semdedup_knob
     * — and the image-SPECIFIC leg, the per-row decode+histogram pass,
     * is curved as q121_image_features.
     */
    QueryDef(
      "q121_image_semdedup",
      (s, dir) => semdedupFrom(s.table(ClusterIndex.ensureImage(s, dir))),
      Some("WITH " + Multimodal.ImageFeatureCtes + ",\n" +
        "e AS (SELECT doc_id AS vec_id, v AS qv FROM f),\n" +
        sampleCtes + ",\n" +
        lloydIterCtes("smp", 24) + ",\n" + afCte(24) +
        pruneTail(
          "ev AS (SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS v FROM e)",
          24))),

    /* IMAGE-cluster-index MAINTENANCE loop — q116's proof structure at
     * the multimodal layer, certifying the path
     * [[graft.streaming.ImageDedupSink]] runs per micro-batch: freeze
     * cells learned on the HISTORY slice's decoded histograms (Lloyd
     * over exact integer features — no quantization step), build the
     * bucketed image assignment index over history, probe ingest
     * batch 1 for within-cell duplicates (admitted-history leg +
     * within-batch keep-first), append ONLY the admitted rows, probe
     * batch 2 — whose history now includes batch 1's representatives.
     * The assignment and probe halves are [[ClusterIndex
     * .assignImageBatch]] / [[ClusterIndex.probeVerdicts]], the exact
     * functions the streaming sink calls, so certifying this loop
     * certifies the sink (the q116 ≡ ClusterIndexSink discipline).
     * The oracle re-derives the histograms from the characters
     * ([[Multimodal.ImageFeatureCtes]]), learns cells through the
     * SAME unrolled Lloyd generator at dims=24, and replays both
     * probes through the SAME admitted-history tail text as q116
     * ([[maintTailCtes]] — the admission semantics cannot drift
     * between the embedding and image modalities). The decode pass is
     * paid ONCE (eager pin) and reused by the cell learning, the
     * index build, and both batch probes.
     */
    QueryDef(
      "q125_image_cluster_maintenance",
      (s, dir) => modalMaintenanceLoop(s, dir,
        imageFeaturesOf(s,
          Tables(s, dir, "documents").select(col("doc_id"), col("text"))),
        "hist", ClusterIndex.tableNameForImage(dir)),
      Some(modalMaintOracle(Multimodal.ImageFeatureCtes, "f", 24))),

    /* AUDIO SemDeDup served from the persisted audio ClusterIndex —
     * q121's composition at the third modality, completing the
     * modality matrix (embeddings q113, images q121, audio q126)
     * through the SAME sample-trained Lloyd recipe
     * ([[sampledArtifacts]] — one body for image and audio, so the
     * modalities cannot drift) and the SAME within-cell keep-first
     * prune ([[semdedupFrom]] verbatim, riding the cid bucketing with
     * no exchange). The feature is q52's REAL WAV decode folded to an
     * 8-frame |sample| energy envelope ([[graft.functions.MediaCodecs
     * .WavCodec.decodeEnvelope]]) — order-SENSITIVE, unlike q119's
     * position-blind histograms: time-reversed audio fingerprints
     * differently (AudioDedupSpec pins exactly that separation). The
     * oracle re-derives the envelope from the CHARACTERS through the
     * minting codec's closed form ([[Multimodal.AudioFeatureCtes]] —
     * |sample| = 32768 − 257·code, frame = ((i−1)·8)//n), then runs
     * the SAME sample/Lloyd/prune CTE generators as q114/q104 at
     * dims=8 — decoder drift, sampling drift, iteration drift, and
     * prune drift all flip one hash.
     *
     * Scale adjudication: q121's verbatim — the fixed-K prune is
     * quadratic by design (the q104/q113 adjudication; production is
     * the cells-∝-corpus knob curved by q104_semdedup_knob), and the
     * audio-SPECIFIC leg, the per-row decode+envelope pass, is the
     * same corpus-linear mapPartitions shape as the curved
     * q121_image_features.
     */
    QueryDef(
      "q126_audio_semdedup",
      (s, dir) => semdedupFrom(s.table(ClusterIndex.ensureAudio(s, dir))),
      Some("WITH " + Multimodal.AudioFeatureCtes + ",\n" +
        "e AS (SELECT doc_id AS vec_id, v AS qv FROM fa),\n" +
        sampleCtes + ",\n" +
        lloydIterCtes("smp", 8) + ",\n" + afCte(8) +
        pruneTail(
          "ev AS (SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS v FROM e)",
          8))),

    /* AUDIO-cluster-index MAINTENANCE loop — [[modalMaintenanceLoop]]
     * at the audio layer, certifying [[graft.streaming.AudioDedupSink]]
     * per micro-batch exactly as q125 certifies ImageDedupSink: ONE
     * shared loop body and ONE shared oracle generator for both
     * modalities (only the feature CTEs and dims differ), so the
     * admission semantics cannot drift between image and audio ingest.
     * Deliberately NOT curved (the q87/q92/q116/q125 adjudication —
     * maintenance cost is the proof; the production serving paths are
     * q126's prune and the knob curves).
     */
    QueryDef(
      "q127_audio_cluster_maintenance",
      (s, dir) => modalMaintenanceLoop(s, dir,
        audioFeaturesOf(s,
          Tables(s, dir, "documents").select(col("doc_id"), col("text"))),
        "env", ClusterIndex.tableNameForAudio(dir)),
      Some(modalMaintOracle(Multimodal.AudioFeatureCtes, "fa", 8))),

    /* VIDEO SemDeDup served from the persisted video ClusterIndex —
     * the FOURTH modality column (embeddings q113, images q121, audio
     * q126, video q129) through the same shared machinery. The
     * video-specific capability is the FEATURE: the GVID container is
     * frame-walked with stride-2 SAMPLING — non-sampled frames are
     * skipped by their declared byte length and NEVER parsed
     * (VideoDedupSpec corrupts the skipped frames to prove it), the
     * production video-ingest pattern where decode cost tracks the
     * sampled frames while the IO walk tracks the container — and
     * each sampled frame contributes its exact per-channel pixel sums
     * (12-dim spatiotemporal vector: temporal across frames, spatial
     * across channels). The oracle re-derives the sums from the
     * characters through the minting container's floor-span rule and
     * the PPM closed form ([[Multimodal.VideoFeatureCtes]]), then
     * runs the SAME sample/Lloyd/prune CTE generators at dims=12.
     * Scale adjudication: q121/q126's verbatim (fixed-K prune
     * quadratic by design; cells ∝ corpus curved by the knob; the
     * corpus-linear decode leg is the q121/q126 feature-leg shape).
     */
    QueryDef(
      "q129_video_semdedup",
      (s, dir) => semdedupFrom(s.table(ClusterIndex.ensureVideo(s, dir))),
      Some("WITH " + Multimodal.VideoFeatureCtes + ",\n" +
        "e AS (SELECT doc_id AS vec_id, v AS qv FROM fv),\n" +
        sampleCtes + ",\n" +
        lloydIterCtes("smp", 12) + ",\n" + afCte(12) +
        pruneTail(
          "ev AS (SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS v FROM e)",
          12))),

    /* VIDEO-cluster-index MAINTENANCE loop — [[modalMaintenanceLoop]]
     * at the fourth modality: ONE loop body and ONE oracle generator
     * with q125/q127, certifying [[graft.streaming.VideoDedupSink]]
     * per micro-batch. Deliberately NOT curved (the maintenance
     * adjudication).
     */
    QueryDef(
      "q130_video_cluster_maintenance",
      (s, dir) => modalMaintenanceLoop(s, dir,
        videoFeaturesOf(s,
          Tables(s, dir, "documents").select(col("doc_id"), col("text"))),
        "vfeat", ClusterIndex.tableNameForVideo(dir)),
      Some(modalMaintOracle(Multimodal.VideoFeatureCtes, "fv", 12))),

    /* IMAGE ANN top-k SERVED from the persisted image ClusterIndex —
     * q117's serving shape at the multimodal layer, the query path of
     * a LAION-style image-similarity service: probe images rank the
     * generation's frozen cells ([[ClusterIndex.centroidsOf]] — the
     * `_CENTROIDS` sidecar EVERY modal build persists, which is what
     * makes the whole ANN serving estate modality-generic), read
     * candidates from ONLY the probed cells' buckets (the bounded
     * cell-id collect pushes an IN filter on the bucket column —
     * BUCKET-PRUNED, the q117/q91 discipline, spec-pinned), exact
     * cosine top-3 rerank. [[annProbeFrom]] is shared VERBATIM with
     * q117 and the streaming AnnServeSink; the oracle is q117's tail
     * generator at dims=24 over the image feature CTEs — probe drift
     * between the modalities flips one hash. Image histogram counts
     * are exact integers, so `qq` is a lossless long cast (no
     * micro-unit quantization step).
     */
    QueryDef(
      "q132_image_ann_indexed",
      (s, dir) => {
        val name = ClusterIndex.ensureImage(s, dir)
        val q = s.table(name).filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("v").as("qv"),
            col("nrm").as("qn"),
            transform(col("v"), x => x.cast("long")).as("qq"))
        annProbeFrom(s, name, ClusterIndex.centroidsOf(s, name), q)
          .orderBy("q_id", "rank")
      },
      Some("WITH " + Multimodal.ImageFeatureCtes + ",\n" +
        "e AS (SELECT doc_id AS vec_id, v AS qv FROM f),\n" +
        sampleCtes + ",\n" +
        lloydIterCtes("smp", 24) + ",\n" + afCte(24) +
        "\n, ev AS (SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS v FROM e)" +
        annOracleTail(24))),

    /* QUARANTINED SemDeDup — q135's bad-record policy composed INTO a
     * curation decision, under one hash: image attachments arrive
     * deliberately corrupted ([[Multimodal.mintWide]]'s poison rule,
     * image corrupt iff doc_id % 7 = 3), the decode leg diverts them
     * through [[graft.functions.MediaCodecs.quarantining]], and the
     * WHOLE downstream estate — the bounded training sample, the
     * Lloyd cells, the assignment, the within-cell prune — is built
     * over the HEALTHY features only (q121's sample-trained recipe on
     * the surviving corpus, the shape a 100-TB scraped-media index
     * build actually has). One row per attachment-bearing doc:
     * quarantined + the decoder's reason, or the prune verdict
     * (cid/dup_of/kept). The oracle knows the corrupt ids by
     * construction and re-learns the cells over exactly the healthy
     * set through the SAME CTE generators (sample/Lloyd/assign at
     * dims=24) — if a quarantined row leaked into the sample, the
     * Lloyd iterations, or the pair join, the centroids (and so every
     * cid and dup_of) would shift and the hash would flip: the
     * quarantine boundary is load-bearing in the learned geometry,
     * not just in the row count.
     */
    QueryDef(
      "q136_quarantined_semdedup",
      (s, dir) => Pin.scope {
        import s.implicits._
        val safe = graft.functions.MediaCodecs.quarantining(
          (b: Array[Byte]) =>
            graft.functions.MediaCodecs.PpmCodec.decodeHistogram(b))
        val dec = Pin(Multimodal.mintWide(s, Tables(s, dir, "documents"),
            corrupt = true)
          .flatMap { r =>
            r.image.map { b =>
              val x = safe(b)
              (r.doc_id, x.toOption, x.left.toOption)
            }
          }
          .toDF("vec_id", "hist", "reason"), "q136:decode")
        val healthy = dec.filter(col("reason").isNull)
          .select("vec_id", "hist")
        // the assignment frame is pinned for semdedupFrom's three
        // consumers (the q104 rule)
        val full = Pin(sampledArtifacts(healthy, "hist")._2, "q136:assignment")
        val verd = semdedupFrom(full)
          .select(col("vec_id"), col("cid"), col("dup_of"), col("kept"))
        Pin(dec
          .select(col("vec_id"), col("reason").isNotNull.as("quarantined"),
            col("reason"))
          .join(verd, Seq("vec_id"), "left")
          .select(col("vec_id"), col("quarantined"), col("reason"),
            col("cid"), col("dup_of"), col("kept"))
          .orderBy("vec_id"), "q136:verdicts")
      },
      Some("WITH " + Multimodal.ImageFeatureCtes + ",\n" +
        "e AS (SELECT doc_id AS vec_id, v AS qv FROM f\n" +
        "      WHERE doc_id % 3 = 0 AND doc_id % 7 <> 3),\n" +
        sampleCtes + ",\n" +
        lloydIterCtes("smp", 24) + ",\n" + afCte(24) + """,
          |ev AS (SELECT vec_id, list_transform(qv, x -> CAST(x AS DOUBLE)) AS v
          |       FROM e),
          |nv AS (SELECT vec_id, v,
          |         sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM ev),
          |asg AS (SELECT af.vec_id, af.cid, nv.v, nv.nrm
          |        FROM af JOIN nv USING (vec_id)),
          |rem AS (SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
          |        FROM asg a JOIN asg b
          |          ON a.cid = b.cid AND a.vec_id < b.vec_id
          |        WHERE list_sum(list_transform(generate_series(1, 24),
          |                i -> a.v[i]*b.v[i])) / (a.nrm*b.nrm) >= 0.3
          |        GROUP BY 1),
          |allatt AS (SELECT doc_id AS vec_id FROM documents
          |           WHERE doc_id % 3 = 0)
          |SELECT a.vec_id,
          |  a.vec_id % 7 = 3 AS quarantined,
          |  CASE WHEN a.vec_id % 7 = 3
          |    THEN 'PPM: bad magic (want P6) at byte 0' END AS reason,
          |  g.cid, r.dup_of,
          |  CASE WHEN a.vec_id % 7 <> 3 THEN r.dup_of IS NULL END AS kept
          |FROM allatt a
          |LEFT JOIN asg g ON g.vec_id = a.vec_id
          |LEFT JOIN rem r ON r.vec_id = a.vec_id
          |ORDER BY a.vec_id""".stripMargin))
  )
}
