package perfbench

import graft.SparkUtil.checkpointCut
import graft.config.DedupConfig
import graft.operators.{ConnectedComponents, ContainmentJoin, LshCandidates, PairVerifier}
import graft.pipeline.DedupPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The traced run's view of `DedupPipeline.run`: the same public functions
  * in the same order, each called inside its own span and materialized by an
  * eager cut, so every layer's jobs and task counters are its own. Row
  * counts run outside the spans. Branches the pipeline runs on two driver
  * threads run one after the other here. */
object Decompose {
  val Spans: Seq[String] = Seq("sign", "exact", "lsh", "screen", "verify_audio",
    "verify_text", "containment", "pcm", "glue", "cc")
  /** Spans whose rows out over rows in is the share of candidates kept. */
  val Filters: Seq[String] = Seq("screen", "verify_audio", "verify_text", "pcm")

  final case class Layer(stats: SpanStats, wallS: Double, rowsIn: Long, rowsOut: Long)
  final case class Result(layers: Map[String, Layer], dupPairs: Long,
                          clusters: Seq[Seq[String]])

  def run(spark: SparkSession, rec: Recorder, clips: DataFrame, cfg: DedupConfig): Result = {
    require(!cfg.containmentViaSuffixArray && cfg.stageRoot.isEmpty,
      "the decomposition follows the default containment and stage path")
    val walls = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val rows = scala.collection.mutable.Map[String, (Long, Long)]()
    val frees = scala.collection.mutable.ArrayBuffer[() => Unit]()
    def span[A](name: String)(body: => A): A = {
      val (r, s) = rec.span(name)(body)
      walls(name) += s
      r
    }
    def count(df: DataFrame): Long = rec.span("trace.count")(df.count())._1
    def cut(name: String)(df: => DataFrame): DataFrame = {
      val (d, free) = span(name)(checkpointCut(df))
      frees += free
      d
    }

    val cachedClips = clips.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = span("sign")(DedupPipeline.signatures(spark, cachedClips, cfg)
      .drop("tshingles", "transcript").localCheckpoint(eager = true))
    rows("sign") = (-1L, count(sigs))

    val exactPairs = cut("exact")(DedupPipeline.exactEdges(sigs))
    rows("exact") = (-1L, count(exactPairs))

    val repIds = cut("glue")(sigs.groupBy(col("sha"), col("tHashExact"))
      .agg(min(col("clip_id")).as("clip_id")).select("clip_id"))
    val repSigs = sigs.join(repIds, Seq("clip_id"), "left_semi")

    val cands = span("lsh") {
      val (c0, _, freeBuckets) = LshCandidates.fusedCandidatePairsCut(Seq(
        "text" -> LshCandidates.bandKeysHashed(
          repSigs.filter(col("tsig").isNotNull).select(col("clip_id"), col("tsig").as("sig")),
          "clip_id", cfg.bands, cfg.rowsPerBand),
        "audio" -> LshCandidates.bandKeysHashedGrouped(
          repSigs.filter(col("asig").isNotNull).select(col("clip_id"), col("asig").as("sig")),
          "clip_id", cfg.audioBands, cfg.audioRowsPerBand, cfg.numPerms,
          cfg.audioBandGroupStrides)),
        "clip_id", cfg.maxBucketSize, cfg.lshSaltChunk, cacheBuckets = false)
      val (c, free) = checkpointCut(c0)
      frees += free
      frees += freeBuckets
      c
    }
    rows("lsh") = (-1L, count(cands))
    val tCands = cands.filter(col("modality") === "text").select("a", "b")
    val aCands = cands.filter(col("modality") === "audio").select("a", "b")

    val aPlausible = cut("screen")(PairVerifier.estimateScreen(aCands, sigs, "clip_id",
      "asig", cfg.audioEstimateMin))
    rows("screen") = (count(aCands), count(aPlausible))
    val audioScreened = cut("verify_audio")(PairVerifier.verify(aPlausible, sigs,
      "clip_id", "ashingles", cfg.audioJaccardThreshold, "audio_minhash"))
    rows("verify_audio") = (rows("screen")._2, count(audioScreened))

    val tshFeatures = cachedClips.select(col("clip_id"),
      DedupPipeline.textShingleCol(cfg).as("tshingles"))
    val textPairs = cut("verify_text")(PairVerifier.verify(tCands, tshFeatures,
      "clip_id", "tshingles", cfg.textJaccardThreshold, "text_minhash"))
    rows("verify_text") = (count(tCands), count(textPairs))

    val containPairs = cut("containment")(ContainmentJoin.pairsFromFps(
      repSigs.select(col("clip_id"), explode(col("cfps")).as("fp")),
      cachedClips.select(col("clip_id"), lower(col("transcript")).as("_lt")),
      "clip_id", "_lt", cfg)
      .select(col("a"), col("b"), lit(0.9).as("score"), lit("containment").as("method")))
    rows("containment") = (-1L, count(containPairs))

    val audioPairs = cut("pcm")(PairVerifier.pcmConfirm(audioScreened, cachedClips,
      "clip_id", cfg.pcmCorrMin))
    rows("pcm") = (rows("verify_audio")._2, count(audioPairs))

    val (capped, nKept) = span("glue") {
      val (dupPairs, free) = checkpointCut(exactPairs.unionByName(textPairs)
        .unionByName(containPairs).unionByName(audioPairs).dropDuplicates("a", "b"),
        eager = false)
      frees += free
      val nPairs = dupPairs.count()
      val nKept = if (cfg.maxPairs > 0) math.min(nPairs, cfg.maxPairs) else nPairs
      val capped =
        if (cfg.maxPairs > 0 && nPairs > cfg.maxPairs)
          dupPairs.orderBy(desc("score"), col("a"), col("b"))
            .limit(math.min(cfg.maxPairs, Int.MaxValue.toLong).toInt)
        else dupPairs
      (capped, nKept)
    }
    rows("glue") = (-1L, nKept)

    val clusters = span("cc") {
      val c = ConnectedComponents.clusters(capped, cfg.minClusterSize, nKept)
      c.count()
      c
    }
    val clusterRows = rec.span("trace.count")(
      clusters.select(col("node"), col("component")).collect()
        .map(r => Seq(String.valueOf(r.get(0)), String.valueOf(r.get(1)))).toSeq)._1
    rows("cc") = (-1L, clusterRows.size.toLong)
    cachedClips.unpersist()
    frees.foreach(_.apply())
    rec.take("trace.count")

    val layers = Spans.map { s =>
      val (in, out) = rows(s)
      s -> Layer(rec.take(s), walls(s), in, out)
    }.toMap
    Result(layers, nKept, clusterRows)
  }
}
