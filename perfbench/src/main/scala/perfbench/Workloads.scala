package perfbench

import graft.SparkUtil
import graft.config.DedupConfig
import graft.pipeline.{ClipSearch, DedupPipeline, DedupStore, IncrementalDedup}
import graft.sources.{Clip, ClipCorpus, CorpusConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** What one operation produced, as the output check saw it. */
final case class Outcome(ok: Boolean, hash: Long, recall: Double, precision: Double,
                         detail: String)

/** One workload: how to build its session and inputs, and what one timed
  * operation is. The harness drives it as a closed loop with one client. */
trait Workload {
  def name: String
  def session(cores: Int): SparkSession
  /** Set-up repetitions; `setup_s` is their median. */
  def setUps: Int
  /** Untimed work after set-up, so timed operations run compiled code. */
  def warmUp(spark: SparkSession): Unit
  /** One repetition of the set-up; the last one's inputs are used. */
  def setUp(spark: SparkSession, rep: Int): Unit
  /** Untimed work before each operation. */
  def prepare(spark: SparkSession): Unit = ()
  /** The timed operation. */
  def op(spark: SparkSession): Unit
  /** Untimed: checks the outputs of the last operation. */
  def check(spark: SparkSession): Outcome
  /** The clips the traced run decomposes the pipeline over. */
  def corpus(spark: SparkSession): DataFrame
}

object Workload {
  val cfg: DedupConfig = DedupConfig.default.copy(collectMetrics = false)

  def apply(name: String, seed: Long, work: String): Workload = name match {
    case "floor_1k" => new FloorWorkload(seed)
    case "search" => new SearchWorkload(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Drops every cached relation and storage block, the way
    * `graft.Bench.dedupSeconds` does between runs. */
  def purge(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def materialize(df: DataFrame): DataFrame = {
    val d = df.persist(StorageLevel.MEMORY_AND_DISK)
    d.count()
    d
  }

  /** Co-cluster recall and precision against the planted clusters, as
    * PipelineSpec defines them: golden pairs are same-cluster pairs of
    * planted members; predicted pairs share a component. */
  def coCluster(cc: CorpusConfig, assign: Seq[Seq[String]]): (Double, Double) = {
    def pairs(groups: Iterable[Seq[String]]): Set[(String, String)] =
      groups.flatMap { g =>
        val s = g.sorted
        for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
      }.toSet
    val golden = pairs((0L until cc.n).map(ClipCorpus.golden(cc, _))
      .filter(_.cluster_id >= 0).groupBy(_.cluster_id).values.map(_.map(_.clip_id)))
    val predicted = pairs(assign.groupBy(_(1)).values.map(_.map(_.head)))
    val recall = golden.count(predicted.contains).toDouble / math.max(1, golden.size)
    val precision = 1.0 - predicted.count(p => !golden.contains(p)).toDouble /
      math.max(1, predicted.size)
    (recall, precision)
  }
}

/** `DedupPipeline.run` then `clusters.count()` on a 1k-clip corpus, in the
  * session shape of `graft.Bench`'s probe legs: AQE off, 8 fixed shuffle
  * partitions, no partition coalescing. */
final class FloorWorkload(seed: Long) extends Workload {
  val name = "floor_1k"
  private val cc = CorpusConfig(seed = seed, n = 1000L)
  private var clips: DataFrame = _
  private var clusters: DataFrame = _
  val setUps = 3

  def session(cores: Int): SparkSession =
    SparkUtil.session(cores, "perfbench-floor", aqe = Some(false),
      shufflePartitions = Some(8), aqeCoalesce = Some(false))

  def setUp(spark: SparkSession, rep: Int): Unit = prepare(spark)

  def corpus(spark: SparkSession): DataFrame =
    Workload.materialize(ClipCorpus.clips(spark, cc).toDF())

  // the pipeline unpersists its input when it returns, so every operation
  // starts from a freshly materialized corpus, as in graft.Bench
  override def prepare(spark: SparkSession): Unit = {
    Workload.purge(spark)
    clips = corpus(spark)
  }

  // the first run is 3x slower than a warm one; later runs still speed up,
  // but the run budget leaves room for one
  def warmUp(spark: SparkSession): Unit = {
    prepare(spark)
    op(spark)
  }

  def op(spark: SparkSession): Unit = {
    clusters = DedupPipeline.run(spark, clips, Workload.cfg).clusters
    clusters.count()
  }

  def check(spark: SparkSession): Outcome = {
    val assign = clusters.select(col("node"), col("component")).collect()
      .map(r => Seq(String.valueOf(r.get(0)), String.valueOf(r.get(1)))).toSeq
    val (recall, precision) = Workload.coCluster(cc, assign)
    Outcome(recall >= 0.99 && precision >= 0.97, Stats.rowHash(assign), recall,
      precision, f"recall $recall%.4f precision $precision%.4f")
  }
}

/** `ClipSearch.search` of 50 probes against a 1k-clip `DedupStore` built by
  * `IncrementalDedup.initialize` during set-up. Probes: byte-identical copies
  * of stored clips, planted near-duplicates held out of the store, and fresh
  * clips from another corpus, all with `probe_`-prefixed ids. */
final class SearchWorkload(seed: Long, work: String) extends Workload {
  val name = "search"
  private val cc = CorpusConfig(seed = seed, n = 1000L)
  private val fresh = CorpusConfig(seed = seed ^ 0x5DEECE66DL, n = 1000L)
  private val (identical, heldOut, freshIds) = {
    val r = new ClipCorpus.Rng(seed * 31 + 7)
    val kinds = (0L until cc.n).map(i => i -> ClipCorpus.kindOf(cc.seed, i))
    def pick(pool: Seq[Long], k: Int): Seq[Long] =
      pool.map(i => (r.nextLong(), i)).sortBy(_._1).take(k).map(_._2).sorted
    val held = pick(kinds.collect {
      case (i, k) if Set("near_audio", "near_text", "containment")(k) => i }, 17)
    val ident = pick(kinds.map(_._1).filterNot(held.toSet), 17)
    val fr = pick((0L until fresh.n).filter(i =>
      ClipCorpus.kindOf(fresh.seed, i) == "distractor" && i % 37 != 0), 16)
    (ident, held, fr)
  }
  private var store: DedupStore = _
  private var probes: DataFrame = _
  private var result: Seq[Seq[String]] = Seq.empty

  def session(cores: Int): SparkSession = SparkUtil.session(cores, "perfbench-search")
  // one store build takes 10-13 s warm and twice that cold; two of them are
  // what the run budget allows, and they also run the pipeline code the
  // search shares, so there is no separate warm-up
  val setUps = 2
  def warmUp(spark: SparkSession): Unit = ()

  private def storeClips(spark: SparkSession): DataFrame = {
    val held = heldOut.map(i => f"clip_$i%08d")
    ClipCorpus.clips(spark, cc).toDF().filter(!col("clip_id").isin(held: _*))
  }

  def setUp(spark: SparkSession, rep: Int): Unit = {
    import spark.implicits._
    Workload.purge(spark)
    val root = new java.io.File(work, s"store-$rep")
    Files.delete(root)
    store = new DedupStore(root.getPath)
    IncrementalDedup.initialize(spark, Workload.materialize(storeClips(spark)),
      Workload.cfg, store)
    Workload.purge(spark)
    def probe(c: Clip, prefix: String): Clip = c.copy(clip_id = prefix + c.clip_id)
    probes = ((identical ++ heldOut).map(i => probe(ClipCorpus.genClip(cc, i), "probe_")) ++
      freshIds.map(i => probe(ClipCorpus.genClip(fresh, i), "probe_fresh_"))).toDF()
    (0 until rep).foreach(r => Files.delete(new java.io.File(work, s"store-$r")))
  }

  def corpus(spark: SparkSession): DataFrame = Workload.materialize(storeClips(spark))

  def op(spark: SparkSession): Unit = {
    val res = ClipSearch.search(spark, probes, store, Workload.cfg, k = 10)
    result = res.select("probe_id", "match_id", "score", "method").collect()
      .map(r => (0 until 4).map(i => String.valueOf(r.get(i)))).toSeq
  }

  def check(spark: SparkSession): Outcome = {
    val golden = (0L until cc.n).map(ClipCorpus.golden(cc, _))
    val clusterOf = golden.map(g => g.clip_id -> g.cluster_id).toMap
    def mates(id: String): Set[String] = clusterOf(id) match {
      case -1L => Set(id)
      case c => golden.filter(_.cluster_id == c).map(_.clip_id).toSet
    }
    val byProbe = result.groupBy(_.head)
    val exactOk = identical.forall { i =>
      val id = f"clip_$i%08d"
      byProbe.getOrElse("probe_" + id, Nil).exists(r => r(1) == id && r(2) == "1.0")
    }
    val expected: Map[String, Set[String]] =
      (identical ++ heldOut).map { i =>
        val id = f"clip_$i%08d"
        ("probe_" + id) -> (mates(id) -- heldOut.map(j => f"clip_$j%08d"))
      }.toMap
    val found = heldOut.count { i =>
      val id = f"clip_$i%08d"
      byProbe.getOrElse("probe_" + id, Nil).exists(r => expected("probe_" + id)(r(1)))
    }
    val trueRows = result.count(r => expected.getOrElse(r.head, Set.empty[String])(r(1)))
    val recall = found.toDouble / heldOut.size
    val precision = if (result.isEmpty) 0.0 else trueRows.toDouble / result.size
    Outcome(exactOk, Stats.rowHash(result), recall, precision,
      s"identical probes exact-matched: $exactOk, held-out found $found/${heldOut.size}," +
        s" rows ${result.size}, true $trueRows")
  }
}

object Files {
  def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
