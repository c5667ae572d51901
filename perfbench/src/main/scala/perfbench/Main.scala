package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Benchmark entry point: runs one workload in this JVM and prints, as the
  * last line of standard output, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`. See perfbench/README.md.
  *
  * Arguments: --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <scratch dir> [--tree <source digest>] */
object Main {
  /** Timed operations a run makes at least, however long they take. */
  val MinOps = 3
  /** The share of the whole pipeline's task CPU the traced layers may miss
    * or add before the trace no longer describes the program. */
  val TraceCpuBound = 0.25

  final case class OpRec(wallS: Double, stats: SpanStats, startMs: Long, endMs: Long,
                         liveBlocks: Int, heapAfterGcMb: Double, outcome: Outcome)

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    // host controls, read before the workload starts
    val cpuMops = graft.HwControls.cpuOps(cores, 250) / 1e6
    val memGBps = graft.HwControls.memGBps(cores, 250)
    val w = Workload(opt("workload"), seed, opt("work"))
    val (spark, sessionS) = timed(w.session(cores))
    val rec = new Recorder(spark.sparkContext)
    println(Json.obj(Seq("host" -> Json.obj(Seq(
      "workload" -> Json.str(w.name), "seed" -> seed.toString,
      "nproc" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark" -> Json.str(spark.version), "java" -> Json.str(sys.props("java.version")),
      "tree" -> Json.str(opt.getOrElse("tree", "unknown")),
      "cpu_mops" -> Json.num(cpuMops), "mem_gbps" -> Json.num(memGBps))))))

    try {
      val setUpS = (0 until w.setUps).map(rep => timed(w.setUp(spark, rep))._2)
      System.err.println(s"[perfbench] set-up: ${setUpS.map(s => f"$s%.2f").mkString(" ")} s")
      val (_, warmS) = timed { w.warmUp(spark); Workload.purge(spark) }
      System.err.println(f"[perfbench] warm-up: $warmS%.2f s")
      val ops = scala.collection.mutable.ArrayBuffer[OpRec]()
      val deadline = System.nanoTime() + seconds * 1000000000L
      while (ops.size < MinOps || System.nanoTime() < deadline) {
        val r = runOp(spark, rec, w)
        // every operation must reproduce the first one's output exactly
        val ok = r.outcome.ok && r.outcome.hash == ops.headOption.getOrElse(r).outcome.hash
        System.err.println(f"[perfbench] ${w.name} op ${ops.size}: ${r.wallS}%.3f s, " +
          f"task cpu ${r.stats.taskCpuS}%.2f s, jobs ${r.stats.jobs}, ok $ok, ${r.outcome.detail}")
        ops += r.copy(outcome = r.outcome.copy(ok = ok))
      }
      val failed = ops.count(!_.outcome.ok)
      // numbers cover every operation that returned, including those that
      // failed their output check: `failed` and `correct` report those
      val done = ops.filterNot(_.wallS.isNaN)
      def med(f: OpRec => Double): Double =
        if (done.isEmpty) Double.NaN else Stats.median(done.map(f).toSeq)

      val (metrics, traceOk) =
        if (!trace) (Seq(
          "setup_s" -> (Stats.median(setUpS), "s"),
          "op_s.p50" -> (med(_.wallS), "s"),
          "task_cpu_s.p50" -> (med(_.stats.taskCpuS), "s"),
          "recall" -> (med(_.outcome.recall), "ratio"),
          "precision" -> (med(_.outcome.precision), "ratio")), true)
        else {
          val (layerMetrics, ok) = traced(spark, rec, w)
          val jobWalls = done.flatMap(_.stats.jobIntervals.map { case (s, e) => (e - s) / 1e3 })
          val tail = Stats.tail(jobWalls.toSeq)
          (Seq(
            "op.wall_s" -> (med(_.wallS), "s"),
            "op.jobs" -> (med(_.stats.jobs.toDouble), "count"),
            "op.task_cpu_s" -> (med(_.stats.taskCpuS), "s"),
            "op.gc_s" -> (med(_.stats.gcS), "s"),
            "op.shuffle_write_mb" -> (med(_.stats.shuffleWriteMb), "MB"),
            "op.spill_mb" -> (med(_.stats.spillMb), "MB"),
            "op.peak_exec_mem_mb" -> (med(_.stats.peakExecMb), "MB"),
            "op.no_job_s" -> (med(r => Stats.uncovered(r.startMs, r.endMs,
              r.stats.jobIntervals) / 1e3), "s"),
            "op.live_blocks_after" -> (med(_.liveBlocks.toDouble), "count"),
            "op.job_s.p50" -> (if (jobWalls.isEmpty) Double.NaN
              else Stats.median(jobWalls.toSeq), "s"),
            "op.job_s.tail" -> (tail.map(_._2).getOrElse(Double.NaN), "s"),
            "op.job_s.tail_pct" -> (tail.map(_._1.toDouble).getOrElse(Double.NaN), "%"),
            "op.job_s.samples" -> (jobWalls.size.toDouble, "count"),
            "jvm.heap_after_gc_mb" -> (med(_.heapAfterGcMb), "MB"),
            "setup.session_s" -> (sessionS, "s"),
            "setup.warmup_s" -> (warmS, "s"),
            "host.cpu_mops" -> (cpuMops, "Mops"),
            "host.mem_gbps" -> (memGBps, "GB/s")) ++ layerMetrics, ok)
        }
      val correct = failed == 0 && traceOk && metrics.forall(!_._2._1.isNaN)
      println(Json.obj(Seq(
        "correct" -> correct.toString,
        "attempted" -> ops.size.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }))))
    } finally spark.stop()
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The largest heap in use right after a garbage collection since the
    * last reset: what an operation holds plus old-generation garbage not yet
    * collected, without the young generation the collector sizes freely. */
  object HeapAfterGc {
    private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala
              .map(_.getUsed).sum
            peak.accumulateAndGet(used, math.max)
          }
        }, null, null)
      case _ =>
    }
    def reset(): Unit = peak.set(0L)
    def peakMb: Double = peak.get / 1048576.0
  }

  /** One closed-loop step: prepare, the timed operation under the `op` span,
    * then the untimed output check and storage purge. A throw counts as a
    * failed operation. */
  def runOp(spark: org.apache.spark.sql.SparkSession, rec: Recorder, w: Workload): OpRec = {
    w.prepare(spark)
    rec.clear()
    HeapAfterGc.reset()
    val t0 = System.currentTimeMillis()
    val attempt = Try(rec.span("op")(w.op(spark))._2)
    val t1 = System.currentTimeMillis()
    val heap = HeapAfterGc.peakMb
    val stats = rec.take("op")
    val live = spark.sparkContext.getPersistentRDDs.size
    val outcome = attempt.flatMap(_ => Try(w.check(spark))).recover { case e =>
      Outcome(ok = false, 0L, 0.0, 0.0, s"failed: $e") }.get
    Workload.purge(spark)
    OpRec(attempt.getOrElse(Double.NaN), stats, t0, t1, live, heap, outcome)
  }

  /** The per-layer numbers: one real `DedupPipeline.run` over the workload's
    * corpus, then the same pipeline decomposed into its layers. The trace is
    * consistent when both reach the same pairs and clusters and the layers'
    * task CPU adds up to the whole run's. */
  def traced(spark: org.apache.spark.sql.SparkSession, rec: Recorder,
             w: Workload): (Seq[(String, (Double, String))], Boolean) = {
    val clips = w.corpus(spark)
    rec.clear()
    val t0 = System.currentTimeMillis()
    val (res, wallS) = rec.span("pipeline") {
      val r = graft.pipeline.DedupPipeline.run(spark, clips, Workload.cfg)
      r.clusters.count()
      r
    }
    val t1 = System.currentTimeMillis()
    val whole = rec.take("pipeline")
    val refPairs = res.dupPairs.count()
    val refClusters = res.clusters.select("node", "component").collect()
      .map(r => Seq(String.valueOf(r.get(0)), String.valueOf(r.get(1)))).toSeq
    Workload.purge(spark)

    val d = Decompose.run(spark, rec, w.corpus(spark), Workload.cfg)
    Workload.purge(spark)
    val spanCpu = d.layers.values.map(_.stats.taskCpuS).sum
    val spanWall = d.layers.values.map(_.wallS).sum
    val cpuShare = spanCpu / whole.taskCpuS
    val consistent = d.dupPairs == refPairs &&
      Stats.rowHash(d.clusters) == Stats.rowHash(refClusters) &&
      math.abs(cpuShare - 1.0) <= TraceCpuBound
    System.err.println(f"[perfbench] trace: pairs ${d.dupPairs} vs $refPairs, " +
      f"clusters ${d.clusters.size} vs ${refClusters.size}, cpu share $cpuShare%.3f, " +
      s"consistent $consistent")
    val layers = Decompose.Spans.flatMap { s =>
      val l = d.layers(s)
      Seq(
        s"$s.wall_s" -> (l.wallS, "s"),
        s"$s.task_cpu_s" -> (l.stats.taskCpuS, "s"),
        s"$s.gc_s" -> (l.stats.gcS, "s"),
        s"$s.jobs" -> (l.stats.jobs.toDouble, "count"),
        s"$s.shuffle_write_mb" -> (l.stats.shuffleWriteMb, "MB"),
        s"$s.spill_mb" -> (l.stats.spillMb, "MB"),
        s"$s.rows_out" -> (l.rowsOut.toDouble, "count")) ++
        (if (Decompose.Filters.contains(s))
          Seq(s"$s.pass_ratio" -> (if (l.rowsIn > 0) l.rowsOut.toDouble / l.rowsIn else 0.0,
            "ratio"))
        else Nil)
    }
    (Seq(
      "pipeline.wall_s" -> (wallS, "s"),
      "pipeline.jobs" -> (whole.jobs.toDouble, "count"),
      "pipeline.task_cpu_s" -> (whole.taskCpuS, "s"),
      "pipeline.gc_s" -> (whole.gcS, "s"),
      "pipeline.shuffle_write_mb" -> (whole.shuffleWriteMb, "MB"),
      "pipeline.spill_mb" -> (whole.spillMb, "MB"),
      "pipeline.peak_exec_mem_mb" -> (whole.peakExecMb, "MB"),
      "pipeline.no_job_s" -> (Stats.uncovered(t0, t1, whole.jobIntervals) / 1e3, "s"),
      "pipeline.dup_pairs" -> (refPairs.toDouble, "count"),
      "trace.overhead_pct" -> (100.0 * (spanWall - wallS) / wallS, "%"),
      "trace.cpu_share" -> (cpuShare, "ratio"),
      "trace.consistent" -> (if (consistent) 1.0 else 0.0, "count")) ++ layers, consistent)
  }
}

/** Just enough JSON for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
