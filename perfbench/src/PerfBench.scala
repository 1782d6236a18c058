package perfbench

import java.lang.management.ManagementFactory
import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicLongArray

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SqlEvents

import graft.SparkEntry
import graft.pipeline._

/** Spark work counted per span. A span is the harness step that launched
  * the work, "<round>/<query>/<phase>", carried to the scheduler as a
  * local property, so attribution needs no timing window and survives
  * the listener bus being asynchronous. With `plans` on, each SQL
  * execution's Catalyst phase time and executed Window operators are
  * added to the span of its first job.
  */
final class Meter(plans: Boolean) extends SparkListener with AdaptiveSparkPlanHelper {
  import Meter._
  private val bySpan = new ConcurrentHashMap[String, AtomicLongArray]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val jobSpan = new ConcurrentHashMap[Int, String]()
  private val execSpan = new ConcurrentHashMap[Long, String]()
  private val drained = new Semaphore(0)

  private def acc(span: String) =
    bySpan.computeIfAbsent(span, _ => new AtomicLongArray(Fields.size))
  private def prop(p: Properties, key: String): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(key)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val sp = prop(e.properties, SpanKey).getOrElse(NoSpan)
    jobSpan.put(e.jobId, sp)
    e.stageIds.foreach(stageSpan.put(_, sp))
    prop(e.properties, "spark.sql.execution.id")
      .foreach(id => execSpan.putIfAbsent(id.toLong, sp))
    acc(sp).incrementAndGet(Jobs)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobSpan.remove(e.jobId) == DrainSpan) drained.release()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    acc(stageSpan.getOrDefault(e.stageInfo.stageId, NoSpan)).incrementAndGet(Stages)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageSpan.getOrDefault(e.stageId, NoSpan))
    a.incrementAndGet(Tasks)
    val m = e.taskMetrics
    if (m != null) {
      a.addAndGet(RunMs, m.executorRunTime)
      a.addAndGet(CpuNs, m.executorCpuTime)
      a.addAndGet(ShuffleRead, m.shuffleReadMetrics.totalBytesRead)
      a.addAndGet(ShuffleWrite, m.shuffleWriteMetrics.bytesWritten)
      a.addAndGet(Spill, m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd if plans =>
      for {
        qe <- SqlEvents.queryExecution(end)
        sp <- Option(execSpan.remove(end.executionId))
      } {
        val a = acc(sp)
        a.addAndGet(PlanMs, qe.tracker.phases.values.map(_.durationMs).sum)
        a.addAndGet(WindowOps, collectWithSubqueries(qe.executedPlan) {
          case p if p.nodeName.startsWith("Window") => 1
        }.size)
      }
    case _ =>
  }

  /** Blocks until every event posted before this call has reached the
    * listener: a marker job's end is delivered after them (one queue,
    * FIFO).
    */
  def drain(s: SparkSession): Unit = {
    s.sparkContext.setLocalProperty(SpanKey, DrainSpan)
    s.sparkContext.parallelize(Seq(1), 1).count()
    require(drained.tryAcquire(120, TimeUnit.SECONDS), "listener bus did not drain")
  }

  def spans: Map[String, Seq[Long]] =
    bySpan.asScala.iterator
      .filter { case (k, _) => k != DrainSpan }
      .map { case (k, a) => k -> Fields.indices.map(a.get) }.toMap
}

object Meter {
  val SpanKey = "perfbench.span"
  val DrainSpan = "drain"
  val NoSpan = "-"
  val Fields = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "plan_ms",
    "window_ops")
  val Jobs = 0; val Stages = 1; val Tasks = 2; val RunMs = 3; val CpuNs = 4
  val ShuffleRead = 5; val ShuffleWrite = 6; val Spill = 7; val PlanMs = 8
  val WindowOps = 9
}

/** The benchmark's JVM side: runs one workload's queries in rounds and
  * writes every raw sample to `<out>/report.json`. `run.py` turns the
  * report into metrics and checks the results against DuckDB.
  *
  * Args: workload dataDir outDir seed seconds trace(0|1) warmups minRounds
  * maxRounds
  */
object PerfBench {

  final case class Workload(queries: Seq[String], releasePerRound: SparkSession => Unit)

  // Query subsets sized so that one run (cold set-up, a warm-up round,
  // two timed rounds) takes 30-45 s, because the benchmark is run 70
  // times within an hour: see README.md for why each query is in.
  val taPanel: Seq[String] = Seq(
    "sma", "ema", "rsi", "macd", "bollinger_bands", "ichimoku", "psar",
    "vwap_distributed", "asof_join", "range_join")

  val corpusCold: Seq[String] = Seq(
    "corpus_filter", "pack_batches", "doc_bigram_logprob",
    "tokenizer_ids", "multimodal_phash_dedup", "ngram_counts")

  val annServe: Seq[String] = Seq(
    "ann_topk", "ann_topk_ivf_trained", "ann_topk_opq_ivfpq",
    "ann_graph_walk", "hybrid_search_rrf", "ann_knn_graph_delete")

  val workloads: Map[String, Workload] = Map(
    "ta_panel" -> Workload(taPanel, _ => ()),
    // every chain computed from the corpus snapshot, as Bench releases
    // between passes: each round pays its builds
    "corpus_cold" -> Workload(corpusCold, s => {
      DedupChain.release(s); IvfChain.release(s); BpeChain.release(s)
      PackChain.release(s); WalkChain.release(s); AHashChain.release(s)
      VideoChain.release(s); BigramChain.release(s); TopKChain.release(s)
    }),
    // trained indexes stay staged from set-up; the per-batch frontiers
    // are rebuilt every round
    "ann_serve" -> Workload(annServe, s => {
      TopKChain.release(s); WalkChain.release(s)
    }))

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def uptimeS(): Double =
    ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Kind of a JVM thread by its kernel name: JIT compiler, GC, the
    * main thread (query construction, Catalyst, codegen, the chain
    * drivers), Spark task threads, and the rest (scheduler, AQE stage
    * and exchange pools, listener bus, RPC).
    */
  private def threadKind(comm: String): String =
    if (comm.contains("CompilerThre")) "jit"
    else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ") ||
      comm == "VM Thread") "gc"
    else if (comm == "java") "main"
    else if (comm.startsWith("Executor task")) "task"
    else "other"

  /** CPU clock ticks (user + system) of every live thread of this JVM,
    * by thread id, from /proc/self/task; empty where that is absent.
    */
  private def threadTicks(): Map[String, (String, Long)] =
    Option(new java.io.File("/proc/self/task").listFiles).toSeq.flatten
      .flatMap { t =>
        try {
          val st = new String(Files.readAllBytes(t.toPath.resolve("stat")))
          val close = st.lastIndexOf(')')
          val f = st.substring(close + 2).split(' ')
          Some(t.getName ->
            (threadKind(st.substring(st.indexOf('(') + 1, close)), f(11).toLong + f(12).toLong))
        } catch { case NonFatal(_) => None }  // the thread ended meanwhile
      }.toMap

  sealed trait Action
  case object Noop extends Action
  final case class Save(dir: String) extends Action

  def main(args: Array[String]): Unit = {
    val Array(wname, dir, out, seedS, secondsS, traceS, warmupsS, minRoundsS,
      maxRoundsS) = args
    val workload = workloads.getOrElse(wname,
      sys.error(s"unknown workload $wname; known: ${workloads.keys.mkString(", ")}"))
    val (seed, seconds, traced) = (seedS.toLong, secondsS.toDouble, traceS == "1")
    val (warmups, minRounds, maxRounds) =
      (warmupsS.toInt, minRoundsS.toInt, maxRoundsS.toInt)
    val fns = workload.queries.map(q => q -> SparkEntry.queries(q)).toMap

    val spark = graft.sources.Sessions.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val meter = new Meter(plans = traced)
    sc.addSparkListener(meter)
    def span(s: String): Unit = sc.setLocalProperty(Meter.SpanKey, s)

    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
    val rng = new scala.util.Random(seed)

    /** One query: construction, then one action that computes every
      * output column.
      */
    def runQuery(round: String, q: String, action: Action): Unit = {
      span(s"$round/$q/construct")
      val bill0 = ChainBill.totalMs
      val t0 = System.nanoTime()
      var t1 = t0
      var gc0 = 0L
      val err =
        try {
          val df = fns(q)(spark, dir)
          t1 = System.nanoTime()
          gc0 = gcMs()
          span(s"$round/$q/exec")
          action match {
            case Noop => df.write.format("noop").mode("overwrite").save()
            case Save(d) => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$q")
          }
          ""
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] $round $q failed: $e")
            String.valueOf(e.getMessage).take(300)
        }
      val t2 = System.nanoTime()
      spark.catalog.clearCache()
      samples += Map("round" -> round, "query" -> q, "ok" -> err.isEmpty,
        "error" -> err, "construct_ms" -> (t1 - t0) / 1e6,
        "exec_ms" -> (if (err.isEmpty) (t2 - t1) / 1e6 else 0.0),
        "gc_ms" -> (if (err.isEmpty) gcMs() - gc0 else 0L),
        "chain_bill_ms" -> (ChainBill.totalMs - bill0))
    }

    def runRound(id: String, kind: String, release: Boolean,
        action: Action): Unit = {
      if (release) { span(s"$id/-/release"); workload.releasePerRound(spark) }
      val order = rng.shuffle(workload.queries)
      val bill0 = ChainBill.snapshot
      val cpu0 = osBean.getProcessCpuTime
      val gc0 = gcMs()
      val ticks0 = if (traced) threadTicks() else Map.empty[String, (String, Long)]
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      order.foreach(runQuery(id, _, action))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
      val gc = gcMs() - gc0
      val bill = ChainBill.snapshot.map { case (k, v) => k -> (v - bill0.getOrElse(k, 0L)) }
        .filter(_._2 > 0)
      var rec = Map[String, Any]("id" -> id, "kind" -> kind, "wall_s" -> wall,
        "cpu_s" -> cpu, "gc_ms" -> gc, "order" -> order, "chain_bill_ms" -> bill)
      if (traced) {
        val rt = Runtime.getRuntime
        val staged = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
        // threads that ended during the round lose their ticks
        val ticks = threadTicks().toSeq
          .map { case (tid, (k, n)) => k -> (n - ticks0.get(tid).fold(0L)(_._2)) }
          .groupMapReduce(_._1)(_._2)(_ + _)
        rec ++= Map("heap_used_mb" -> (rt.totalMemory - rt.freeMemory) / 1048576.0,
          "staged_bytes" -> staged, "thread_ticks" -> ticks,
          "codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0))
      }
      rounds += rec
    }

    /** Harness-timed source reads: one `spark.read.parquet` per fixture
      * table, plus the bars derivation the indicators start from.
      */
    def sourceProbe(id: String): Unit = {
      val tables = new java.io.File(dir).listFiles.map(_.getName)
        .filter(_.endsWith(".parquet")).sorted
      val times = tables.map { t =>
        span(s"$id/${t.stripSuffix(".parquet")}/source")
        val t0 = System.nanoTime()
        spark.read.parquet(s"$dir/$t")
        t.stripSuffix(".parquet") -> (System.nanoTime() - t0) / 1e6
      }.toMap
      val bars = if (wname == "ta_panel") {
        span(s"$id/bars/source")
        val t0 = System.nanoTime()
        graft.sources.Bars.fromEvents(spark, dir)
        Map("bars" -> (System.nanoTime() - t0) / 1e6)
      } else Map.empty[String, Double]
      rounds += Map("id" -> id, "kind" -> "source", "read_ms" -> (times ++ bars))
    }

    // set-up: the first round is cold (first build of every staged
    // chain, trained indexes included); the rest warm the JIT, the last
    // of them on the same released-and-rebuilt path as every timed
    // round. The first and the last write their results for the checks,
    // so the timed rounds run the noop sink alone and no check pass
    // re-executes the queries after them.
    runRound("w1", "warmup", release = false, Save(s"$out/cold"))
    (2 to warmups).foreach(i => runRound(s"w$i", "warmup", release = true,
      if (i == warmups) Save(s"$out/warm") else Noop))
    val setupS = uptimeS()
    val t0 = System.nanoTime()
    var n = 0
    while (n < maxRounds && (n < minRounds || (System.nanoTime() - t0) / 1e9 < seconds)) {
      n += 1
      if (traced) sourceProbe(s"s$n")
      runRound(s"t$n", "timed", release = true, Noop)
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    if (traced) {
      // the staged chains of the last timed round are still held: a
      // round that releases nothing shows what the releases cost
      runRound("x1", "unreleased", release = false, Noop)
    }
    val volume =
      if (wname == "ta_panel") {
        span("c/bars/check")
        Some(graft.sources.Bars.fromEvents(spark, dir)
          .agg(org.apache.spark.sql.functions.sum("volume")).head.getLong(0))
      } else None
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => fns.contains(k) }
    // the OPQ oracles replay the trained rotation, dumped as Verify does
    val opqRot = s"$out/opq_rotation"
    if (oracle.values.exists(_.contains("{OPQROT}"))) {
      span("c/opq/check")
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      IndexStore.saveRotation(spark, IvfChain.opqRotation(spark, dir, e), opqRot)
    }
    meter.drain(spark)
    val spans = meter.spans
    val report = Map[String, Any](
      "workload" -> wname, "seed" -> seed, "setup_s" -> setupS,
      "measured_s" -> measuredS, "queries" -> workload.queries,
      "rounds" -> rounds.toSeq, "samples" -> samples.toSeq,
      "span_fields" -> Meter.Fields, "spans" -> spans,
      "oracle_sql" -> oracle.map { case (k, v) =>
        k -> v.replace("{SFDIR}", dir).replace("{OPQROT}", opqRot) },
      "bars_volume" -> volume,
      "load_avg" -> osBean.getSystemLoadAverage)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(s"$out/report.json"), report)
    Chains.releaseAll(spark)
    spark.stop()
  }
}
