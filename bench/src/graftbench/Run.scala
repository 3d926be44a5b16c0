package graftbench

import java.io.PrintWriter
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.engine.{GraftSession, SessionCache}

/** One benchmark run in a fresh JVM: set up the engine's session,
  * execute the passes listed in `--order` (line 1 is the cold pass,
  * the rest are warm) in a closed loop with one client thread, and
  * write one JSON record per line to `--records`.
  *
  * The engine is driven only through its public surface:
  * `GraftSession.local`, `SparkEntry.queries`, a full materialization
  * of the returned DataFrame, and `SessionCache.sweepBetweenQueries`.
  * Streaming progress is always recorded; with `--trace 1` the
  * listeners in [[Probes]] also record jobs, tasks and Catalyst
  * phases.
  *
  * Arguments (all required): --dir --cpus --order --records
  * --verify --trace. `--verify` names the directory the last pass
  * writes each result to (untimed) for the oracle compare.
  *
  * `--plans <file>` instead writes, for each query named in
  * `--order`, the executed plan of its timed materialization and of
  * `count()`, separated by lines of `=====`; the benchmark's tests
  * read it. */
object Run {

  /** Wall clock in epoch microseconds, monotonic within the run. */
  private val originNs = System.nanoTime()
  private val originUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = originUs + (System.nanoTime() - originNs) / 1000L

  /** The timed sink: the `noop` writer pulls every row and every
    * column of the plan, so nothing the query computes is pruned
    * (unlike `count()`, which lets Catalyst drop unused columns). */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val order = scala.io.Source.fromFile(opt("order")).getLines()
      .map(_.split(",").toSeq.filter(_.nonEmpty)).filter(_.nonEmpty).toSeq
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val s0 = nowUs()
    val spark = GraftSession.local("graft-bench", opt("cpus"))
    val s1 = nowUs()
    opt.get("plans") match {
      case Some(out) => writePlans(spark, opt("dir"), order.flatten.distinct, out)
      case None =>
        val out = new PrintWriter(opt("records"), "UTF-8")
        try {
          out.println(Json.obj("t" -> "setup", "jvm_start_us" -> jvmStartMs * 1000L,
            "session_start_us" -> s0, "session_end_us" -> s1))
          out.println(Json.obj("t" -> "conf", "settings" -> Json.obj(
            spark.conf.getAll.toSeq.sortBy(_._1).filter { case (k, _) =>
              k.startsWith("spark.graft.") || k.startsWith("spark.sql.adaptive.")
            }: _*)))
          order.flatten.distinct.sorted.foreach { q =>
            out.println(Json.obj("t" -> "oracle", "q" -> q, "sql" -> SparkEntry.oracleSql.getOrElse(q, null)))
          }
          val probes = Probes.register(spark, full = opt("trace") == "1")
          passes(spark, opt("dir"), order, opt("verify"), out)
          spark.stop() // drains the listener bus before the probes are read
          probes.records.foreach(out.println)
        } finally out.close()
    }
    if (!spark.sparkContext.isStopped) spark.stop()
  }

  private def passes(spark: SparkSession, dir: String, order: Seq[Seq[String]],
      verifyDir: String, out: PrintWriter): Unit = {
    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported)
    def gcMs(): Long = gcs.map(_.getCollectionTime).sum
    def liveHeapBytes(): Long = heapPools.map(p => Option(p.getCollectionUsage).fold(0L)(_.getUsed)).sum
    def storageBytes(): Long = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    val queries = SparkEntry.queries
    val last = order.size - 1
    order.zipWithIndex.foreach { case (names, pass) =>
      names.foreach { name =>
        val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val jit0 = jit.getTotalCompilationTime
        val gc0 = gcMs()
        val t0 = nowUs()
        var t1, t2 = t0
        var storage = 0L
        var cg1 = -1L
        var error = ""
        try {
          val df = queries(name)(spark, dir)
          t1 = nowUs()
          materialize(df)
          t2 = nowUs()
          cg1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          storage = storageBytes()
          if (pass == last) df.write.mode("overwrite").parquet(s"$verifyDir/$name")
        } catch {
          case NonFatal(e) =>
            if (t1 == t0) t1 = nowUs()
            if (t2 == t0) t2 = nowUs()
            error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
        if (cg1 < 0) cg1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        // untimed on the last pass, between t2 and the sweep: the
        // verification write and a full GC, after which the pools'
        // collection usage is the live heap at the end of the query
        var liveHeap, explicitGcMs = 0L
        if (pass == last) {
          val gcBefore = gcMs()
          System.gc()
          liveHeap = liveHeapBytes()
          explicitGcMs = gcMs() - gcBefore
        }
        val sweepStart = nowUs()
        SessionCache.sweepBetweenQueries(spark)
        val t3 = nowUs()
        out.println(Json.obj("t" -> "exec", "pass" -> pass, "q" -> name,
          "start_us" -> t0, "build_end_us" -> t1, "mat_end_us" -> t2,
          "sweep_start_us" -> sweepStart, "end_us" -> t3, "error" -> error,
          "compiles" -> (cg1 - cg0), "compile_mean_ms" ->
            CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean,
          "jit_ms" -> (jit.getTotalCompilationTime - jit0), "gc_ms" -> (gcMs() - gc0 - explicitGcMs),
          "live_heap_bytes" -> liveHeap, "storage_bytes" -> storage))
        out.flush()
      }
    }
  }

  private def writePlans(spark: SparkSession, dir: String, names: Seq[String], out: String): Unit = {
    val plans = new ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    // listener events arrive asynchronously; wait for the action's own
    def executed(action: => Unit): String = {
      val before = plans.size
      action
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.size == before && System.nanoTime() < deadline) Thread.sleep(10)
      plans.asScala.drop(before).headOption.getOrElse("")
    }
    val w = new PrintWriter(out, "UTF-8")
    try names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      w.println(s"query $name columns ${df.columns.mkString(",")}")
      w.println("sink noop"); w.println(executed(materialize(df))); w.println("=====")
      w.println("sink count"); w.println(executed(df.count())); w.println("=====")
      SessionCache.sweepBetweenQueries(spark)
    } finally w.close()
  }
}
