package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's JVM side. It drives the program only through its public
  * entry points — `graft.jobs.EtlJobs.main`, `graft.SparkEntry.queries` and
  * `graft.GraftSession.local` — runs one workload for a fixed measuring
  * time, and writes what it measured as JSON for `run.py`.
  *
  * usage: perfbench.Main <key=value>... with keys workload (etl_warehouse |
  * curation_graph), out, work, seconds, seed, trace (0|1), cores, and
  * either spotify + grammy (ETL) or corpus, queries (comma list), warm_max,
  * steady (warm-up passes run until two in a row differ by less than the
  * `steady` share of the earlier one, at most `warm_max` of them) and ref
  * (where the reference pass writes its outputs; empty: no reference pass).
  */
object Main {
  final case class Op(name: String, pass: Int, traced: Boolean,
    startMs: Long, endMs: Long, wallS: Double, ok: Boolean, error: String,
    fp: String, compileNs: Long, classes: Long, cpuS: Double, gcS: Double,
    jitS: Double)
  final case class Pass(index: Int, traced: Boolean)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNs = osBean.getProcessCpuTime
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  /** Summed time of the JIT compiler threads (warm-up work, not the op's). */
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def compileNs =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def classes =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Largest heap in use just after a (natural) GC during the measured
    * passes. */
  @volatile private var heapPeak = 0L
  @volatile private var measuring = false
  private def watchGc(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n, _) => {
          if (n.getType ==
              GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, u) if heapPools(k) => u.getUsed }.sum
            if (measuring && used > heapPeak) heapPeak = used
          }
        }, null, null)
      case _ =>
    }
  }

  /** Single-row fingerprint computed inside Spark: row count plus sum and
    * xor of an xxhash64 over every column, so no output column is pruned
    * and nothing but one row reaches the client. */
  def dfFp(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0x7fffffffL))),
        bit_xor(col("h")))
      .collect()(0)
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}:" +
      s"${if (r.isNullAt(2)) 0L else r.getLong(2)}"
  }

  /** Drops cached and staged data an op left behind (outside the timing),
    * as the program's own bench does between timed runs. */
  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val work = new File(a("work"))
    work.mkdirs()
    watchGc()

    val ops = ArrayBuffer.empty[Op]
    val passes = ArrayBuffer.empty[Pass]
    val warmLog = ArrayBuffer.empty[String]
    val extra = ArrayBuffer.empty[(String, String)]
    var firstTimedMs = 0L

    // Codegen counters are read only after Spark code has run, so their
    // first use never loads the code generator outside an op.
    var (lastCompileNs, lastClasses) = (0L, 0L)
    def codegenDelta(): (Long, Long) = {
      val (c, k) = (compileNs, classes)
      val d = (c - lastCompileNs, k - lastClasses)
      lastCompileNs = c; lastClasses = k
      d
    }

    /** Runs `body` as one timed op; its result is the op's fingerprint. */
    def timeOp(name: String, pass: Int, traced: Boolean)(body: => String): Op = {
      val (c0, g0, j0) = (cpuNs, gcMs, jitMs)
      val s = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (ok, err, out) =
        try { val out = body; (true, "", out) }
        catch { case e: Throwable =>
          (false, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}", "") }
      val wall = (System.nanoTime() - t0) / 1e9
      val end = System.currentTimeMillis()
      val (c1, g1, j1) = (cpuNs, gcMs, jitMs)
      val (dc, dk) = codegenDelta()
      Op(name, pass, traced, s, end, wall, ok, err, out, dc, dk,
        (c1 - c0) / 1e9, (g1 - g0) / 1e3, (j1 - j0) / 1e3)
    }

    /** Measured passes until `seconds` have passed (at least `minPasses`).
      * A traced run alternates traced and untraced passes (at least
      * traced, untraced, traced, so a warm-up trend cancels out of the
      * difference), which gives the tracing overhead on the same JVM. */
    def measure(minPasses: Int, attach: Boolean => Unit = _ => ())(
        pass: (Int, Boolean) => Unit): Unit = {
      System.gc()
      measuring = true
      firstTimedMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var p = 0
      while (p < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        val traced = trace && p % 2 == 0
        attach(traced)
        pass(p, traced)
        passes += Pass(p, traced)
        p += 1
      }
      measuring = false
    }

    workload match {
      case "etl_warehouse" =>
        // One op per JVM: a scheduled run of the paper's job is a fresh
        // process, so the op pays JVM warm-up and session start as that run
        // does. run.py launches JVMs until the measuring time is used.
        val args = Array("etl", a("spotify"), a("grammy"), s"$work/op")
        measure(1) { (p, traced) =>
          ops += timeOp("etl", p, traced) { graft.jobs.EtlJobs.main(args); "" }
        }

      case "curation_graph" =>
        val dir = a("corpus")
        val names = a("queries").split(",").toIndexedSeq
        val (warmMax, steady) = (a("warm_max").toInt, a("steady").toDouble)
        val b0 = System.nanoTime()
        val spark = graft.GraftSession.local(cores, s"perfbench-$workload")
        extra += "session_build_s" -> ((System.nanoTime() - b0) / 1e9).toString
        val sc = spark.sparkContext
        // Listeners arrive with the session (system properties set by
        // run.py); untraced passes of a traced run detach them.
        def attach(on: Boolean): Unit = if (trace) {
          Thread.sleep(200) // let the listener bus deliver the last pass
          (Trace.sparkListener, Trace.queryListener) match {
            case (Some(l), Some(q)) =>
              sc.removeSparkListener(l)
              spark.listenerManager.unregister(q)
              if (on) { sc.addSparkListener(l); spark.listenerManager.register(q) }
            case _ => sys.error("trace listeners were not attached")
          }
        }
        def q(name: String): DataFrame = graft.SparkEntry.queries(name)(spark, dir)
        def order(p: Int) = new Random(seed * 7919 + p).shuffle(names)

        // Warm-up: untimed passes until two in a row differ by less than
        // `steady` (at least two, at most warmMax); a pass's wall is the sum
        // of its ops' walls, as in the measured passes.
        attach(false)
        val warmWalls = ArrayBuffer.empty[Double]
        def isSteady = warmWalls.length >= 2 && {
          val (a0, a1) = (warmWalls(warmWalls.length - 2), warmWalls.last)
          math.abs(a1 - a0) < steady * a0
        }
        while (warmWalls.length < warmMax && !isSteady) {
          val w = warmWalls.length
          warmWalls += order(-2 - w).map { n =>
            sc.setJobGroup(s"warm-$w-$n", n)
            val o = timeOp(n, -1, false)(dfFp(q(n)))
            cleanup(spark)
            o.wallS
          }.sum
          warmLog += f"warm pass $w: ${warmWalls.last}%.3f s"
        }
        warmLog += (if (isSteady) f"steady after ${warmWalls.length} warm passes (share $steady)"
          else f"not steady after $warmMax warm passes (share $steady)")
        measure(if (trace) 3 else 1, attach) { (p, traced) =>
          order(p).foreach { n =>
            sc.setJobGroup(s"op-$p-$n", n)
            ops += timeOp(n, p, traced)(dfFp(q(n)))
            cleanup(spark)
          }
        }

        // Reference pass, after measuring and untimed: every output written
        // as parquet for the oracle check in run.py, and its fingerprint
        // taken from the file. run.py keeps it for later runs of the same
        // build, which then skip this pass.
        val refDir = a.getOrElse("ref", "")
        if (refDir.nonEmpty) {
          attach(false)
          val r0 = System.nanoTime()
          order(-1).foreach { name =>
            sc.setJobGroup(s"ref-$name", name)
            val path = s"$refDir/$name"
            val fp = try {
              q(name).write.mode("overwrite").parquet(path)
              dfFp(spark.read.parquet(path))
            } catch { case e: Throwable =>
              s"error: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
            }
            extra += s"ref_fp.$name" -> fp
            cleanup(spark)
          }
          warmLog += f"reference pass (after measuring, untimed): ${(System.nanoTime() - r0) / 1e9}%.3f s"
        }
        val oracles = graft.SparkEntry.oracleSql
        names.foreach(n => oracles.get(n).foreach(s => extra += s"oracle_sql.$n" -> s))
        spark.stop() // drains the listener bus before the trace is read
    }

    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    val opJson = ops.map { o =>
      val layers = if (o.traced) Trace.perOp(o.startMs, o.endMs)
        .map { case (k, v) => s"${js(k)}:${num(v)}" }.mkString(",") else ""
      s"""{"name":${js(o.name)},"pass":${o.pass},"traced":${o.traced},""" +
        s""""wall_s":${num(o.wallS)},"ok":${o.ok},"error":${js(o.error)},""" +
        s""""fp":${js(o.fp)},"compile_s":${num(o.compileNs / 1e9)},""" +
        s""""classes":${o.classes},"cpu_s":${num(o.cpuS)},"gc_s":${num(o.gcS)},""" +
        s""""jit_s":${num(o.jitS)},"layers":{$layers}}"""
    }.mkString("[", ",", "]")
    val passJson = passes.map(p => s"""{"index":${p.index},"traced":${p.traced}}""")
      .mkString("[", ",", "]")
    val json =
      s"""{"workload":${js(workload)},"ops":$opJson,"passes":$passJson,""" +
        s""""first_timed_ms":$firstTimedMs,""" +
        s""""heap_live_peak_mb":${num(heapPeak / 1048576.0)},""" +
        s""""heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
        s""""spark_version":${js(org.apache.spark.SPARK_VERSION)},""" +
        s""""java_version":${js(System.getProperty("java.version"))},""" +
        s""""warm_log":${warmLog.map(js).mkString("[", ",", "]")},""" +
        s""""extra":{${extra.map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString(",")}}}"""
    Files.writeString(Paths.get(a("out")), json)
  }
}
