package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeoutException

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftListenerBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{Q, SparkEntry, Tables}

/** JVM side of the benchmark. It runs the queries `run.py` passes, in
  * the order given, one at a time on one thread, and writes what it
  * measured as JSON for `run.py` to check and reduce.
  *
  * Per query it times the `Q.fn` call (the body, including any eager
  * actions in it) and the drain of `queryExecution.toRdd` (every output
  * row is produced and fingerprinted; see [[Canon]]). Between queries it
  * releases cached blocks and collects garbage, outside the timed span.
  *
  * Usage: Driver --sf DIR --cores N --seconds S --trace 0|1 --setups K
  *   --queries q1,q2,... --out FILE
  *   Runs K set-ups (the last one is kept), one cold pass, then warm
  *   passes for S seconds. With --trace 1 the cold pass is traced and
  *   warm passes alternate between untraced and traced.
  * Usage: Driver --oracles q1,q2,... --out FILE
  *   Writes the registered oracle SQL of those queries instead. */
object Driver {
  /** Warm passes per run, at least. JIT compilation of the query code
    * goes on through the first two warm passes or so; with five, the
    * per-query median comes from a settled pass. More passes run while
    * the next one is expected to end within --seconds. */
  val minPasses = 5
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val memory = ManagementFactory.getMemoryMXBean
  private val hotspot = sun.management.ManagementFactoryHelper.getHotspotThreadMBean

  /** CPU time of the JVM's internal threads (JIT compilers, GC, VM
    * thread), by thread name. */
  def internalCpu(): Map[String, Long] =
    hotspot.getInternalThreadCpuTimes.asScala.map { case (k, v) => k -> v.longValue }.toMap

  /** Process CPU time spent between two snapshots outside the JVM's
    * internal threads: the driver, executor task and streaming threads
    * that run the query. JIT and GC work depends on how far the JVM has
    * warmed up more than on the query, and made this the noisiest metric.
    * An internal thread that exits in between drops out of the
    * subtraction. */
  def queryCpu(proc0: Long, int0: Map[String, Long]): Long = {
    val internal = internalCpu().map { case (k, v) => v - int0.getOrElse(k, 0L) }.sum
    (os.getProcessCpuTime - proc0 - internal).max(0L)
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val out = Paths.get(opt("out"))
    if (opt.contains("oracles")) {
      val sql = SparkEntry.oracleSql
      val names = opt("oracles").split(",").toSeq
      Files.write(out, names.flatMap(n => sql.get(n).map(s => s"${Json.str(n)}:${Json.str(s)}"))
        .mkString("{", ",", "}").getBytes(UTF_8))
      return
    }
    val mainMs = System.currentTimeMillis()
    val byName = SparkEntry.registry.map(q => q.name -> q).toMap
    val queries = opt("queries").split(",").toSeq.map(byName)
    val cores = opt("cores").toInt
    val setups = (1 to opt("setups").toInt).map(_ => setUp(cores, opt("sf")))
    val (spark, _) = setups.last
    new Driver(spark, opt("sf"), queries, opt("trace") == "1").run(opt("seconds").toDouble, mainMs,
      setups.map(_._2), out)
    spark.stop()
  }

  /** One set-up: a session configured like the program's own Bench
    * harness, every corpus table resolved through `Tables.load`, and a
    * trivial job. Stops any previous session first. Returns the session
    * and the set-up's span timings in ms. */
  def setUp(cores: Int, sf: String): (SparkSession, Map[String, Double]) = {
    SparkSession.getDefaultSession.foreach(_.stop())
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    Tables.all.foreach(t => Tables.load(spark, sf, t))
    val t2 = System.nanoTime()
    spark.range(1000L).selectExpr("sum(id)").collect()
    val t3 = System.nanoTime()
    (spark, Map("tables_load_ms" -> (t2 - t1) / 1e6, "total_ms" -> (t3 - t0) / 1e6))
  }
}

final class Driver(spark: SparkSession, sf: String, queries: Seq[Q], trace: Boolean) {
  import Driver.{internalCpu, memory, os, queryCpu}
  private val sc = spark.sparkContext
  private val tracer = new Tracer
  private val busTimeoutMs = 10000L
  private var peakHeap = 0L

  private def drainBus(): Boolean =
    try { GraftListenerBridge.waitUntilListenerBusEmpty(sc, busTimeoutMs); true }
    catch { case _: TimeoutException => false }

  /** Release what a query left cached, blocking, then collect garbage,
    * so no query pays for its predecessor's cleanup. */
  private def quiesce(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    peakHeap = peakHeap.max(memory.getHeapMemoryUsage.getUsed)
  }

  /** Produce every output row of the final physical plan and fold them
    * into (rows, fingerprint). A plain `count()` would let Catalyst
    * prune sorts and projections out of the timed work. */
  private def drain(df: DataFrame): (Long, Long) = {
    val fields = df.schema.fields
    val order = fields.indices.sortBy(i => fields(i).name.toLowerCase).toArray
    val types = fields.map(_.dataType)
    df.queryExecution.toRdd.mapPartitions(it => Iterator(Canon.partition(it, order, types)))
      .collect().foldLeft((0L, 0L)) { case ((n, h), (pn, ph)) => (n + pn, h + ph) }
  }

  private def runQuery(q: Q, traced: Boolean): String = {
    val j = new Json
    j.put("name", q.name)
    if (traced) { drainBus(); tracer.begin() }
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val compileNs0 = CodeGenerator.compileTime
    sc.setJobGroup(q.name, q.name, interruptOnCancel = false)
    val internal0 = internalCpu()
    val cpu0 = os.getProcessCpuTime
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val df = q.fn(spark, sf)
      val t1 = System.nanoTime()
      val bodyEndMs = System.currentTimeMillis()
      val (rows, hash) = drain(df)
      val t2 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      j.put("cpu_ns", queryCpu(cpu0, internal0))
      j.put("body_ns", t1 - t0).put("wall_ns", t2 - t0)
      j.put("start_ms", startMs).put("body_end_ms", bodyEndMs).put("end_ms", endMs)
      j.put("rows", rows).put("hash", java.lang.Long.toUnsignedString(hash))
      if (traced) {
        val phases = df.queryExecution.tracker.phases
        j.put("drain_phases_ms", phases.map { case (k, v) => k -> v.durationMs.toDouble })
        j.put("persisted_rdds", sc.getPersistentRDDs.size.toLong)
      }
    } catch {
      case e: Throwable => j.put("error", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    } finally sc.clearJobGroup()
    if (traced) {
      j.put("codegen_compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
      j.put("codegen_compile_ms", (CodeGenerator.compileTime - compileNs0) / 1e6)
      j.put("bus_drained", drainBus())
      val r = tracer.end()
      j.put("counters", r.counters.toMap)
      j.putRaw("jobs", r.jobs.map(x => s"""{"id":${x.id},"group":${Json.str(x.group)},"start":${x.start},"end":${x.end},"stages":[${x.stages.mkString(",")}]}""").mkString("[", ",", "]"))
      j.putRaw("stages", r.stages.map(s => s"""{"id":${s.id},"tasks":${s.tasks},"submitted":${s.submitted},"completed":${s.completed}}""").mkString("[", ",", "]"))
    }
    quiesce()
    j.toString
  }

  private def pass(kind: String, traced: Boolean): String = {
    if (traced) sc.addSparkListener(tracer)
    val qs = queries.map(runQuery(_, traced))
    if (traced) sc.removeSparkListener(tracer)
    s"""{"kind":"$kind","traced":$traced,"queries":[${qs.mkString(",")}]}"""
  }

  def run(seconds: Double, mainMs: Long, setups: Seq[Map[String, Double]],
      out: java.nio.file.Path): Unit = {
    val passes = mutable.ArrayBuffer(pass("cold", trace))
    peakHeap = 0L
    val start = System.nanoTime()
    var last = 0.0
    var n = 0
    while (n < Driver.minPasses || (System.nanoTime() - start) / 1e9 + last <= seconds) {
      val t = System.nanoTime()
      passes += pass("warm", trace && n % 2 == 1)
      last = (System.nanoTime() - t) / 1e9
      n += 1
    }
    val j = new Json
    j.put("main_ms", mainMs).put("peak_heap_b", peakHeap)
    j.putRaw("setups", setups.map(Json.obj).mkString("[", ",", "]"))
    j.putRaw("passes", passes.mkString("[", ",", "]"))
    Files.write(out, j.toString.getBytes(UTF_8))
  }
}

/** Minimal JSON object writer for the driver's output. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  def putRaw(k: String, raw: String): Json = { fields += s"${Json.str(k)}:$raw"; this }
  def put(k: String, v: String): Json = putRaw(k, Json.str(v))
  def put(k: String, v: Long): Json = putRaw(k, v.toString)
  def put(k: String, v: Double): Json = putRaw(k, Json.num(v))
  def put(k: String, v: Boolean): Json = putRaw(k, v.toString)
  def put(k: String, m: Map[String, Double]): Json = putRaw(k, Json.obj(m))
  override def toString: String = fields.mkString("{", ",", "}")
}

object Json {
  def obj(m: Map[String, Double]): String = m.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}
