package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

import graft.{SparkEntry, Tables}

/** One benchmark run of one workload in one JVM and one SparkSession.
  *
  * Arguments are `key=value` pairs written by `run.py`: the workload, the
  * core count, the measured seconds, trace on/off, the work dir and the
  * generated input dirs. The JVM never draws random numbers: arrivals,
  * the request mix and batch cuts arrive as files made from the seed.
  * Results go to `<work>/jvm.json`; `run.py` turns them into metrics.
  */
object Main {
  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m(k)
    def int(k: String): Int = m(k).toInt
    def dbl(k: String): Double = m(k).toDouble
  }

  @volatile var spark: SparkSession = _
  var tracer: Tracer = _
  val origin: Long = System.nanoTime()
  def now(): Long = System.nanoTime() - origin

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap)
    val work = a("work")
    val dirs = a("dirs").split(",").toSeq
    tracer = new Tracer(a("trace") == "1", spark.sparkContext)
    val workload: Workload = a("workload") match {
      case "serve" => new Serve(a, dirs)
      case "curate" => new Curate(a, dirs)
      case "ingest" => new Ingest(a, dirs)
    }
    val setup = setUp(a, work, dirs, workload)
    val prep = workload.prepare()
    val cpu0 = processCpuNs()
    val result = workload.measure(a.dbl("seconds"))
    val measureCpuNs = processCpuNs() - cpu0
    val liveHeap = liveHeapBytes()
    val checks = workload.finish()
    val out = Json.obj(
      "setup" -> setup,
      "prepare" -> Json.Raw(prep),
      "result" -> Json.Raw(result),
      "checks" -> Json.Raw(checks),
      "measure_cpu_ns" -> measureCpuNs,
      "live_heap_bytes" -> liveHeap,
      "peak_rss_kb" -> peakRssKb(),
      "spans" -> Json.Raw(tracer.toJson(origin)))
    spark.stop()
    Files.writeString(Paths.get(s"$work/jvm.json"), out)
  }

  /** Set-up: session start, warm-up and registry training, each timed. */
  def setUp(a: Args, work: String, dirs: Seq[String], w: Workload): Map[String, Any] = {
    w.clearRegistries()
    val t0 = System.nanoTime()
    val nproc = a("nproc")
    // the session graft.Bench builds, with scratch dirs kept in the work dir
    spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(tracer.listener)
    val t1 = System.nanoTime()
    tracer.span("setup", "session", "warmup") {
      spark.range(1000).selectExpr("sum(id)").collect()
      dirs.foreach(d => spark.read.parquet(s"$d/region.parquet").count())
    }
    val t2 = System.nanoTime()
    val trained = tracer.span("setup", "registries", "train")(w.trainRegistries())
    val t3 = System.nanoTime()
    Map("start_ms" -> (t1 - t0) / 1e6, "warmup_ms" -> (t2 - t1) / 1e6,
      "train_ms" -> (t3 - t2) / 1e6, "registries" -> trained)
  }

  /** CPU time of the whole JVM: every Spark, client, JIT and GC thread. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap still in use after a full collection: what the program retains
    * (session state, registries, caches), apart from how large the JVM
    * lets the heap grow. */
  def liveHeapBytes(): Long = {
    // Spark's ContextCleaner drops broadcast and shuffle blocks after a
    // collection finds them unreachable: give it time, then collect again
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(500) }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def peakRssKb(): Long = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    finally src.close()
  } catch { case _: Throwable => -1L }

  // --- one registered query, phase by phase ---------------------------------

  /** The scan loaders behind each table a query reads, for timing the
    * `Tables` layer from outside. */
  val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> Tables.region _, "nation" -> Tables.nation _,
    "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
    "part" -> Tables.part _, "orders" -> Tables.orders _,
    "lineitem" -> Tables.lineitem _, "documents" -> Tables.documents _,
    "embeddings" -> Tables.embeddings _, "events" -> Tables.events _)

  /** Tables a built query scans, read off its analyzed plan. */
  def tablesOf(df: DataFrame): Seq[String] = {
    val names = mutable.LinkedHashSet.empty[String]
    df.queryExecution.analyzed.foreach {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.foreach { p =>
              val n = p.getName.stripSuffix(".parquet")
              if (loaders.contains(n)) names += n
            }
          case _ =>
        }
      case _ =>
    }
    names.toSeq
  }

  /** Build, optimize, plan and execute one registered query, each phase a
    * separate call on the same QueryExecution (nothing is planned twice).
    * `exec` receives that QueryExecution's DataFrame. */
  def runQuery[T](req: String, op: String, dir: String, tables: Seq[String])
                 (exec: DataFrame => T): T = {
    val s = spark
    if (tracer.enabled && tables.nonEmpty)
      tracer.span(req, "Tables", "load")(tables.foreach(t => loaders(t)(s, dir)))
    val df = tracer.span(req, "operators", "build")(SparkEntry.queries(op)(s, dir))
    val qe = df.queryExecution
    tracer.span(req, "plans", "optimize")(qe.optimizedPlan)
    tracer.span(req, "plans", "plan") {
      val plan = qe.executedPlan
      tracer.current.foreach(_.exchanges.add(exchanges(plan)))
    }
    tracer.span(req, "exec", "execute")(exec(df))
  }

  /** Exchanges in the physical plan as planned, subqueries included. Called
    * before execution, an adaptive plan's current plan is its initial one. */
  def exchanges(plan: org.apache.spark.sql.execution.SparkPlan): Int = {
    val p = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case x => x
    }
    p.collectWithSubqueries { case e: Exchange => e }.size
  }

  /** Noop-sink execution: every output row of the query's own
    * QueryExecution is produced and dropped; returns the row count. */
  def noop(df: DataFrame): Long = {
    val qe = df.queryExecution
    val acc = spark.sparkContext.longAccumulator("rows")
    SQLExecution.withNewExecutionId(qe, Some("noop")) {
      qe.toRdd.foreachPartition { it =>
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        acc.add(n)
      }
    }
    acc.value
  }

  /** Order-sensitive hash of collected rows; floating point by bit pattern. */
  def rowsHash(rows: Array[Row]): Int = {
    def h(x: Any): Int = x match {
      case null => 0x5bd1e995
      case d: Double => java.lang.Long.hashCode(java.lang.Double.doubleToRawLongBits(d))
      case f: Float => java.lang.Float.floatToRawIntBits(f)
      case r: Row => scala.util.hashing.MurmurHash3.orderedHash(r.toSeq.map(h))
      case s: scala.collection.Seq[_] => scala.util.hashing.MurmurHash3.orderedHash(s.map(h))
      case m: scala.collection.Map[_, _] =>
        scala.util.hashing.MurmurHash3.unorderedHash(m.map { case (k, v) => (h(k), h(v)) })
      case a: Array[Byte] => java.util.Arrays.hashCode(a)
      case o => o.hashCode
    }
    scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(h))
  }

  /** Write collected rows (the exact rows a hash was taken of) for the
    * DuckDB oracle check, plus the op's oracle SQL pinned to `dir`. */
  def dumpForOracle(rows: Array[Row], schema: org.apache.spark.sql.types.StructType,
                    outDir: String, op: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$op")

  def err(e: Throwable): String = {
    val m = Option(e.getMessage).getOrElse(e.getClass.getName)
    e.getClass.getSimpleName + ": " + m.linesIterator.take(1).mkString.take(300)
  }
}

/** What each workload provides to [[Main]]. */
trait Workload {
  def clearRegistries(): Unit = ()
  /** Registry training; returns milliseconds per registry. */
  def trainRegistries(): Map[String, Double] = Map.empty
  /** Untimed: reference executions, oracle dumps and warm-up. JSON. */
  def prepare(): String
  /** The measured window. JSON. */
  def measure(seconds: Double): String
  /** Untimed end-of-run checks. JSON. */
  def finish(): String
}
