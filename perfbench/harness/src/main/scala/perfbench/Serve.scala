package perfbench

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.SparkEntry
import graft.operators.{Pq, Similarity}
import Main.{now, runQuery, spark, tracer}

/** `serve`: tenants send parameterised requests to a pool of at most
  * nproc threads sharing one session. A dashboard request reads its
  * tenant's shop dir; a search request reads the shared catalog dir,
  * whose registries were trained in set-up. Each request builds its
  * DataFrame fresh and collects its rows; each response is hashed against
  * the verified rows of its op on its dir.
  *
  * A closed loop of nproc clients over a seeded sequence of the mix gives
  * capacity. Then an open loop replays the seeded schedule (due time, op,
  * tenant); latency runs from the due time, so a late generator or a full
  * queue shows. */
final class Serve(a: Main.Args, dirs: Seq[String]) extends Workload {
  private val nproc = a.int("nproc")
  private val work = a("work")
  private def read(f: String) = scala.io.Source.fromFile(f).getLines().toVector
    .map(_.split("\t")).map(x => (x(0).toLong, x(1), x(2).toInt))
  private val schedule = read(a("schedule"))
  private val capacitySeq = read(a("capacity"))
  private val searchOps = a("search_ops").split(",").toSet
  private val catalog = dirs.head
  private val shops = dirs.tail.toVector
  private def dirOf(op: String, tenant: Int) = if (searchOps(op)) catalog else shops(tenant)
  private def name(dir: String) = new java.io.File(dir).getName
  /** A request target: op and dir, written `op@dirname`. */
  private def key(op: String, dir: String) = s"$op@${name(dir)}"
  private val targets = (schedule ++ capacitySeq).map(r => (r._2, dirOf(r._2, r._3)))
    .distinct.sortBy { case (op, d) => key(op, d) }
  private val ops = targets.map(_._1).distinct
  private val registryOps = ops.filter(SparkEntry.registryBacked)

  /** target key -> verified rows, their hash, and the tables the op scans. */
  private val refRows = new java.util.concurrent.ConcurrentHashMap[
    String, (Array[Row], org.apache.spark.sql.types.StructType)]()
  private val refHash = new java.util.concurrent.ConcurrentHashMap[String, Int]()
  private val tables = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
  private val refErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** The on-disk index dirs the served search ops keep per data dir. */
  private def indexDirs: Seq[java.io.File] =
    Seq("graft-lexindex", "graft-ivf-index", "graft-ivf-pqindex").map(root =>
      new java.io.File(s"/tmp/$root/" + catalog.replaceAll("[^A-Za-z0-9.]", "_")))

  /** A fresh JVM has empty registries; only the on-disk indexes persist. */
  override def clearRegistries(): Unit = indexDirs.foreach(deleteTree)

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Quantizer and codebook training, then each registry-backed op once:
    * its first execution builds the on-disk index, and its rows become
    * the op's reference rows. */
  override def trainRegistries(): Map[String, Double] = {
    val ms = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed(k: String)(body: => Any): Unit = {
      val t0 = System.nanoTime()
      try body catch { case _: Throwable => () } // reported by prepare()
      ms(k) = ms.getOrElse(k, 0.0) + (System.nanoTime() - t0) / 1e6
    }
    val e = graft.Tables.embeddings(spark, catalog)
    timed("centroids")(Similarity.trainedCentroids(e, catalog))
    timed("codebooks")(Pq.trainedCodebooks(e, catalog))
    registryOps.foreach(op => timed(op) {
      val df = SparkEntry.queries(op)(spark, catalog)
      reference(key(op, catalog), df, df.collect())
    })
    ms.toMap
  }

  private def reference(k: String, df: org.apache.spark.sql.DataFrame, rows: Array[Row]): Unit = {
    tables.put(k, Main.tablesOf(df))
    refHash.put(k, Main.rowsHash(rows))
    refRows.put(k, (rows, df.schema))
  }

  private def cls(op: String) = if (searchOps(op)) "search" else "dashboard"

  /** One request; returns an error string, or null when the rows match. */
  private def request(req: String, op: String, dir: String): String =
    try {
      val k = key(op, dir)
      val rows = runQuery(req, op, dir, tables.getOrDefault(k, Nil))(_.collect())
      if (Main.rowsHash(rows) == refHash.get(k)) null else "rows differ from the verified rows"
    } catch { case e: Throwable => Main.err(e) }

  /** Untimed, nproc at a time: each target's reference rows (registry
    * ops have theirs from training), written for the oracle under
    * `verify/<dirname>`; then a warm round: each op once more on its
    * first dir, each search op twice. Every op has then run at least
    * three times (each dashboard op five: once per shop for its
    * references), so measuring starts on compiled code paths. */
  def prepare(): String = {
    val t0 = System.nanoTime()
    parallel(targets) { case (op, dir) =>
      val k = key(op, dir)
      try {
        if (!refRows.containsKey(k)) {
          val df = SparkEntry.queries(op)(spark, dir)
          reference(k, df, df.collect())
        }
        val (rows, schema) = refRows.get(k)
        Main.dumpForOracle(rows, schema, s"$work/verify/${name(dir)}", op)
      } catch { case e: Throwable => refErrors.synchronized(refErrors(k) = Main.err(e)) }
    }
    targets.groupBy(_._2).foreach { case (dir, ts) =>
      graft.Verify.writeOracles(s"$work/verify/${name(dir)}", Some(ts.map(_._1).toSet), Some(dir))
    }
    val good = targets.filterNot { case (op, d) => refErrors.contains(key(op, d)) }
    val warm = good.groupBy(_._1).values.map(_.head).toSeq ++ good.filter(t => searchOps(t._1))
    parallel(warm) { case (op, d) => request("warm", op, d) }
    Json.obj("ms" -> (System.nanoTime() - t0) / 1e6, "errors" -> refErrors.toMap,
      "tables" -> tables.asScala.toMap.map { case (k, v) => k -> v.toList })
  }

  private def parallel[T](items: Seq[T])(f: T => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(nproc)
    items.foreach(x => pool.submit(new Runnable { def run(): Unit = f(x) }))
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS)
  }

  /** The closed loop runs first: its full load also finishes warming the
    * code before latency is measured at the open loop's lower rate. */
  def measure(seconds: Double): String = {
    val openS = a.dbl("open_s")  // the schedule's window, fixed by its mix blocks
    val closed = closedLoop(seconds - openS)
    val open = openLoop(openS)
    Json.obj("open" -> Json.Raw(open), "closed" -> Json.Raw(closed))
  }

  private def openLoop(openS: Double): String = {
    val pool = Executors.newFixedThreadPool(nproc)
    val recs = new ConcurrentLinkedQueue[String]()
    val t0 = now()
    val n = new AtomicInteger()
    schedule.zipWithIndex.foreach { case ((dueRel, op, tenant), i) =>
      val due = t0 + dueRel
      var wait = due - now()
      while (wait > 0) {
        TimeUnit.NANOSECONDS.sleep(math.min(wait, 50000000L))
        wait = due - now()
      }
      val sub = now()
      pool.submit(new Runnable {
        def run(): Unit = {
          val req = s"o$i"
          val start = now()
          val e = tracer.span(req, "serve", cls(op))(request(req, op, dirOf(op, tenant)))
          val end = now()
          n.incrementAndGet()
          recs.add(Json.obj("op" -> op, "cls" -> cls(op), "tenant" -> tenant,
            "target" -> key(op, dirOf(op, tenant)), "req" -> req,
            "due_ns" -> due, "sub_ns" -> sub, "start_ns" -> start, "end_ns" -> end,
            "error" -> e))
        }
      })
    }
    pool.shutdown()
    // a request still queued this long after its window is a failure
    val drained = pool.awaitTermination((openS * 3 + 30).toLong, TimeUnit.SECONDS)
    if (!drained) pool.shutdownNow()
    Json.obj("window_ns" -> (now() - t0), "scheduled" -> schedule.size,
      "completed" -> n.get, "drained" -> drained,
      "records" -> Json.Raw(recs.asScala.mkString("[", ",\n", "]")))
  }

  private def closedLoop(secs: Double): String = {
    val next = new AtomicInteger()
    val done = new AtomicLong()
    val lastEnd = new AtomicLong()
    val failed = new AtomicLong()
    val overrun = new AtomicLong()
    val byTarget = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    val errs = new ConcurrentLinkedQueue[String]()
    val t0 = now()
    val deadline = t0 + (secs * 1e9).toLong
    val threads = (0 until nproc).map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (now() < deadline && i < capacitySeq.size) {
          val (_, op, tenant) = capacitySeq(i)
          val req = s"c$i"
          val e = tracer.span(req, "serve", cls(op))(request(req, op, dirOf(op, tenant)))
          val end = now()
          if (e != null) { failed.incrementAndGet(); errs.add(s"$op: $e") }
          else {
            byTarget.computeIfAbsent(key(op, dirOf(op, tenant)), _ => new AtomicLong())
              .incrementAndGet()
            if (end <= deadline) {
              lastEnd.accumulateAndGet(end, math.max)
              done.incrementAndGet()
            }
            // still in flight at the deadline: its CPU falls in the measured
            // window, so it counts as work done, but not toward capacity
            else overrun.incrementAndGet()
          }
          i = next.getAndIncrement()
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    // requests per second up to the last completion inside the window
    Json.obj("window_ns" -> (lastEnd.get - t0), "completed" -> done.get, "failed" -> failed.get,
      "overrun" -> overrun.get, "completed_by_target" -> byTarget.asScala.toMap.map { case (k, v) => k -> v.get },
      "errors" -> errs.asScala.toSeq.distinct.take(20))
  }

  def finish(): String = {
    clearRegistries()
    val dataDirs = targets.map(_._2).distinct
    Json.obj("ops" -> ops, "verify_dirs" -> dataDirs.map(d => s"$work/verify/${name(d)}"),
      "data_dirs" -> dataDirs)
  }
}
