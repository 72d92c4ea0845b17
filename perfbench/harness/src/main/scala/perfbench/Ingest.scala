package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit}

import graft.operators.{Prep, TextAnalysis}
import graft.streaming.{CdcStream, LexStatsStream, OverviewStream}
import Main.{now, spark, tracer}

/** `ingest`: a closed loop shaped like a `foreachBatch` trigger. Each
  * seeded micro-batch of orders and documents folds through the overview
  * view, the CDC chunk counts and the lexical index (auto-compaction
  * armed, the overview compacted on the same cadence); then come the reads
  * a dashboard and a search make. The run ends by comparing the folded
  * state with its one-shot batch twins. */
final class Ingest(a: Main.Args, dirs: Seq[String]) extends Workload {
  private val work = a("work")
  private val compactEvery = a.int("compact_every")
  private val batches = scala.io.Source.fromFile(a("batches")).getLines().toVector
    .map(_.split("\t")).map(x => (x(0), x(1), x(2).toLong, x(3).toLong))
  private val state = s"$work/state"
  private val ovDir = s"$state/overview"
  private val cdcDir = s"$state/cdc"
  private val lexDir = s"$state/lex"
  private var folded = 0

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Batch 0 folds untimed into the state, with its reads: the warm-up. */
  def prepare(): String = {
    val t0 = System.nanoTime()
    fold(0, "warm")
    reads(ovDir, cdcDir, lexDir)
    Json.obj("ms" -> (System.nanoTime() - t0) / 1e6)
  }

  private def fold(i: Int, req: String): Unit = {
    val (ordersFile, docsFile, _, _) = batches(i)
    val orders = spark.read.parquet(ordersFile)
    val docs = spark.read.parquet(docsFile)
    tracer.span(req, "streaming", "fold.overview")(
      OverviewStream.applyBatch(spark, orders, i.toLong, ovDir))
    tracer.span(req, "streaming", "fold.cdc")(
      CdcStream.applyBatch(spark, docs, i.toLong, cdcDir, autoCompactBatches = compactEvery))
    tracer.span(req, "streaming", "fold.lex")(
      LexStatsStream.applyBatch(spark, docs, i.toLong, lexDir, autoCompactBatches = compactEvery))
    if ((i + 1) % compactEvery == 0)
      tracer.span(req, "streaming", "compact")(OverviewStream.compactState(spark, ovDir))
    folded = i + 1
  }

  private def reads(ov: String, cdc: String, lex: String, req: String = "warm",
                    rec: (String, Long, Long) => Unit = (_, _, _) => ()): Unit = {
    def timed(name: String)(body: => Any): Unit = {
      val s = now()
      tracer.span(req, "streaming", s"read.$name")(body)
      rec(name, s, now())
    }
    timed("overview")(OverviewStream.overview(spark, ov).collect())
    timed("dedup")(CdcStream.dedupRatio(spark, cdc))
    timed("bm25")(LexStatsStream.bm25TopkIndexed(spark, lex).collect())
  }

  private def walk(f: File): Iterator[File] =
    Iterator.single(f) ++ Option(f.listFiles).iterator.flatMap(_.iterator.flatMap(walk))

  /** Uncompacted `batch=<id>` dirs across the state logs. */
  private def pendingDirs(): Int = walk(new File(state))
    .count(f => f.isDirectory && f.getName.startsWith("batch=") && f.getName != "batch=-1")

  private def stateFiles(): Set[String] =
    walk(new File(state)).filter(_.isFile).map(_.getPath).toSet

  def measure(seconds: Double): String = {
    val t0 = now()
    val deadline = t0 + (seconds * 1e9).toLong
    val recs = mutable.ArrayBuffer.empty[String]
    var bytesIn = 0L
    // end on a whole compaction cycle: each cycle of measured batches
    // (1-4, 5-8, ...) holds whole pairs, whose rows are the same on every
    // seed, and one compaction, so a slow or fast host changes how many
    // cycles run, not what a cycle holds
    while (folded < batches.size && (now() < deadline || (folded - 1) % compactEvery != 0)) {
      val i = folded
      val (_, _, rows, bytes) = batches(i)
      val id = i.toLong
      val req = s"b$i"
      val before = if (tracer.enabled) stateFiles() else Set.empty[String]
      val s = now()
      val err = try { tracer.span(req, "streaming", "batch")(fold(i, req)); null }
        catch { case e: Throwable => folded = i + 1; Main.err(e) }
      val e = now()
      bytesIn += bytes
      val extra = if (!tracer.enabled) Nil else {
        val after = stateFiles()
        Seq("pending_dirs" -> pendingDirs(), "new_files" -> (after -- before).size)
      }
      recs += Json.obj(Seq("kind" -> "batch", "batch" -> id, "req" -> req, "start_ns" -> s,
        "end_ns" -> e, "rows" -> rows, "bytes" -> bytes, "error" -> err) ++ extra: _*)
      if (err == null)
        try reads(ovDir, cdcDir, lexDir, req, (name, s, e) =>
          recs += Json.obj("kind" -> "read", "name" -> name, "batch" -> id, "req" -> req,
            "start_ns" -> s, "end_ns" -> e, "error" -> null))
        catch { case x: Throwable =>
          recs += Json.obj("kind" -> "read", "name" -> "reads", "batch" -> id, "req" -> req,
            "start_ns" -> e, "end_ns" -> now(), "error" -> Main.err(x))
        }
    }
    val foldedBytes = batches.take(folded).map(_._4).sum
    val stateBytes = walk(new File(state)).filter(_.isFile).map(_.length).sum
    Json.obj("window_ns" -> (now() - t0), "batches" -> folded, "bytes_in" -> bytesIn,
      "state_bytes" -> stateBytes, "folded_bytes" -> foldedBytes, "exhausted" -> (folded >= batches.size),
      "records" -> Json.Raw(recs.mkString("[", ",\n", "]")))
  }

  /** Folded state against the one-shot batch twins over every folded batch. */
  def finish(): String = {
    val orders = spark.read.parquet(batches.take(folded).map(_._1): _*)
    val docs = spark.read.parquet(batches.take(folded).map(_._2): _*)
    def same(name: String, got: => DataFrame, want: => DataFrame): (String, String) =
      name -> (try {
        val w = want
        val g = got.select(w.columns.map(org.apache.spark.sql.functions.col): _*)
        val (gr, wr) = (g.collect().map(rowKey).sorted.toSeq, w.collect().map(rowKey).sorted.toSeq)
        if (gr == wr) null else s"${gr.size} state rows vs ${wr.size} twin rows, contents differ"
      } catch { case e: Throwable => Main.err(e) })
    val checks = Seq(
      same("overview_by_tenant", OverviewStream.overview(spark, ovDir),
        OverviewStream.overviewByTenant(orders)),
      same("cdc_counts", CdcStream.currentCounts(spark, cdcDir),
        Prep.cdcChunksFast(docs, win = 8, divisor = 64)
          .groupBy("chunk_hash").agg(count(lit(1)).as("cnt"))),
      same("lex_stats", LexStatsStream.currentStats(spark, lexDir),
        TextAnalysis.lexStatsOf(docs)))
    Json.obj("twins" -> checks.toMap)
  }

  private def rowKey(r: Row): String = r.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d).toString
    case n: java.lang.Number => n.longValue.toString
    case x => String.valueOf(x)
  }.mkString("\u0001")
}
