package perfbench

import scala.collection.mutable

import graft.SparkEntry
import Main.{now, runQuery, spark, tracer}

/** `curate`: one client repeats passes of the LLM curation chain over the
  * amplified corpus. Every output column is materialised through a noop
  * execution of the op's own QueryExecution; each op's row count is
  * checked against its verified rows. */
final class Curate(a: Main.Args, dirs: Seq[String]) extends Workload {
  private val dir = dirs.head
  private val work = a("work")
  private val ops = a("ops").split(",").toSeq
  private val refRows = mutable.LinkedHashMap.empty[String, Long]
  private val tables = mutable.Map.empty[String, Seq[String]]
  private val refErrors = mutable.LinkedHashMap.empty[String, String]

  def prepare(): String = {
    val t0 = System.nanoTime()
    ops.foreach { op =>
      try {
        val df = SparkEntry.queries(op)(spark, dir)
        val rows = df.collect()
        tables(op) = Main.tablesOf(df)
        refRows(op) = rows.length.toLong
        Main.dumpForOracle(rows, df.schema, s"$work/verify/corpus", op)
      } catch { case e: Throwable => refErrors(op) = Main.err(e) }
    }
    graft.Verify.writeOracles(s"$work/verify/corpus", Some(ops.toSet), Some(dir))
    Json.obj("ms" -> (System.nanoTime() - t0) / 1e6, "errors" -> refErrors.toMap,
      "ref_rows" -> refRows.toMap)
  }

  def measure(seconds: Double): String = {
    val t0 = now()
    val deadline = t0 + (seconds * 1e9).toLong
    val recs = mutable.ArrayBuffer.empty[String]
    var pass = 0
    while (now() < deadline) {
      val req = s"p$pass"
      tracer.span(req, "curate", "pass") {
        ops.foreach { op =>
          val opReq = s"$req.$op"
          val s = now()
          val e = try {
            val n = runQuery(opReq, op, dir, tables.getOrElse(op, Nil))(Main.noop)
            if (refRows.get(op).contains(n)) null
            else s"$n rows, verified ${refRows.getOrElse(op, -1L)}"
          } catch { case e: Throwable => Main.err(e) }
          recs += Json.obj("pass" -> pass, "op" -> op, "req" -> opReq,
            "start_ns" -> s, "end_ns" -> now(), "error" -> e)
        }
      }
      pass += 1
    }
    Json.obj("window_ns" -> (now() - t0), "passes" -> pass,
      "records" -> Json.Raw(recs.mkString("[", ",\n", "]")))
  }

  def finish(): String = Json.obj("ops" -> ops, "verify_dirs" -> Seq(s"$work/verify/corpus"))
}
