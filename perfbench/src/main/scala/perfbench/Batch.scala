package perfbench

import org.apache.spark.sql.SparkSession

/** The `batch_gates` workload: the registry gates of the pipeline, dedup
  * and streaming layers, called through `SparkEntry.queries` over the
  * tables under `<root>/data`. A first pass runs in this fresh JVM, then
  * steady passes repeat until `seconds` have passed (at least one). Every
  * gate writes its full result under `<root>/out/<pass>/<gate>`, where the
  * caller compares it with the gate's DuckDB oracle. */
final class Batch(spark: SparkSession, root: String, seconds: Int, tracer: Tracer,
                  report: Report) {

  /** gate-name prefix → the layer it exercises */
  val Families = Seq("pipe_" -> "pipeline", "er_" -> "dedup", "stream_" -> "streaming")

  private def family(gate: String): String =
    Families.collectFirst { case (p, l) if gate.startsWith(p) => l }.get

  /** drop cached tables and pinned blocks between gates, as the registry
    * bench does, so each gate runs on a clean session */
  private def isolate(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => graft.graph.EdgeCache.isPinned(spark, id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  /** the gates' DuckDB oracle queries, for the caller's check */
  private def writeOracles(gates: Set[String]): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = graft.SparkEntry.oracleSql.filter { case (k, _) => gates.contains(k) }
      .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/oracle_sql.json"),
      json.getBytes("UTF-8"))
  }

  def run(): Unit = {
    val data = s"$root/data"
    val gates = graft.SparkEntry.queries.toSeq
      .filter { case (n, _) => Families.exists(f => n.startsWith(f._1)) }.sortBy(_._1)
    report.info("gates") = gates.map(_._1).mkString(",")
    writeOracles(gates.map(_._1).toSet)
    // a gate that threw has no time: every sum it is part of reads NaN,
    // so a broken gate never passes for a fast one
    def pass(name: String): Map[String, (Span, Boolean)] = gates.map { case (gate, fn) =>
      tracer.op(s"$name.$gate")
      report.attempted += 1
      val (ok, span) = tracer.time(s"${family(gate)}.$gate") {
        try { fn(spark, data).write.mode("overwrite").parquet(s"$root/out/$name/$gate"); true }
        catch { case e: Exception =>
          report.fail(s"gate.$gate.threw")
          System.err.println(s"[perfbench] $gate threw: $e")
          false
        }
      }
      isolate()
      gate -> (span, ok)
    }.toMap
    def sumSeconds(runs: Iterable[(Span, Boolean)]) =
      if (runs.forall(_._2)) runs.map(_._1.ms).sum / 1e3 else Double.NaN
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    report.put("setup_s", (System.currentTimeMillis() - jvmStart) / 1e3, "s",
      "process start to first timed gate")
    val first = pass("first")
    val t0 = System.nanoTime()
    val steady = scala.collection.mutable.ArrayBuffer(pass("steady"))
    while ((System.nanoTime() - t0) / 1e9 < seconds) steady += pass(s"steady${steady.size}")
    val steadyTotals = steady.map(p => sumSeconds(p.values)).toSeq
    report.put("batch_first_s", sumSeconds(first.values), "s", s"gates=${gates.size}")
    report.put("batch_steady_s", Stats.median(steadyTotals), "s",
      s"median of ${steadyTotals.size} steady passes")
    report.put("batch.first_tax_s", sumSeconds(first.values) - Stats.median(steadyTotals), "s")
    report.info("steady_passes") = steady.size.toString
    Families.map(_._2).foreach { layer =>
      val runs = steady.map(_.collect { case (g, r) if family(g) == layer => r })
      report.put(s"$layer.steady_s", Stats.median(runs.map(sumSeconds).toSeq), "s")
      if (tracer.enabled)
        report.put(s"$layer.steady.jobs",
          Stats.median(runs.map(_.map(_._1.jobs.toDouble).sum).toSeq), "count")
    }
  }
}
