package perfbench

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes its report as JSON.
  *
  * Usage: perfbench.Main --workload <serve_read|serve_ingest|batch_gates>
  *   --seed <n> --seconds <s> --trace <0|1> --root <run dir> --out <report.json>
  *
  * Everything the run writes (store, warehouse, Spark scratch) lives under
  * `--root`; the caller deletes it. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val root = opts("root")
    val cores = Runtime.getRuntime.availableProcessors
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val report = new Report
    report.info("nproc") = cores.toString
    report.info("load_before") = f"${os.getSystemLoadAverage}%.2f"

    val spark = graft.Sessions.builder(s"local[$cores]", cores.toString)
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Sessions.ensureFunctions(spark)
    val tracer = new Tracer(spark.sparkContext, traced)
    val runId = s"${seed.abs}_${ProcessHandle.current().pid()}"
    try workload match {
      case "serve_read" =>
        new Serve(spark, root, runId, seed, seconds, tracer, report).serveRead()
      case "serve_ingest" =>
        new Serve(spark, root, runId, seed, seconds, tracer, report).serveIngest()
      case "batch_gates" =>
        new Batch(spark, root, seconds, tracer, report).run()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally {
      report.info("load_after") = f"${os.getSystemLoadAverage}%.2f"
      if (traced) tracer.write(java.nio.file.Paths.get(s"$root/trace.jsonl"))
      java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")),
        report.toJson.getBytes("UTF-8"))
      spark.stop()
    }
  }
}
