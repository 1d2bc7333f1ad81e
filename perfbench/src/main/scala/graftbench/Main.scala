package graftbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Benchmark JVM. Two modes:
  *
  *  - `setup --build DIR [--workload W --seed N]`: build the SparkSession,
  *    register the graft functions, print `READY <epoch seconds> <process
  *    CPU seconds>`, then
  *    prepare the workload's seeded inputs if one is named (set-up probe);
  *  - `run --workload W --seed N --seconds S --trace 0|1 --build DIR --out F`:
  *    the same set-up, then the workload's closed loop ([[Run]]), the
  *    correctness checks, and a result file F with the metrics.
  */
object Main {

  /** Input sizes per workload.
    *
    *  - `migrate_diff` (migrate + validate layers): an orders-shaped table,
    *    migrated, diffed against a defect-injected target and autocorrected.
    *    Bound by data volume: few jobs, scan/write and the sort-merge join.
    *    Its docs and vectors only feed the traced run's kernel probes.
    *  - `curation` (ext + functions layers): a doc corpus with injected
    *    duplicates plus a new batch, and clustered vectors with held-out
    *    queries. Bound by job count and native kernels: many small jobs
    *    and driver-side collects. Corpus dedup (`dedupCorpusBest`, ~20
    *    jobs and ~45% of a round) is left out: with it a run overran the
    *    per-run time budget on a loaded host.
    */
  def sizes(workload: String): Inputs.Sizes = workload match {
    case "migrate_diff" => Inputs.Sizes(orders = 150000L, docs = 1000, batch = 100,
      vectors = 2000, queries = 50, dim = 64, clusters = 4, annCells = 16)
    case "curation" => Inputs.Sizes(orders = 0L, docs = 1500, batch = 150,
      vectors = 3000, queries = 100, dim = 64, clusters = 4, annCells = 16)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val mode = args.head
    val opt = args.tail.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val build = opt("build")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(build, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(build, "warehouse").getAbsolutePath)
      .getOrCreate()
    graft.functions.GraftFunctions.ensure(spark)
    val ready = java.time.Instant.now()
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    println(f"READY ${ready.getEpochSecond + ready.getNano / 1e9}%.6f $cpu%.6f")
    System.out.flush()
    spark.sparkContext.setLogLevel("WARN")
    try {
      if (mode == "setup" && opt.contains("workload")) {
        // the set-up probe also prepares the seeded inputs, so the timed JVM
        // only verifies their checksum
        val w = opt("workload")
        val seed = opt("seed").toLong
        Inputs.prepare(spark, seed, sizes(w), new File(build, s"data/$w-$seed").getAbsolutePath)
      }
      if (mode == "run") {
        val out = new Run(spark, cores, opt("workload"), opt("seed").toLong,
          opt("seconds").toDouble, opt("trace") == "1", build).execute()
        Files.write(new File(opt("out")).toPath, out.getBytes("UTF-8"))
      }
    } finally spark.stop()
  }
}

