package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.LlmOps
import graft.migrate.{MigrateJob, ParquetBucketSink, ParquetSource}
import graft.validate.Diff

/** One benchmark run of one workload.
  *
  * A single client drives the workload's layer calls in a closed loop:
  * a round makes every call once, back to back, and the next round starts
  * when the previous one is done. The round count comes from `seconds`
  * ([[Run.RoundCostS]] each), never from the clock: JIT warm-up and
  * leaked caches both grow with the round count, and a count that followed
  * the clock would turn host speed into noise. The first round runs cold,
  * as every spark-submit does, and is reported on its own. Each round
  * writes to fresh directories (a fresh migrate target and ledger,
  * signature store and ANN stores), deleted when the run ends.
  */
final class Run(spark: SparkSession, cores: Int, workload: String, seed: Long,
                seconds: Double, trace: Boolean, build: String) {
  import Run._

  private val sz = Main.sizes(workload)
  private val data = new File(build, s"data/$workload-$seed").getAbsolutePath
  private val work = new File(build, s"work/run-${ProcessHandle.current().pid()}").getAbsolutePath
  private val tracer = new Tracer(spark, cores)

  private var mf: Inputs.Manifest = _
  private var truth: BruteForce = _

  // ---- operations and their checks ------------------------------------------

  private var attempted = 0L
  private var failed = 0L
  private val failures = ArrayBuffer[String]()

  /** Count one operation; a false check or a thrown error is a failure. */
  private def op(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch {
      case e: Throwable =>
        failures += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
    }
    if (!good) {
      failed += 1
      if (!failures.exists(_.startsWith(what))) failures += s"$what check failed"
    }
  }

  private def read(name: String): DataFrame = spark.read.parquet(s"$data/$name")

  private def expectedReport(missing: Long, mismatch: Long, extra: Long, valid: Long): Map[String, Long] =
    Map("missing" -> missing, "mismatch" -> mismatch, "extra_in_target" -> extra, "valid" -> valid)
      .filter(_._2 > 0)

  private def report(origin: DataFrame, target: DataFrame): Map[String, Long] =
    Diff.report(origin, target, Inputs.Pk, Inputs.Compare)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  // ---- layer calls, each with its checks ---------------------------------------

  private def migrate(dir: String): Unit = op("migrate.run") {
    val res = tracer.span("migrate.run") { _ =>
      MigrateJob.run(spark, ParquetSource(s"$data/origin"), ParquetBucketSink(s"$dir/migrated"),
        MigrateJob.Config(pkCols = Inputs.Pk, tokenBuckets = 8))
    }
    res.migrated == sz.orders && res.skippedOversize == 0
  }

  private def diffReport(dir: String): Unit = op("validate.report") {
    val d = mf.defects
    val got = tracer.span("validate.report") { built =>
      val df = Diff.report(read("origin"), read("target"), Inputs.Pk, Inputs.Compare)
      built()
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    got == expectedReport(missing = d.missing, mismatch = d.mismatched + d.newer,
      extra = d.extra, valid = sz.orders - d.missing - d.mismatched - d.newer)
  }

  private var corrected: String = _

  private def autocorrect(dir: String): Unit = op("validate.autocorrect") {
    corrected = s"$dir/corrected"
    tracer.span("validate.autocorrect") { built =>
      val df = Diff.autocorrect(read("origin"), read("target"), Inputs.Pk, Inputs.Compare,
        Inputs.Writetime)
      built()
      df.write.mode("overwrite").parquet(corrected)
    }
    spark.read.parquet(corrected).count() == sz.orders + mf.defects.extra
  }

  /** Re-diff the last autocorrected target: only the rows whose target
    * writetime is newer stay mismatched (last write wins), the extra rows
    * stay (autocorrect never deletes), and nothing is missing.
    */
  private def rediff(): Unit = op("validate.autocorrect.rediff") {
    val d = mf.defects
    report(read("origin"), spark.read.parquet(corrected)) ==
      expectedReport(missing = 0, mismatch = d.newer, extra = d.extra, valid = sz.orders - d.newer)
  }

  private def incremental(dir: String): Unit = {
    val docs = read("docs")
    op("ext.signature_store_write") {
      tracer.span("ext.signature_store_write") { _ =>
        LlmOps.writeSignatureStore(docs, "doc_id", s"$dir/sigstore")
      }
      new File(s"$dir/sigstore").isDirectory
    }
    op("ext.incremental_dupes") {
      val pairs = tracer.span("ext.incremental_dupes") { built =>
        val df = LlmOps.incrementalDupes(docs, read("batch"), "doc_id", s"$dir/sigstore",
          threshold = DupThreshold)
        built()
        df.select(col("a"), col("b")).collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      }
      // every batch copy of a corpus doc is found, and nothing else
      pairs == mf.batchCopies.toSet
    }
  }

  private var annStore: String = _
  private var cents: DataFrame = _

  private def annBuild(dir: String): Unit = {
    val vecs = read("vectors")
    op("ext.ann_index_write") {
      tracer.span("ext.ann_index_write") { _ =>
        LlmOps.writeAnnIndex(vecs, s"$dir/ann_index", cHint = Some(sz.annCells), iters = 2,
          corpusSizeHint = Some(sz.vectors.toLong))
      }
      new File(s"$dir/ann_index").isDirectory
    }
    op("ext.ann_assignments_write") {
      tracer.span("ext.ann_assignments_write") { _ =>
        cents = LlmOps.readAnnIndex(spark, s"$dir/ann_index")
        LlmOps.writeAnnAssignments(vecs, cents, s"$dir/ann_assign")
      }
      annStore = s"$dir/ann_assign"
      val c = cents.count()
      c > 0 && c <= sz.annCells
    }
  }

  private val recalls = ArrayBuffer[Double]()

  /** All held-out queries against the last built store, in batches of at
    * most [[Run.QueryBatch]] (below LlmOps.QueryBatchMaxRows). Cosines must
    * match the brute force to 1e-6; recall@10 is graded against it.
    */
  private def annSearch(dir: String): Unit = {
    val queries = read("queries")
    var hits = 0L
    (0 until sz.queries by QueryBatch).foreach { lo =>
      val hi = math.min(lo + QueryBatch, sz.queries)
      op("ext.ann_search_batch") {
        val rows = tracer.span("ext.ann_search_batch") { built =>
          val df = LlmOps.annAssignedSearchBatch(spark, annStore, cents,
            queries.filter(col("vec_id") >= lo && col("vec_id") < hi), NProbe, K)
          built()
          df.select(col("qid"), col("vec_id"), col("cos")).collect()
        }
        val byQ = rows.groupBy(_.getLong(0).toInt)
        hits += byQ.map { case (q, rs) =>
          truth.topK(q).toSet.intersect(rs.map(_.getLong(1).toInt).toSet).size
        }.sum
        byQ.size == hi - lo && byQ.values.forall(_.length == K) && rows.forall { r =>
          math.abs(r.getDouble(2) - truth.cosine(r.getLong(0).toInt, r.getLong(1).toInt)) <= 1e-6
        }
      }
    }
    recalls += hits.toDouble / (sz.queries.toLong * K)
  }

  /** One round of each workload: its layer calls, back to back. */
  private val round: String => Unit = workload match {
    case "migrate_diff" => dir => { migrate(dir); diffReport(dir); autocorrect(dir) }
    case "curation" => dir => { incremental(dir); annBuild(dir); annSearch(dir) }
  }

  /** Input records one round consumes, counted per call. */
  private def roundRecords: Double = workload match {
    case "migrate_diff" => 3.0 * sz.orders
    case "curation" => mf.corpusDocs + sz.batch + 2.0 * sz.vectors + sz.queries
  }

  // ---- the run ----------------------------------------------------------------

  private def deleteTree(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  /** Round spans that ran with tracing on. */
  private val tracedRounds = scala.collection.mutable.Set[Int]()

  private def rounds: Seq[Span] = tracer.spans.filter(_.name == "round").toSeq

  def execute(): String = {
    mf = Inputs.prepare(spark, seed, sz, data)
    truth = new BruteForce(seed, sz, K)
    deleteTree(work)
    val gc0 = gcSeconds
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    try {
      // closed loop: the next round starts when the previous one is done.
      // The traced run alternates untraced and traced rounds, so the tracing
      // overhead is measured in the same JVM.
      val n = math.max(if (trace) TracedRounds else MinRounds, (seconds / RoundCostS(workload)).toInt)
      for (r <- 0 until n) {
        if (r > 0) deleteTree(s"$work/r${r - 1}")
        val on = trace && r % 2 == 1
        tracer.tracing(on)
        tracer.span("round") { _ => round(s"$work/r$r") }
        if (on) tracedRounds += tracer.spans.last.id
      }
      tracer.tracing(false)
      val loopWall = elapsed
      val leaked = spark.sparkContext.getPersistentRDDs.size
      val gcS = gcSeconds - gc0
      if (workload == "migrate_diff") rediff()
      if (workload == "curation")
        op("ext.ann_search_batch.recall")(median(recalls.toSeq) >= MinRecall)
      val metrics = if (trace) layerMetrics(leaked, gcS, loopWall) else endToEnd()
      if (trace)
        Files.write(new File(build, s"trace-$workload-$seed.json").toPath,
          tracer.toJson.getBytes("UTF-8"))
      resultJson(metrics, loopWall)
    } finally deleteTree(work)
  }

  // ---- metrics ----------------------------------------------------------------

  /** End-to-end costs in process CPU seconds. On a shared host the wall
    * clock measures the CPU share the host grants (on a 4-vCPU VM with
    * 10–25% steal, warm-round wall time swung 2× between runs while CPU
    * time stayed within 7%); the traced run reports wall times.
    * The cold round's CPU cost spread up to 21% across seeds (JIT work
    * varies with contention), too close to any bound, so it is a traced
    * metric. The warm rounds are charged without the JIT compiler threads:
    * they still spent about 55% of the second round's CPU compiling, and
    * how much varied by ±15% from run to run of the same seed.
    */
  private def endToEnd(): Seq[(String, Double, String)] = Seq(
    ("peak_rss_mb", peakRssMb, "MB"),
    ("rows_per_cpu_s", median(rounds.drop(1).map(roundRecords / _.appCpuS)), "rows/cpu-s"))

  private def layerMetrics(leaked: Int, gcS: Double, loopWall: Double): Seq[(String, Double, String)] = {
    // one sample per traced round: the round's layer spans, summed
    val samples = rounds.filter(r => tracedRounds(r.id)).map { r =>
      (r, tracer.spans.filter(s => s.parent == r.id && LayerSpans(s.name)).toSeq)
    }
    def m(f: (Span, Seq[Span]) => Double) = median(samples.map { case (r, ss) => f(r, ss) })
    def sum(f: Span => Double)(ss: Seq[Span]) = ss.map(f).sum
    val layerWall = tracer.spans.filter(s => LayerSpans(s.name)).map(_.wallS).sum
    // overhead: traced rounds (1, 3, ...) minus the warm untraced rounds
    // between them (2, 4, ...); the JIT warm-up trend cancels to first order
    val (on, off) = rounds.drop(1).partition(r => tracedRounds(r.id))
    val overhead = mean(on.map(_.wallS)) - mean(off.map(_.wallS))
    val sh32 = LlmOps.withShingles(LlmOps.withWords(read("docs")))
      .select(expr("graft_hash_array(shingles, '', 8)").as("sh32"))
    Seq(
      ("first_round.wall_s", rounds.head.wallS, "s"),
      ("first_round.cpu_s", rounds.head.cpuS, "cpu-s"),
      ("round.wall_s", m((r, _) => r.wallS), "s"),
      ("round.rows_per_s", m((r, _) => roundRecords / r.wallS), "rows/s"),
      ("graft.construct_s", m((_, ss) => sum(_.constructS)(ss)), "s"),
      ("graft.action_s", m((_, ss) => sum(s => s.wallS - s.constructS)(ss)), "s"),
      ("catalyst.plan_s", m((_, ss) => sum(_.planS)(ss)), "s"),
      ("scheduler.jobs", m((_, ss) => sum(_.jobs.toDouble)(ss)), "count"),
      ("executor.task_s", m((_, ss) => sum(_.taskS)(ss)), "s"),
      ("executor.util", m((_, ss) => sum(_.taskS)(ss) / (sum(_.wallS)(ss) * cores)), "fraction"),
      ("shuffle.write_mb", m((_, ss) => sum(_.shuffleWriteMb)(ss)), "MB"),
      ("shuffle.spill_mb", m((_, ss) => sum(_.spillMb)(ss)), "MB"),
      ("functions.graft_minhash.rows_per_s", kernelRate(sh32, "graft_minhash(sh32, 8)"), "rows/s"),
      ("functions.graft_dot.rows_per_s",
        kernelRate(read("vectors"), "graft_dot(embedding, embedding)"), "rows/s"),
      ("jvm.gc_s", gcS, "s"),
      ("jvm.jit_cpu_s", rounds.map(_.jitS).sum, "cpu-s"),
      ("spark.leaked_persists", leaked.toDouble, "count"),
      ("trace.coverage", layerWall / loopWall, "fraction"),
      ("trace.overhead_s", overhead, "s"))
  }

  /** rows/s of one native kernel: a noop-sink projection over a persisted
    * input, median of three passes.
    */
  private def kernelRate(input: DataFrame, projection: String): Double = {
    val t = input.persist()
    val n = t.count()
    val times = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      t.select(expr(projection)).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    t.unpersist(blocking = true)
    n / median(times)
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def peakRssMb: Double =
    Files.readAllLines(new File("/proc/self/status").toPath).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def resultJson(metrics: Seq[(String, Double, String)], loopWall: Double): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }.mkString(",")
    val why = failures.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "'") + "\"").mkString(",")
    val roundWalls = rounds.map(r => f"${r.wallS}%.3f").mkString(",")
    val roundCpu = rounds.map(r => f"${r.cpuS}%.3f").mkString(",")
    val roundJit = rounds.map(r => f"${r.jitS}%.3f").mkString(",")
    val spanWalls = LayerSpans.toSeq.sorted.flatMap { n =>
      val ws = tracer.spans.filter(_.name == n).map(_.wallS)
      if (ws.isEmpty) None else Some(f""""$n":${median(ws.toSeq)}%.3f""")
    }.mkString(",")
    val d = mf.defects
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$ms},""" +
      s""""info":{"loop_s":${fmt(loopWall)},"cores":$cores,"round_s":[$roundWalls],"round_cpu_s":[$roundCpu],"round_jit_cpu_s":[$roundJit],"span_median_s":{$spanWalls},""" +
      s""""recall_at_10":${fmt(median(recalls.toSeq))},""" +
      s""""orders":${sz.orders},"corpus_docs":${mf.corpusDocs},"batch_docs":${sz.batch},""" +
      s""""vectors":${sz.vectors},"queries":${sz.queries},"defects":{"missing":${d.missing},""" +
      s""""mismatched":${d.mismatched},"newer":${d.newer},"extra":${d.extra}},""" +
      s""""exact_groups":${mf.exactGroups.size},"exact_copies":${mf.exactGroups.values.map(_.size).sum},""" +
      s""""near_copies":${mf.nearCopies},"batch_copies":${mf.batchCopies.size},""" +
      s""""input_sha256":"${mf.checksum}","failures":[$why]}}"""
  }
}

object Run {
  /** Seconds of `seconds` one round costs; a run makes seconds / RoundCostS
    * rounds. At 40 s, `curation` makes 3 rounds: with a single warm round
    * its CPU cost still followed JIT warm-up and spread 0.115 over 10
    * seeds, against about 0.04 with two. `migrate_diff` stays at 2 rounds
    * (spread 0.083), so that the runs fit the time budget (~45 s a run).
    */
  val RoundCostS: Map[String, Double] = Map("migrate_diff" -> 20.0, "curation" -> 13.0)
  /** The cold round and at least one warm one. */
  val MinRounds = 2
  /** A traced run makes rounds 0 (cold), 1 and 3 (traced) and 2 (untraced). */
  val TracedRounds = 4
  val K = 10
  /** 6 of the 16 cells: recall@10 read 0.96-1.0 on 52 seeds. At 4 cells
    * it read 0.90-0.99 and fell just below [[MinRecall]] on some seeds,
    * which measured the seed's k-means split, not the search.
    */
  val NProbe = 6
  val QueryBatch = 100
  val DupThreshold = 0.5
  /** ANN throughput is only reported at this recall@10 or better. */
  val MinRecall = 0.9

  /** The layer calls a round makes, as span names `<module>.<op>`. */
  val LayerSpans: Set[String] = Set(
    "migrate.run", "validate.report", "validate.autocorrect",
    "ext.signature_store_write", "ext.incremental_dupes",
    "ext.ann_index_write", "ext.ann_assignments_write", "ext.ann_search_batch")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
