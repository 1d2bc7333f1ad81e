package graft.migrate

import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.charset.StandardCharsets

import graft.core.Ops

/** The CDM `Migrate` pipeline re-expressed Spark-first (reference:
  * docs/04-cdm-approach.md:280-462 and lab/cdm-config/cdm.properties:27-38):
  * token-bucketed scan → column subset/exclusion → custom transformer →
  * writetime adjustment → guardrail split → rate-limited write, with an
  * error budget and a per-bucket run ledger for resume.
  *
  * Scale posture (SURVEY §3.1): the happy path is a single narrow pipeline —
  * read → filter/project/transform → write — with ZERO exchanges (asserted
  * in MigrateJobSpec). Parallelism comes from input splits
  * (spark.sql.files.maxPartitionBytes plays CDM's numParts ≈ table/10MB
  * rule, docs/04-cdm-approach.md:459); buckets exist for *resume/slicing*
  * semantics (partition.min/max, docs/04-cdm-approach.md:290-315), not for
  * parallelism.
  */
object MigrateJob {

  /** CDM-properties analog (lab/cdm-config/cdm.properties:1-40). */
  final case class Config(
      columnsToTarget: Seq[String] = Nil,          // column.names.to.target (P1)
      columnsToExclude: Seq[String] = Nil,         // column.names.to.exclude (P2)
      pkCols: Seq[String] = Nil,
      tokenBuckets: Int = 8,                       // numParts analog
      bucketRange: Option[(Int, Int)] = None,      // partition.min/max (P4)
      bucketsPerScan: Int = Int.MaxValue,          // buckets committed per source scan (see run)
      minWritetime: Option[Long] = None,           // filter.writetime.min (P5)
      writetimeCol: Option[String] = None,
      writetimeIncrementBy: Long = 0L,             // transform.custom.writetime.incrementBy (X2)
      guardrailMaxRowBytes: Option[Long] = None,   // guardrail.colSizeInKB analog (P7)
      transformerClass: Option[String] = None,     // transform.custom.class (X1)
      maxRowsPerSecondPerPartition: Option[Int] = None, // ratelimit.target (divided per worker, docs/04-cdm-approach.md:637)
      // maxErrorCount (cdm.properties:38), enforced at three scopes:
      // (1) MID-WAVE, like CDM's abort of a running job
      //     (docs/04-cdm-approach.md:643) — when a guardrail is configured
      //     (the only mid-wave error source), every flagged row increments
      //     the error accumulator as the scan runs; each task aborts on its
      //     own if its local count alone blows the budget, and a driver-side
      //     watcher cancels the wave's job group once the cross-task total
      //     does. Engaged only for finite limits with a guardrail set, so
      //     the unguarded pipeline stays one whole-stage-codegen span.
      // (2) between waves (ErrorBudget.check), and
      // (3) via the bounded _errors persist cost on the guardrail path.
      errorLimit: Long = 100L) {
    /** CDM divides the global rate limit by worker count
      * (docs/04-cdm-approach.md:637). Recompute from current parallelism —
      * under dynamic allocation call again per epoch (SURVEY §7.4 risk 6):
      * each call re-reads `defaultParallelism`, so the per-partition rate
      * tracks executor count instead of going stale (spec-pinned via
      * [[MigrateJob.perPartitionRate]]).
      */
    def withGlobalRateLimit(spark: SparkSession, rowsPerSecond: Int): Config =
      copy(maxRowsPerSecondPerPartition = Some(
        perPartitionRate(rowsPerSecond, spark.sparkContext.defaultParallelism)))
  }

  /** The rate-division arithmetic of [[Config.withGlobalRateLimit]], kept
    * pure so the re-derivation contract is testable at parallelism values a
    * local session can't take on: floor of the even split, never below 1
    * row/s/partition (a zero rate would stall every task forever once
    * parallelism exceeds the global budget).
    */
  def perPartitionRate(rowsPerSecond: Int, parallelism: Int): Int =
    math.max(1, rowsPerSecond / math.max(1, parallelism))

  /** CDM custom transformer interface (docs/04-cdm-approach.md:341-349),
    * Spark-shaped: whole-DataFrame transform (declarative, stays in
    * codegen) instead of the reference's per-Row callback.
    *
    * Contract (enforced where cheap, documented where not):
    *   - `bucket` and any `_`-prefixed column are reserved pipeline
    *     internals: pass them through untouched. [[run]] routes writes by a
    *     pre-transform snapshot of the tag, so a transformer that rewrites
    *     `bucket` cannot re-route rows into other buckets' partitions — but
    *     the wave still FAILS loudly (tamper counter in the observe pass)
    *     because a transformer touching reserved columns is misbehaving.
    *   - transforms must be DETERMINISTIC (pure functions of the input
    *     row). The guardrail error path re-executes the chain on a second
    *     scan to persist oversize rows; a non-deterministic transform can
    *     flag a different row set there than the one counted and filtered
    *     in the first pass, so `_errors/` may diverge from the skipped
    *     count. (Same rule CDM imposes on its row transformers — a retried
    *     task replays the transform.)
    */
  trait Transformer extends Serializable {
    def apply(df: DataFrame): DataFrame
  }

  final case class Result(
      migrated: Long, skippedOversize: Long, buckets: Seq[Int], ledgerPath: String)

  /** Error budget: cheap task-side accumulator checked between buckets —
    * aborting mid-job once the budget is blown, like CDM's maxErrorCount.
    */
  final class ErrorBudget(val acc: LongAccumulator, limit: Long) extends Serializable {
    def check(): Unit =
      if (acc.value > limit)
        throw new IllegalStateException(
          s"error budget exceeded: ${acc.value} > $limit")
  }

  private val watchSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Drive `body` (a Spark action) under a budget watcher: a driver-side
    * thread polls the merged error accumulator while the action runs and
    * cancels the action's job group the moment the budget is blown —
    * CDM's maxErrorCount abort of a RUNNING job
    * (docs/04-cdm-approach.md:643). Accumulator updates reach the driver
    * as tasks complete (plus executor heartbeats), so the watcher fires
    * after the earliest finished tasks push the total over the limit —
    * the remaining tasks of the wave are killed instead of running the
    * migration to completion first. Cancellation via job group keeps the
    * blast radius to this wave's jobs only: the group id is `groupTag` plus
    * a process-wide sequence number, unique per watched action, since
    * migrateAll runs tables concurrently and two tables' waves can start at
    * the same bucket.
    */
  private[migrate] def withBudgetWatcher[T](spark: SparkSession,
                                            errors: LongAccumulator,
                                            limit: Long,
                                            groupTag: String)(body: => T): T = {
    val sc = spark.sparkContext
    @volatile var done = false
    @volatile var breached = false
    // watchers can NEST (a GraftBatchTarget write watcher runs inside a
    // guardrail-budget wave watcher): snapshot the enclosing job group so
    // the inner finally can restore it instead of stripping it — else the
    // outer watcher's cancelJobGroup would no-op on every job submitted
    // after the inner body returned
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    val prevInterrupt = sc.getLocalProperty("spark.job.interruptOnCancel")
    val group = s"$groupTag-${watchSeq.incrementAndGet()}"
    sc.setJobGroup(group, "graft migrate wave (error-budget watched)",
      interruptOnCancel = true)
    val watcher = new Thread({ () =>
      // keep cancelling until the action thread returns: cancelJobGroup
      // only kills jobs running at that instant, so a breach detected
      // between two of the wave's jobs (or before the first is submitted)
      // must re-fire for the next submission. Cancellation is idempotent.
      while (!done) {
        if (errors.value > limit) { breached = true; sc.cancelJobGroup(group) }
        Thread.sleep(20)
      }
    }: Runnable)
    watcher.setName("graft-budget-watcher")
    watcher.setDaemon(true)
    watcher.start()
    try body
    catch {
      // surface the CAUSE of the cancellation, not Spark's generic
      // "job cancelled" — the ledger line carries this message
      case e: Throwable if breached =>
        throw new IllegalStateException(
          s"error budget exceeded mid-wave: ${errors.value} > $limit " +
            "(wave cancelled; completed buckets are untouched, the wave " +
            "re-drives idempotently)", e)
      case e: Throwable =>
        // a TASK-local or commit-time budget abort arrives wrapped in
        // Spark's job-failure exception — unwrap so callers see the
        // budget violation itself (IllegalStateException from the
        // guardrail path, IOException from the V2 sink's budget)
        val cause = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).take(10)
          .collectFirst {
            case t @ (_: IllegalStateException | _: java.io.IOException)
              if String.valueOf(t.getMessage).contains("error budget exceeded") => t
          }
        throw cause.getOrElse(e)
    } finally {
      done = true
      sc.clearJobGroup()
      if (prevGroup != null)
        sc.setJobGroup(prevGroup, String.valueOf(prevDesc),
          interruptOnCancel = prevInterrupt == "true")
      watcher.join(1000)
    }
  }

  /** Plain-Scala token bucket: caps rows/sec per partition. Used only when
    * the sink needs throttling (ratelimit.origin/target,
    * cdm.properties:30-31) — it forces a row-level map, so it is OFF by
    * default to keep the pipeline in whole-stage codegen.
    */
  def rateLimited(df: DataFrame, rowsPerSecond: Int): DataFrame = {
    val enc = Encoders.row(df.schema)
    df.mapPartitions { it =>
      val t0 = System.nanoTime()
      var n = 0L
      it.map { r =>
        n += 1
        val dueNs = t0 + (n * 1e9 / rowsPerSecond).toLong
        val waitMs = (dueNs - System.nanoTime()) / 1000000
        if (waitMs > 0) Thread.sleep(waitMs)
        r
      }
    }(enc)
  }

  /** The narrow transform chain (no scan, no sink): everything between
    * CDM's read and write stages (docs/04-cdm-approach.md 3.2 §4).
    *
    * Stage order (and its two contracts):
    * bucket slice → writetime filter → projection/exclusion → custom
    * transformer → writetime increment. The custom [[Transformer]] sees the
    * POST-projection schema — like CDM, where column selection is resolved
    * before the row reaches the transform hook. Because the writetime
    * increment runs last, a `columnsToTarget`/`columnsToExclude` set that
    * drops `writetimeCol` is rejected up front (clear error instead of an
    * AnalysisException deep in the chain) — CDM itself cannot write
    * writetimes it no longer carries.
    */
  def transformOnly(df: DataFrame, cfg: Config, errors: Option[LongAccumulator] = None,
                    beforeTransformer: DataFrame => DataFrame = identity): DataFrame = {
    // Only the increment references writetimeCol AFTER projection — a
    // filter-only config (minWritetime with incrementBy=0) may freely
    // project the column away, since the filter runs first.
    for (wt <- cfg.writetimeCol if cfg.writetimeIncrementBy != 0L) {
      val droppedByProjection =
        cfg.columnsToTarget.nonEmpty && !cfg.columnsToTarget.contains(wt)
      require(!droppedByProjection && !cfg.columnsToExclude.contains(wt),
        s"writetimeCol '$wt' is dropped by columnsToTarget/columnsToExclude " +
          "but writetimeIncrementBy needs it post-projection; keep it in the " +
          "projection or unset the increment")
    }
    var out = df
    cfg.bucketRange.foreach { case (lo, hi) =>
      out = Ops.tokenRange(out, cfg.pkCols, cfg.tokenBuckets, lo, hi)
    }
    for (wt <- cfg.writetimeCol; min <- cfg.minWritetime)
      out = Ops.incremental(out, wt, min)
    if (cfg.columnsToTarget.nonEmpty) out = Ops.project(out, cfg.columnsToTarget)
    if (cfg.columnsToExclude.nonEmpty) out = Ops.exclude(out, cfg.columnsToExclude)
    // hook point between projection and the custom transformer — runWave
    // snapshots the bucket tag here so the tag the transformer SEES and the
    // tag the write ROUTES by can be compared (tamper guard)
    out = beforeTransformer(out)
    cfg.transformerClass.foreach { cls =>
      val t = Class.forName(cls).getDeclaredConstructor().newInstance()
        .asInstanceOf[Transformer]
      out = t(out)
    }
    for (wt <- cfg.writetimeCol if cfg.writetimeIncrementBy != 0L)
      out = Ops.writetimeIncrement(out, wt, cfg.writetimeIncrementBy)
    out
  }

  private def appendLedger(path: String, line: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, (line + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Latest ledger status per bucket (last entry wins, so a bucket that
    * failed and was later re-driven to `done` reads as done).
    */
  def bucketStatus(ledgerPath: String): Map[Int, String] =
    if (!Files.exists(Paths.get(ledgerPath))) Map.empty
    else {
      import scala.jdk.CollectionConverters._
      val bucketRe = "\"bucket\":(\\d+)".r
      val statusRe = "\"status\":\"(\\w+)\"".r
      Files.readAllLines(Paths.get(ledgerPath)).asScala.iterator
        .flatMap { l =>
          for (b <- bucketRe.findFirstMatchIn(l); s <- statusRe.findFirstMatchIn(l))
            yield b.group(1).toInt -> s.group(1)
        }
        .toMap // iterator.toMap keeps the LAST entry per key
    }

  /** Buckets already marked done in the ledger (trackRun resume,
    * docs/04-cdm-approach.md:422-434). A bucket whose latest entry is
    * `failed` is NOT done — resume re-drives it, CDM `trackRun.autoRerun`
    * semantics (docs/04-cdm-approach.md:422-434).
    */
  def completedBuckets(ledgerPath: String): Set[Int] =
    bucketStatus(ledgerPath).collect { case (b, "done") => b }.toSet

  /** Whole-ledger totals, latest entry per bucket winning (like
    * [[bucketStatus]]): migrated/skipped sums over done buckets plus the
    * done count. `countsComplete` is false when any done bucket's row
    * carries no counts (waves above [[PerBucketCounterCap]] drop them) —
    * the sums are then a floor, not the total. This is what a RESUMED
    * table reports: the ledger spans every run, where a single
    * [[Result]] only spans its own.
    */
  final case class LedgerTotals(rows: Long, skipped: Long, bucketsDone: Int,
                                countsComplete: Boolean)

  def ledgerTotals(ledgerPath: String): LedgerTotals =
    if (!Files.exists(Paths.get(ledgerPath)))
      LedgerTotals(0L, 0L, 0, countsComplete = true)
    else {
      import scala.jdk.CollectionConverters._
      val bucketRe = "\"bucket\":(\\d+)".r
      val statusRe = "\"status\":\"(\\w+)\"".r
      val rowsRe = "\"rows\":(\\d+)".r
      val skipRe = "\"skipped\":(\\d+)".r
      // latest entry per bucket: (status, rows, skipped)
      val latest = Files.readAllLines(Paths.get(ledgerPath)).asScala.iterator
        .flatMap { l =>
          for (b <- bucketRe.findFirstMatchIn(l); s <- statusRe.findFirstMatchIn(l))
            yield b.group(1).toInt ->
              (s.group(1),
                rowsRe.findFirstMatchIn(l).map(_.group(1).toLong),
                skipRe.findFirstMatchIn(l).map(_.group(1).toLong))
        }
        .toMap
      val done = latest.values.collect { case ("done", r, k) => (r, k) }.toSeq
      LedgerTotals(
        done.flatMap(_._1).sum, done.flatMap(_._2).sum, done.size,
        countsComplete = done.forall(d => d._1.isDefined && d._2.isDefined))
    }

  /** One table of a multi-table migration (docs/04-cdm-approach.md:770-822
    * loops CDM over tables with per-table configs — `migrate_table.sh`'s
    * `for TABLE in "${TABLES[@]}"` with one properties file each).
    */
  final case class TableMigration(name: String, source: MigrateSource,
                                  sink: MigrateSink, cfg: Config)

  /** Per-table outcome of [[migrateAll]] — one row of the consolidated
    * report. Counts are LEDGER totals (all runs, not just this one), so a
    * resumed run reports the table's full migrated state.
    */
  final case class TableOutcome(table_name: String, status: String,
                                migrated: Long, skipped: Long,
                                buckets_done: Int, buckets_total: Int,
                                counts_complete: Boolean, error: Option[String])

  /** Drive the single-table pipeline over `tables` in order with a
    * CONSOLIDATED error budget — the reference's production recipe
    * (docs/04-cdm-approach.md:770-822: loop CDM per table, collect each
    * exit code, report at the end), minus the shell.
    *
    * Semantics:
    *   - each table runs [[run]] with `errorLimit` tightened to
    *     min(its own, global remaining) — the global budget binds
    *     MID-WAVE through the same watcher the per-table budget uses;
    *   - a failed table is ledgered `failed` by [[run]] and reported
    *     here; with `continueOnError` (the recipe's default — one bad
    *     table must not strand the other N) the loop proceeds, otherwise
    *     the rest report `aborted`;
    *   - once cumulative skips exhaust the global budget, remaining
    *     tables report `aborted` without running;
    *   - re-running the same seq is the multi-table RESUME: done buckets
    *     are skipped per table (ledger), so only incomplete tables do
    *     work, and the report still carries full ledger totals.
    */
  def migrateAll(spark: SparkSession, tables: Seq[TableMigration],
                 globalErrorLimit: Long = Long.MaxValue,
                 continueOnError: Boolean = true): Seq[TableOutcome] = {
    require(tables.map(_.name).distinct.size == tables.size,
      "duplicate table names in migrateAll")
    // r16 (guide §2.6 — overlap independent jobs): with NO finite
    // consolidated budget and continueOnError (the recipe's default),
    // the tables are fully independent — ledgers, accumulators and
    // budget-watcher job groups are all per-table/per-thread (Spark job
    // groups are thread-local) — so they run from a small pool and one
    // table's straggler tail backfills with the next table's tasks.
    // A FINITE global budget binds mid-wave in TABLE ORDER (and
    // continueOnError=false aborts the remainder in order), so those
    // paths keep the sequential loop unchanged.
    if (globalErrorLimit == Long.MaxValue && continueOnError && tables.size > 1) {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(tables.size, 4))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val futs = tables.map { tm =>
          Future {
            val (status, err) =
              try { run(spark, tm.source, tm.sink, tm.cfg); ("done", None) }
              catch {
                case e: Throwable =>
                  ("failed", Some(String.valueOf(e.getMessage).take(500)))
              }
            val lt = ledgerTotals(tm.sink.ledgerPath)
            TableOutcome(tm.name, status, lt.rows, lt.skipped, lt.bucketsDone,
              tm.cfg.tokenBuckets, lt.countsComplete, err)
          }
        }
        return futs.map(Await.result(_, Duration.Inf))
      } finally pool.shutdown()
    }
    var skippedSoFar = 0L
    var abort: Option[String] = None
    tables.map { tm =>
      def outcome(status: String, err: Option[String]) = {
        val lt = ledgerTotals(tm.sink.ledgerPath)
        TableOutcome(tm.name, status, lt.rows, lt.skipped, lt.bucketsDone,
          tm.cfg.tokenBuckets, lt.countsComplete, err)
      }
      abort match {
        case Some(why) => outcome("aborted", Some(why))
        case None =>
          val remaining = globalErrorLimit - skippedSoFar
          if (remaining < 0) { // defensive; set with the abort below
            outcome("aborted", Some("global error budget exhausted"))
          } else
            try {
              val eff = tm.cfg.copy(errorLimit = math.min(tm.cfg.errorLimit, remaining))
              val r = run(spark, tm.source, tm.sink, eff)
              skippedSoFar += r.skippedOversize
              if (skippedSoFar > globalErrorLimit)
                abort = Some(s"global error budget exceeded: $skippedSoFar > $globalErrorLimit")
              outcome("done", None)
            } catch {
              case e: Throwable =>
                val msg = String.valueOf(e.getMessage)
                // a budget abort while the GLOBAL remainder was the binding
                // limit means the consolidated budget is spent — later
                // tables must not run even under continueOnError
                if (msg.contains("error budget exceeded") && remaining < tm.cfg.errorLimit)
                  abort = Some(
                    s"global error budget exhausted at table ${tm.name}")
                else if (!continueOnError)
                  abort = Some(s"table ${tm.name} failed and continueOnError=false")
                outcome("failed", Some(msg.take(500)))
            }
      }
    }
  }

  /** The consolidated report as a DataFrame — one row per table, the
    * shape the recipe's "final report" step prints.
    */
  def report(spark: SparkSession, outcomes: Seq[TableOutcome]): DataFrame =
    spark.createDataFrame(outcomes)

  /** JSON string literal with ALL control characters (< 0x20) \u-escaped —
    * an exception message containing e.g. \b or \f must still yield a valid
    * JSONL ledger line for external consumers (the in-repo regex readers
    * tolerate anything, external `jq`-style readers do not).
    */
  private def jsonStr(s: String): String = {
    val sb = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Run the migration with ledgered resume — ONE source scan for all
    * pending buckets (CDM's `numParts` are physical slices of one pass,
    * docs/04-cdm-approach.md:280-315,459 — NOT N re-reads):
    *
    *   scan → tag `bucket = pmod(xxhash64(pk), n)` from the SOURCE pk →
    *   transform (projection keeps the tag; the custom transformer sees a
    *   `bucket` column) → guardrail flag → observe() per-bucket row counts
    *   → write.partitionBy("bucket") with DYNAMIC partition overwrite.
    *
    * Dynamic overwrite makes resume idempotent (a re-run rewrites exactly
    * its own bucket partitions, never touching done buckets or the ledger
    * dir) — CDM's "migrate is idempotent" contract
    * (lab/exercises/04-cdm-migration.md:417). Per-bucket row counts for the
    * ledger come from the write pass's own `observe()` metrics — the old
    * per-bucket re-read of the output is gone (it added a full extra pass
    * over everything written).
    *
    * Failure semantics (trackRun.autoRerun): if a scan-wave fails, every
    * bucket in it gets a `failed` ledger row carrying the error; a file-
    * source write commits no partition on job failure, so "failed" is
    * accurate for all of them. Resume re-drives failed and never-run
    * buckets, skips done ones ([[completedBuckets]] is latest-entry-wins).
    *
    * `bucketsPerScan` trades read amplification for commit granularity:
    * the default (MaxValue) migrates all pending buckets in one scan
    * (1× read, all-or-nothing commit); `bucketsPerScan = 1` reproduces
    * CDM's per-split commit (N× read — only worth it when single-bucket
    * retry cost dominates a re-scan, e.g. a flaky sink).
    *
    * Guardrail: oversize rows are counted in the same observe() pass; the
    * rows themselves are persisted to `_errors/` via a second scan that
    * runs ONLY when the count is non-zero — the happy path stays 1× read,
    * and the error budget (maxErrorCount) bounds how much a tripped
    * guardrail can cost before the run aborts anyway.
    */
  def run(spark: SparkSession, source: DataFrame, targetDir: String,
          cfg: Config): Result =
    run(spark, DataFrameSource(source), ParquetBucketSink(targetDir), cfg)

  /** Seam form: any [[MigrateSource]] → any [[MigrateSink]] (see
    * Connector.scala — the Cassandra pair constructs the standard
    * connector invocation; the parquet pair is the spec-exercised double).
    */
  def run(spark: SparkSession, source: MigrateSource, sink: MigrateSink,
          cfg: Config): Result = {
    require(cfg.pkCols.nonEmpty, "pkCols required for token bucketing")
    val src = source.read(spark)
    require(!src.columns.contains("bucket"),
      "source already has a 'bucket' column; it would collide with the partition tag")
    require(!cfg.columnsToTarget.contains("bucket") && !cfg.columnsToExclude.contains("bucket"),
      "'bucket' is the reserved partition tag: it is carried automatically — " +
        "do not list it in columnsToTarget/columnsToExclude")
    val ledger = sink.ledgerPath
    val status = bucketStatus(ledger)
    val (lo, hi) = cfg.bucketRange.getOrElse((0, cfg.tokenBuckets - 1))
    val pending = (lo to hi).filterNot(b => status.get(b).contains("done"))
    val errors = spark.sparkContext.longAccumulator("migrate_errors")
    val budget = new ErrorBudget(errors, cfg.errorLimit)
    var migrated = 0L
    var skipped = 0L
    val ran = scala.collection.mutable.ArrayBuffer[Int]()
    val waveSize = math.max(1, math.min(cfg.bucketsPerScan, cfg.tokenBuckets))
    for (wave <- pending.grouped(waveSize)) {
      val t0 = System.nanoTime()
      try {
        val w = runWave(spark, src, sink, cfg, wave, errors)
        // budget check BEFORE the done rows: an aborted run must leave its
        // wave re-drivable (the wave's writes are idempotent to redo)
        budget.check()
        val waveMillis = (System.nanoTime() - t0) / 1000000
        wave.foreach { b =>
          // per-bucket counts are present for waves <= PerBucketCounterCap;
          // wave_millis is the WAVE's elapsed time (buckets in one wave
          // share a scan — there is no per-bucket wall time to record)
          val counts = w.rows.get(b).map(n => s""""rows":$n,"skipped":${w.skipped(b)},""").getOrElse("")
          appendLedger(ledger,
            s"""{"bucket":$b,$counts"wave_millis":$waveMillis,"wave_size":${wave.size},"status":"done"}""")
        }
        migrated += w.totalRows
        skipped += w.totalSkipped
        ran ++= wave
      } catch {
        case e: Throwable =>
          wave.foreach { b =>
            appendLedger(ledger,
              s"""{"bucket":$b,"status":"failed","error":${jsonStr(String.valueOf(e.getMessage).take(500))}}""")
          }
          throw e
      }
    }
    Result(migrated, skipped, ran.toSeq, ledger)
  }

  /** Above this wave size the per-bucket `observe()` counters are dropped
    * (2 aggregate expressions per bucket in one CollectMetrics node stops
    * scaling — analysis cost and codegen size grow with the count): the
    * wave then records total rows/skips only, and per-bucket ledger rows
    * carry status without counts. CDM-scale `numParts` in the thousands
    * stays a single pass either way.
    */
  val PerBucketCounterCap = 128

  /** Per-wave outcome: per-bucket counts when the wave is small enough to
    * observe them ([[PerBucketCounterCap]]), totals always.
    */
  private final case class WaveResult(
      rows: Map[Int, Long], skipped: Map[Int, Long],
      totalRows: Long, totalSkipped: Long)

  /** One scan-wave: migrate `wave`'s buckets in a single source pass. */
  private def runWave(spark: SparkSession, source: DataFrame, sink: MigrateSink,
                      cfg: Config, wave: Seq[Int],
                      errors: LongAccumulator): WaveResult = {
    // The bucket tag is computed from the SOURCE pk, BEFORE the transform
    // chain: bucket identity is a property of the origin row (CDM's token
    // ranges slice the origin read, docs/04-cdm-approach.md:290-315) — a
    // projection that drops the pk or a transformer that rewrites it must
    // not change which bucket a row belongs to, or resume would re-migrate
    // the wrong slices.
    val tagged0 = source.withColumn("bucket",
      Ops.tokenBucket(cfg.pkCols, cfg.tokenBuckets))
    // the wave filter is a no-op when every bucket is pending — skip it so
    // the common full-run plan is scan → tag → transform → write, nothing else
    val tagged =
      if (wave.size == cfg.tokenBuckets) tagged0
      else tagged0.filter(col("bucket").isInCollection(wave))
    // projection keeps the tag; the custom transformer therefore SEES a
    // `bucket` column (documented) and must not drop it
    val cfg2 = cfg.copy(bucketRange = None,
      columnsToTarget =
        if (cfg.columnsToTarget.nonEmpty) cfg.columnsToTarget :+ "bucket" else Nil)
    // Tamper guard (only when a custom transformer runs — the built-in
    // stages provably never touch the tag, so the common path stays the
    // minimal plan): snapshot the tag into `_bucket_src` right before the
    // transformer. The WRITE routes by the snapshot, so a transformer that
    // rewrites `bucket` can never steer rows into partitions outside its
    // wave (with dynamic overwrite that would silently replace previously
    // committed buckets); the rewrite is still counted in the observe pass
    // and fails the wave AFTER the (correctly-routed, idempotent) write.
    val guard = cfg.transformerClass.isDefined
    val transformed = transformOnly(tagged, cfg2, None,
      beforeTransformer =
        if (guard) (df: DataFrame) => df.withColumn("_bucket_src", col("bucket"))
        else identity)
    require(transformed.columns.contains("bucket"),
      s"the custom transformer ${cfg.transformerClass.getOrElse("")} dropped " +
        "the 'bucket' partition tag; transformers must pass it through")
    if (guard) require(transformed.columns.contains("_bucket_src"),
      s"the custom transformer ${cfg.transformerClass.getOrElse("")} dropped " +
        "the internal '_bucket_src' column; `_`-prefixed columns are " +
        "reserved and must pass through untouched")
    // the column the write routes by and the counters key on: the
    // pre-transform snapshot when guarded, the tag itself otherwise
    val routeCol = if (guard) "_bucket_src" else "bucket"
    // guardrail measures the row as the TARGET sees it — the bucket tag is
    // a path component, not row content, so it is excluded from the size
    def flag(df: DataFrame): DataFrame = cfg.guardrailMaxRowBytes match {
      case Some(max) => Ops.guardrailFlag(df, max, "_gr",
        exclude = Seq("bucket", "_bucket_src"))
      case None => df.withColumn("_gr", lit(false))
    }
    // Mid-wave error accounting (Config.errorLimit scope 1): flagged rows
    // feed the accumulator AS THE SCAN RUNS, so the budget can abort a
    // running wave instead of auditing a finished one. Task-local check:
    // a single task whose own flagged count blows the whole budget aborts
    // deterministically with no driver round trip; the cross-task abort is
    // [[withBudgetWatcher]] around the write below. A narrow per-partition
    // map (no exchange), but it does split whole-stage codegen — engaged
    // only when a guardrail is configured (the sole mid-wave error source).
    // Retried tasks may re-add their counts; the budget is a safety abort
    // threshold, not an exact audit — over-counting aborts early, never late.
    val midWaveBudget =
      cfg.guardrailMaxRowBytes.isDefined && cfg.errorLimit < Long.MaxValue
    def countErrors(df: DataFrame): DataFrame =
      if (!midWaveBudget) df
      else {
        val enc = Encoders.row(df.schema)
        val grIx = df.schema.fieldIndex("_gr")
        val limit = cfg.errorLimit
        df.mapPartitions { it =>
          var local = 0L
          it.map { r =>
            if (r.getBoolean(grIx)) {
              local += 1
              errors.add(1L)
              if (local > limit)
                throw new IllegalStateException(
                  s"error budget exceeded mid-wave: $local oversize rows " +
                    s"in one task > $limit")
            }
            r
          }
        }(enc)
      }
    // route by the snapshot and drop the transformer-visible tag: `bucket`
    // is a reserved slice label, not row content, so a transformer rewrite
    // of it is discarded rather than honored
    def routed(df: DataFrame): DataFrame =
      if (guard) df.drop("bucket").withColumnRenamed("_bucket_src", "bucket")
      else df
    val obs = Observation()
    val perBucket = wave.size <= PerBucketCounterCap
    val tamperCounter =
      if (guard) Seq(count(when(!(col("bucket") <=> col("_bucket_src")), 1)).as("tamper"))
      else Nil
    val counters =
      (if (perBucket)
        wave.map(b => count(when(col(routeCol) === b && !col("_gr"), 1)).as(s"b$b")) ++
          wave.map(b => count(when(col(routeCol) === b && col("_gr"), 1)).as(s"o$b"))
      else
        Seq(count(when(!col("_gr"), 1)).as("rows"),
          count(when(col("_gr"), 1)).as("oversize"))) ++ tamperCounter
    val observed = routed(countErrors(flag(transformed))
      .observe(obs, counters.head, counters.tail: _*)
      .filter(!col("_gr")).drop("_gr"))
    val pass = cfg.maxRowsPerSecondPerPartition match {
      case Some(r) => rateLimited(observed, r)
      case None => observed
    }
    // Clear any partial state BEFORE writing (sink-specific idempotency
    // hook — the parquet sink deletes the wave's partition dirs so a
    // re-driven bucket that now yields zero rows can't keep stale output;
    // upsert sinks no-op). A failed write after the clear just re-drives
    // the wave (ledger records failed), which rewrites everything cleared.
    sink.clearWave(spark, wave)
    def writeWave(): Unit = sink.writeWave(pass, wave)
    if (midWaveBudget)
      withBudgetWatcher(spark, errors, cfg.errorLimit,
        s"graft-migrate-wave-${wave.headOption.getOrElse(0)}")(writeWave())
    else writeWave()
    val metrics = obs.get
    // the write itself routed by the pre-transform snapshot, so the data on
    // disk is correct — but a transformer rewriting the reserved tag is
    // misbehaving: fail the wave loudly (run() ledgers it `failed`; resume
    // re-drives idempotently once the transformer is fixed)
    if (guard) {
      val tampered = metrics("tamper").asInstanceOf[Long]
      if (tampered > 0)
        throw new IllegalStateException(
          s"transformer ${cfg.transformerClass.getOrElse("")} rewrote the " +
            s"reserved 'bucket' tag on $tampered row(s); writes were routed " +
            "by the pre-transform snapshot (no cross-bucket damage), but " +
            "transformers must not touch reserved columns")
    }
    val result =
      if (perBucket) {
        val rows = wave.map(b => b -> metrics(s"b$b").asInstanceOf[Long]).toMap
        val skips = wave.map(b => b -> metrics(s"o$b").asInstanceOf[Long]).toMap
        WaveResult(rows, skips, rows.values.sum, skips.values.sum)
      } else WaveResult(Map.empty, Map.empty,
        metrics("rows").asInstanceOf[Long], metrics("oversize").asInstanceOf[Long])
    if (result.totalSkipped > 0) {
      // rare path: the guardrail tripped, so pay one extra scan to persist
      // the offending rows (bounded by the error budget). This re-executes
      // the transform chain — the Transformer determinism contract (see
      // trait doc) is what guarantees the same rows get flagged here as
      // were counted and filtered in the first pass.
      sink.writeErrors(routed(flag(transformed).filter(col("_gr")).drop("_gr")), wave)
      // with the mid-wave budget active the tasks already fed the
      // accumulator row-by-row — adding the total again would double-count
      if (!midWaveBudget) errors.add(result.totalSkipped)
    }
    result
  }
}
