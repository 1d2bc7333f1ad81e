package graft.migrate

import org.apache.spark.sql.functions._
import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** Armable failure switch: lets one migrateAll run fail a table and the
  * NEXT run (same specs, same sinks) succeed — the multi-table resume
  * scenario (fix the cause, re-drive).
  */
object ArmedFailure { @volatile var armed = true }
class FailWhenArmedTransformer extends MigrateJob.Transformer {
  def apply(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (ArmedFailure.armed) throw new RuntimeException("injected table failure")
    else df
}

/** Multi-table orchestration (docs/04-cdm-approach.md:770-822: the
  * production recipe loops CDM over tables with per-table configs and one
  * consolidated report) — behavior pinned here; the oracle key
  * `migrate_report` checks the 4-table happy path end-to-end.
  */
class MigrateAllSpec extends SparkSpec {

  private def src(name: String) =
    spark.read.parquet(s"${sf()}/$name.parquet")

  private def specsFor(base: String,
                       transformerOn: Set[String] = Set.empty,
                       guardrailOn: Map[String, Long] = Map.empty,
                       errorLimit: Long = Long.MaxValue) = {
    val tables = Seq("region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey", "orders" -> "o_orderkey")
    tables.map { case (name, pk) =>
      MigrateJob.TableMigration(name,
        DataFrameSource(src(name)),
        ParquetBucketSink(s"$base/$name"),
        MigrateJob.Config(pkCols = Seq(pk), tokenBuckets = 4,
          transformerClass =
            if (transformerOn(name)) Some(classOf[FailWhenArmedTransformer].getName)
            else None,
          guardrailMaxRowBytes = guardrailOn.get(name),
          errorLimit = errorLimit))
    }
  }

  private def ledgerLines(base: String, table: String): Int = {
    val p = Paths.get(s"$base/$table/_ledger/run.jsonl")
    if (Files.exists(p)) Files.readAllLines(p).size() else 0
  }

  test("happy path: 4 tables migrate, consolidated report row per table") {
    val base = Files.createTempDirectory("graft-mall").toString
    val out = MigrateJob.migrateAll(spark, specsFor(base))
    assert(out.map(_.table_name) == Seq("region", "nation", "customer", "orders"))
    assert(out.forall(_.status == "done"))
    assert(out.forall(_.error.isEmpty))
    assert(out.forall(o => o.buckets_done == 4 && o.counts_complete))
    for (o <- out)
      assert(o.migrated == src(o.table_name).count() && o.skipped == 0,
        s"${o.table_name} must migrate every row")
    // the report DataFrame carries the same rows
    val rep = MigrateJob.report(spark, out)
    assert(rep.filter(col("status") === "done").count() == 4)
  }

  test("partial failure: table 2 of 4 dies; re-run completes ONLY the " +
       "incomplete ledgers (done tables are not re-driven)") {
    val base = Files.createTempDirectory("graft-mall-fail").toString
    val specs = specsFor(base, transformerOn = Set("nation"))
    ArmedFailure.armed = true
    val first = MigrateJob.migrateAll(spark, specs)
    assert(first.map(o => o.table_name -> o.status).toMap ==
      Map("region" -> "done", "nation" -> "failed",
          "customer" -> "done", "orders" -> "done"),
      "continueOnError default: one bad table must not strand the rest")
    assert(first.find(_.table_name == "nation").get.error.get.contains("injected"))
    val linesBefore = Seq("region", "customer", "orders")
      .map(t => t -> ledgerLines(base, t)).toMap
    // fix the cause, re-drive the SAME seq — the multi-table resume
    ArmedFailure.armed = false
    val second = MigrateJob.migrateAll(spark, specs)
    assert(second.forall(_.status == "done"))
    for (t <- Seq("region", "customer", "orders"))
      assert(ledgerLines(base, t) == linesBefore(t),
        s"$t was already done — resume must not write new ledger rows for it")
    assert(ledgerLines(base, "nation") > 4, "nation's ledger gained its done rows")
    for (o <- second)
      assert(o.migrated == src(o.table_name).count(),
        s"${o.table_name}: ledger totals must report the FULL table after resume")
  }

  test("continueOnError=false: the first failure aborts the remaining tables") {
    val base = Files.createTempDirectory("graft-mall-abort").toString
    ArmedFailure.armed = true
    val out = MigrateJob.migrateAll(spark,
      specsFor(base, transformerOn = Set("nation")), continueOnError = false)
    assert(out.map(_.status) == Seq("done", "failed", "aborted", "aborted"))
    assert(out.last.error.get.contains("nation failed"))
  }

  test("consolidated error budget: one table's skips exhaust the GLOBAL " +
       "budget and the remaining tables abort") {
    val base = Files.createTempDirectory("graft-mall-budget").toString
    // every customer row blows a 1-byte guardrail; per-table limit is
    // unbounded, so only the global budget can stop the run
    val specs = specsFor(base, guardrailOn = Map("customer" -> 1L))
    val out = MigrateJob.migrateAll(spark, specs, globalErrorLimit = 5L)
    val byName = out.map(o => o.table_name -> o.status).toMap
    assert(byName("region") == "done" && byName("nation") == "done")
    assert(byName("customer") == "failed",
      "the table that blew the global budget is failed (budget abort mid-run)")
    assert(byName("orders") == "aborted",
      "tables after the global-budget breach must not run")
    assert(out.find(_.table_name == "orders").get.error.get.contains("global error budget"))
  }

  test("a budget breach in one table cancels only its own wave: a sibling " +
       "writing concurrently under its own budget watcher ends done") {
    val base = Files.createTempDirectory("graft-mall-collide").toString
    // Both tables are guarded with a finite limit, so both writes run under
    // a budget watcher, and both first waves start at bucket 0. Writes are
    // rate-limited to 10 rows/s per partition, and all partitions fit the
    // 4 local cores at once. `breach` has two 20-row partitions with 2
    // oversize rows each (never more than the limit in one task) and one
    // 60-row partition: after ~2 s the cross-task total passes the limit
    // while its own long task — and `sibling`'s 60-row write — still run.
    def table(name: String, src: org.apache.spark.sql.DataFrame) =
      MigrateJob.TableMigration(name,
        DataFrameSource(src.select(col("id").as("pk"),
          when(col("id") < 1000 && col("id") % 10 === 0, lit("x" * 200))
            .otherwise(lit("y")).as("payload"))),
        ParquetBucketSink(s"$base/$name"),
        MigrateJob.Config(pkCols = Seq("pk"), tokenBuckets = 4,
          guardrailMaxRowBytes = Some(100L), errorLimit = 3L,
          maxRowsPerSecondPerPartition = Some(10)))
    val out = MigrateJob.migrateAll(spark, Seq(
      table("breach", spark.range(0, 40, 1, 2).union(spark.range(1000, 1060, 1, 1)).toDF()),
      table("sibling", spark.range(1000, 1060, 1, 1).toDF())))
    val byName = out.map(o => o.table_name -> o).toMap
    assert(byName("breach").status == "failed")
    assert(byName("breach").error.exists(_.contains("error budget exceeded mid-wave")),
      s"breach error: ${byName("breach").error}")
    assert(byName("sibling").status == "done",
      s"the sibling's wave must not be cancelled by the other table's " +
        s"watcher: ${byName("sibling").error}")
    assert(byName("sibling").migrated == 60L && byName("sibling").skipped == 0L)
  }
}
