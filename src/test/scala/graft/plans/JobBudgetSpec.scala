package graft.plans

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ext.LlmOps
import java.nio.file.Files

/** Job budgets for the curation calls that are bound by job count, at a
  * fixture scale: the Spark jobs one call submits, including the action
  * that consumes its result. The sibling of [[PlanAuditSpec]] — a fusion or
  * driver-side shortcut that silently stops applying shows up here as more
  * jobs. Budgets were set from the counts measured when they were added;
  * they may only be lowered.
  */
class JobBudgetSpec extends SparkSpec {
  import spark.implicits._

  private val TagKey = "graft.jobBudget"

  /** Jobs submitted from this thread while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(TagKey) == tag) n.incrementAndGet()
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(l)
    sc.setLocalProperty(TagKey, tag)
    try { body; GraftTestBus.drain(sc); n.get() }
    finally { sc.setLocalProperty(TagKey, null); sc.removeSparkListener(l) }
  }

  private def assertBudget(name: String, budget: Int)(body: => Unit): Unit = {
    body // warm-up: the first call of a session pays one-off jobs
    val jobs = jobsOf(body)
    assert(jobs <= budget, s"$name ran $jobs jobs, budget $budget")
  }

  private lazy val dir = Files.createTempDirectory("graft-jobbudget").toString

  /** 1,200 vectors in 12 planted cones over 16 dims, written as parquet. */
  private lazy val vectors: DataFrame = {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 1200).map { i =>
      val v = Array.fill(16)((rnd.nextGaussian() * 0.05).toFloat)
      v(i % 12) += 1f
      (i.toLong, v.toSeq)
    }
    rows.toDF("vec_id", "embedding").repartition(4).write.parquet(s"$dir/vectors")
    spark.read.parquet(s"$dir/vectors")
  }

  private lazy val annStore: (DataFrame, String) = {
    LlmOps.writeAnnIndex(vectors, s"$dir/index", cHint = Some(12), iters = 2)
    val cents = LlmOps.readAnnIndex(spark, s"$dir/index")
    LlmOps.writeAnnAssignments(vectors, cents, s"$dir/assign")
    (cents, s"$dir/assign")
  }

  test("writeAnnIndex job budget") {
    var i = 0
    assertBudget("writeAnnIndex", 9) {
      i += 1
      LlmOps.writeAnnIndex(vectors, s"$dir/index_$i", cHint = Some(12), iters = 2)
    }
  }

  test("annAssignedSearchBatch job budget (one batch, call + collect)") {
    val (cents, store) = annStore
    val batch = vectors.filter(col("vec_id") < 40)
    assertBudget("annAssignedSearchBatch", 6) {
      LlmOps.annAssignedSearchBatch(spark, store, cents, batch, nprobe = 3, k = 5).collect()
    }
  }

  test("annAssignedSearch job budget (call + collect)") {
    val (cents, store) = annStore
    val q = vectors.filter(col("vec_id") === 7L)
    assertBudget("annAssignedSearch", 4) {
      LlmOps.annAssignedSearch(spark, store, cents, q, nprobe = 3, k = 5).collect()
    }
  }

  test("incrementalDupes job budget (call + collect)") {
    val docs = spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")
      .select(col("doc_id"), col("text"))
    docs.write.parquet(s"$dir/docs")
    val corpus = spark.read.parquet(s"$dir/docs")
    // the batch: 20 exact copies of corpus docs under new ids
    val batch = corpus.orderBy(col("doc_id")).limit(20)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    LlmOps.writeSignatureStore(corpus, "doc_id", s"$dir/sigstore")
    assertBudget("incrementalDupes", 14) {
      val out = LlmOps.incrementalDupes(corpus, batch, "doc_id", s"$dir/sigstore",
        threshold = 0.8)
      out.collect()
      out.unpersist()
    }
  }
}
