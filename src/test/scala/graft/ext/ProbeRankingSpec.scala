package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.Join
import graft.SparkSpec

/** The driver-side probe ranking ([[LlmOps.probeCells]]) against the
  * distributed formulation it replaced — the Q×c crossJoin, per-query
  * `collect_list` of (-ccos, cid) structs, `array_sort`, `slice` to
  * nprobe. That formulation survives only here, as the reference. Also
  * pins the [[LlmOps.LocalCentroidMaxBytes]] gate at a high dimension.
  */
class ProbeRankingSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced Spark ranking: (qid → cids in probe order). */
  private def reference(q0: DataFrame, cents: DataFrame, nprobe: Int): Map[Long, Seq[Int]] = {
    val q = q0.withColumn("qnrm", sqrt(expr("graft_dot(qv, qv)"))).filter(col("qnrm") > 0)
    val c = cents.withColumn("cnrm", sqrt(expr("graft_dot(cvec, cvec)"))).filter(col("cnrm") > 0)
    q.crossJoin(c)
      .select(col("qid"), col("cid"),
        LlmOps.round6(expr("graft_dot(qv, cvec)") / (col("qnrm") * col("cnrm"))).as("ccos"))
      .groupBy(col("qid"))
      .agg(expr(s"transform(slice(array_sort(collect_list(struct(-ccos AS nc, cid))), 1, $nprobe), x -> x.cid)")
        .as("cids"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
  }

  private def driver(q0: DataFrame, cents: DataFrame, nprobe: Int): Map[Long, Seq[Int]] = {
    val p = LlmOps.probeCells(q0, cents, nprobe)
    val rows = p.probes.collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
    assert(p.cids.toSet == rows.map(_._2).toSet)
    rows.groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2) }
  }

  private def cents(rows: (Int, Seq[Double])*): DataFrame = rows.toDF("cid", "cvec")
  private def queries(rows: (Long, Seq[Double])*): DataFrame = rows.toDF("qid", "qv")

  test("edge cases: tied cosines, zero-norm centroid and query, -0.0 vs 0.0, " +
       "nprobe > c — driver ranking equals the distributed formulation") {
    graft.functions.GraftFunctions.ensure(spark)
    val cs = cents(
      5 -> Seq(1.0, 0.0, 0.0),
      3 -> Seq(1.0, 0.0, 0.0),       // ties cid 5 on every query: 3 first
      4 -> Seq(0.0, 0.0, 0.0),       // zero norm: never probed
      2 -> Seq(0.0, 1.0, 0.0),       // exactly orthogonal to q 10: cos 0.0
      1 -> Seq(-1e-9, 0.0, 1.0),     // cos -1e-9 to q 10: rounds to (-)0.0
      0 -> Seq(-1.0, 0.5, 0.0))
    val qs = queries(
      10L -> Seq(1.0, 0.0, 0.0),
      11L -> Seq(0.0, 0.0, 0.0),     // zero norm: no probes at all
      12L -> Seq(0.5, 0.5, 0.5),
      13L -> Seq(-2.0, 1.0, 0.0))
    for (nprobe <- Seq(1, 2, 3, 4, 10)) {
      val got = driver(qs, cs, nprobe)
      assert(got == reference(qs, cs, nprobe), s"nprobe=$nprobe")
      assert(!got.contains(11L))
      assert(got.values.forall(!_.contains(4)))
    }
    // the tie and the signed zero resolve to the smaller cid
    assert(driver(qs, cs, 10)(10L) == Seq(3, 5, 1, 2, 0))
  }

  test("grid vectors (dense ties) over local, lazy and past-the-gate centroid " +
       "tables: all three branches equal the distributed formulation") {
    graft.functions.GraftFunctions.ensure(spark)
    val rnd = new scala.util.Random(42)
    def grid(dim: Int) = Seq.fill(dim)((rnd.nextInt(3) - 1).toDouble)
    val local = cents((0 until 24).map(i => i -> grid(6)): _*)
    val qs = queries((0 until 40).map(i => i.toLong -> grid(6)): _*)
    for (nprobe <- Seq(1, 3, 7, 30)) {
      val want = reference(qs, local, nprobe)
      assert(driver(qs, local, nprobe) == want, s"local, nprobe=$nprobe")
      // a lazy lineage under the byte gate is collected, then ranked locally
      val lazyCents = local.filter(col("cid") >= 0)
      assert(driver(qs, lazyCents, nprobe) == want, s"lazy, nprobe=$nprobe")
    }
    // 300 cells × 1024 dims × 8 B = 2.4 MB > LocalCentroidMaxBytes: the
    // ranking stays distributed (graft_topk per query)
    val big = cents((0 until 300).map(i => i -> grid(1024)): _*)
    val bigQs = queries((0 until 6).map(i => i.toLong -> grid(1024)): _*)
    assert(!LlmOps.fitsLocalCentroids(300, 1024))
    for (nprobe <- Seq(1, 5)) {
      assert(driver(bigQs, big, nprobe) == reference(bigQs, big, nprobe),
        s"past the gate, nprobe=$nprobe")
    }
  }

  test("LocalCentroidMaxBytes pins the local/join assignment fallback at dim 1024") {
    graft.functions.GraftFunctions.ensure(spark)
    // 256 cells × 1024 dims × 8 B is exactly the 2 MiB bound; one more cell
    // crosses it
    assert(LlmOps.fitsLocalCentroids(256, 1024))
    assert(!LlmOps.fitsLocalCentroids(257, 1024))
    val rnd = new scala.util.Random(7)
    def vec = Seq.fill(1024)(rnd.nextGaussian())
    val emb = Seq((1L, vec.map(_.toFloat)), (2L, vec.map(_.toFloat))).toDF("vec_id", "embedding")
    def usesJoin(c: Int): Boolean = {
      val cs = spark.createDataFrame((0 until c).map(i => (i, vec))).toDF("cid", "cvec")
      LlmOps.kmeansAssignTo(emb, cs).queryExecution.analyzed
        .collectFirst { case j: Join => j }.isDefined
    }
    assert(!usesJoin(256), "at the bound the local projection assigns")
    assert(usesJoin(257), "past the bound assignment falls back to the join shape")
  }

  test("annAssignedSearch: a zero-norm query probes nothing and returns no rows") {
    graft.functions.GraftFunctions.ensure(spark)
    val corpus = (0 until 40).map(i => (i.toLong, Seq(1f, (i % 5).toFloat, 0f))).toDF("vec_id", "embedding")
    val cs = LlmOps.kmeansCentroids(corpus, c = 2, iters = 1)
    val store = java.nio.file.Files.createTempDirectory("graft-probe").toString + "/cells"
    LlmOps.writeAnnAssignments(corpus, cs, store)
    val zero = Seq((0L, Seq(0f, 0f, 0f))).toDF("vec_id", "embedding")
    assert(LlmOps.annAssignedSearch(spark, store, cs, zero, nprobe = 2, k = 3).isEmpty)
    val one = Seq((0L, Seq(1f, 2f, 0f))).toDF("vec_id", "embedding")
    assert(LlmOps.annAssignedSearch(spark, store, cs, one, nprobe = 2, k = 3).count() == 3)
  }
}
