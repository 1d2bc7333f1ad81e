package graft.stream

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec
import java.nio.file.Files

class IngestPipelineSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft-ingest").toString

  private val good =
    "the quick brown fox jumps over a lazy dog and then the fox rests a while longer today"
  private val short_ = "too short"
  private val stopHeavy = "the a the a the a the a the a the a"

  test("ingest: gate drops low-quality docs, dedup keeps one copy, sinks agree") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmp()
    val cfg = IngestPipeline.Config(
      originPath = s"$base/origin", targetPath = s"$base/target",
      checkpoint = s"$base/ckpt")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = IngestPipeline.start(mem.toDF().toDF("doc_id", "text", "ts"), "ts", cfg)
    try {
      mem.addData(
        (1L, good, ts(0)),
        (2L, short_, ts(1)),        // fails token-count gate
        (3L, stopHeavy, ts(2)),     // fails stopword-ratio gate
        (4L, good, ts(3)))          // exact duplicate of 1
      q.processAllAvailable()
      mem.addData((5L, good + " extended with more unique words", ts(4)))
      q.processAllAvailable()
    } finally q.stop()

    val o = spark.read.parquet(s"$base/origin")
    val t = spark.read.parquet(s"$base/target")
    val keptIds = o.select("doc_id").collect().map(_.getLong(0)).toSet
    // one of {1, 4} (whichever the dedup state saw first) plus 5
    assert(keptIds.size == 2, s"kept=$keptIds")
    assert((keptIds & Set(1L, 4L)).size == 1)
    assert(keptIds.contains(5L))
    assert(!keptIds.contains(2L) && !keptIds.contains(3L))
    // both sinks identical; fingerprints present and non-null
    assert(o.exceptAll(t).isEmpty && t.exceptAll(o).isEmpty)
    assert(o.filter(col("fingerprint").isNull).count() == 0)
  }

  test("ingest with store: near-dups of the LANDED corpus drop across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tmp()
    val cfg = IngestPipeline.Config(
      originPath = s"$base/origin", targetPath = s"$base/target",
      checkpoint = s"$base/ckpt")
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val other =
      "completely different corpus content about spark catalyst tungsten codegen and shuffles everywhere"
    val novel =
      "a genuinely novel batch document carrying its own unique vocabulary for this streaming test"
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = IngestPipeline.startWithStore(
      mem.toDF().toDF("doc_id", "text", "ts"), "ts", cfg, s"$base/store")
    try {
      mem.addData((1L, good, ts(0)), (2L, other, ts(1)))
      q.processAllAvailable()
      // 10 near-dups doc 1 (appended word — NOT an exact dup, the
      // in-stream content_h dedup cannot catch it; only the store probe
      // can); 11 is novel and must land
      mem.addData((10L, good + " again", ts(2)), (11L, novel, ts(3)))
      q.processAllAvailable()
    } finally q.stop()
    val t = spark.read.parquet(s"$base/target")
    val kept = t.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 11L), s"kept=$kept")
    // the store accumulated signatures for every landed doc
    val store = spark.read.parquet(s"$base/store")
    assert(store.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 11L))
    assert(store.columns.toSeq.sorted == Seq("doc_id", "sig"))
  }

  test("ingest with store: intra-batch near-dup pair keeps the smallest id") {
    import spark.implicits._
    val base = tmp()
    val cfg = IngestPipeline.Config(
      originPath = s"$base/origin", targetPath = s"$base/target",
      checkpoint = s"$base/ckpt")
    // 10 and 11 near-dup EACH OTHER and arrive in the SAME batch — the
    // store only knows prior batches, so without the batch-local pass both
    // would land. Deterministic keeper = smallest doc_id.
    val batch = Seq((11L, good + " again"), (10L, good)).toDF("doc_id", "text")
    IngestPipeline.landBatchWithStore(batch, 0L, cfg, s"$base/store", 0.5)
    val kept = spark.read.parquet(s"$base/target")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L), s"kept=$kept")
  }

  test("ingest with store: at-least-once replay of a batch is idempotent " +
       "(ghost signatures must not veto the surviving member)") {
    import spark.implicits._
    val base = tmp()
    val cfg = IngestPipeline.Config(
      originPath = s"$base/origin", targetPath = s"$base/target",
      checkpoint = s"$base/ckpt")
    val store = s"$base/store"
    val other =
      "completely different corpus content about spark catalyst tungsten codegen and shuffles everywhere"
    // batch 0 seeds the landed corpus + store
    IngestPipeline.landBatchWithStore(
      Seq((1L, other)).toDF("doc_id", "text"), 0L, cfg, store, 0.5)
    // batch 1: two docs that near-dup each other (not the prior corpus)
    val batch = Seq((10L, good), (11L, good + " again")).toDF("doc_id", "text")
    IngestPipeline.landBatchWithStore(batch, 1L, cfg, store, 0.5)
    def landedIds = spark.read.parquet(s"$base/target")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(landedIds == Set(1L, 10L), s"first attempt kept=$landedIds")
    // simulate the checkpoint-commit failure: the sink partitions AND the
    // store signatures from attempt 1 exist; the engine re-runs batch 1.
    // The replay probe now sees doc 10's ghost signature in the store —
    // it must NOT veto doc 10 (or any current-batch doc) out of the batch.
    IngestPipeline.landBatchWithStore(batch, 1L, cfg, store, 0.5)
    assert(landedIds == Set(1L, 10L), s"replay kept=$landedIds")
    // a third replay for good measure — the store now holds doc 10 twice
    IngestPipeline.landBatchWithStore(batch, 1L, cfg, store, 0.5)
    assert(landedIds == Set(1L, 10L), s"second replay kept=$landedIds")
  }

  test("ingest with store: replay of a first batch whose attempt left an " +
       "empty target or store directory re-seeds both") {
    import spark.implicits._
    val other =
      "completely different corpus content about spark catalyst tungsten codegen and shuffles everywhere"
    val batch = Seq((1L, other), (10L, good)).toDF("doc_id", "text")
    // an aborted write leaves its output directory behind with no data
    // files, only the committer's hidden staging directory
    def aborted(dir: String): Unit = Files.createDirectories(
      java.nio.file.Paths.get(dir, "_temporary", "0"))
    def attempt(name: String)(firstAttempt: IngestPipeline.Config => Unit): Unit = {
      val base = tmp()
      val cfg = IngestPipeline.Config(
        originPath = s"$base/origin", targetPath = s"$base/target",
        checkpoint = s"$base/ckpt")
      val store = s"$base/store"
      firstAttempt(cfg)
      aborted(store)
      IngestPipeline.landBatchWithStore(batch, 0L, cfg, store, 0.5)
      def ids(path: String) = spark.read.parquet(path)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids(cfg.targetPath) == Set(1L, 10L), s"$name: replay landed")
      assert(ids(store) == Set(1L, 10L), s"$name: replay seeded the store")
      // the replayed corpus and store serve the next batch's probe
      IngestPipeline.landBatchWithStore(
        Seq((11L, good + " again")).toDF("doc_id", "text"), 1L, cfg, store, 0.5)
      assert(ids(cfg.targetPath) == Set(1L, 10L), s"$name: near-dup of 10 dropped")
    }
    // the sinks landed, the store append aborted
    attempt("store aborted") { cfg =>
      DualWrite.dualWriteMicroBatch(batch, 0L, cfg.originPath, cfg.targetPath)
    }
    // the target write aborted before anything landed
    attempt("target aborted")(cfg => aborted(s"${cfg.targetPath}/batch=0"))
  }

  test("gateAndFingerprint is batch/stream agnostic and deterministic") {
    import spark.implicits._
    val cfg = IngestPipeline.Config(originPath = "", targetPath = "", checkpoint = "")
    val batch = IngestPipeline.gateAndFingerprint(
      Seq((1L, good), (2L, short_)).toDF("doc_id", "text"), cfg)
      .select("doc_id", "passes", "fingerprint").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(batch(1L)._1 && !batch(2L)._1)
    // same text → same fingerprint, every time
    val again = IngestPipeline.gateAndFingerprint(
      Seq((9L, good)).toDF("doc_id", "text"), cfg)
      .select("fingerprint").collect().head.getLong(0)
    assert(again == batch(1L)._2)
  }
}
