package graft.ext

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import graft.SparkSpec
import java.nio.file.{Files, Path}

/** Signature-store existence is an explicit file-system check: a store or
  * tombstone sidecar that does not exist yet reads as absent (quietly), and
  * one that exists but cannot be read fails the probe instead of reading as
  * absent — an unreadable tombstone set must never bring deleted docs back.
  */
class SignatureStoreSpec extends SparkSpec {
  import spark.implicits._

  private val fox = "the quick brown fox jumps over the lazy dog again and again"

  /** Log events carrying a throwable, recorded while `body` runs. */
  private def stackTracesDuring(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("graft-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getThrown != null)
          seen.add(s"${e.getLoggerName}: ${e.getMessage.getFormattedMessage}")
    }
    app.start()
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(app, null, null)
    ctx.updateLoggers()
    try body
    finally { root.removeAppender("graft-capture"); ctx.updateLoggers(); app.stop() }
    seen.toArray.toSeq.map(_.toString)
  }

  test("a store that does not exist yet reads as absent and logs no stack trace") {
    val store = Files.createTempDirectory("sigstore-new").toString + "/store"
    val docs = Seq((1L, fox), (2L, "entirely different words here")).toDF("doc_id", "text")
    val traces = stackTracesDuring {
      // append onto a missing store: the k-check sees no store
      LlmOps.appendSignatureStore(docs, "doc_id", store)
      // no tombstone sidecar yet: the live view is the store itself
      assert(LlmOps.liveSignatures(spark, store, "doc_id").count() == 2)
      val batch = Seq((101L, fox)).toDF("doc_id", "text")
      val got = LlmOps.incrementalDupes(docs, batch, "doc_id", store, threshold = 0.5)
      assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((101L, 1L)))
      got.unpersist()
    }
    assert(traces.isEmpty, s"expected no logged stack traces, got:\n${traces.mkString("\n")}")
  }

  test("an unreadable tombstone sidecar fails incrementalDupes instead of " +
       "resurrecting deleted docs") {
    val store = Files.createTempDirectory("sigstore-bad").toString + "/store"
    val corpus = Seq((1L, fox), (2L, "entirely different words here")).toDF("doc_id", "text")
    LlmOps.writeSignatureStore(corpus, "doc_id", store)
    val batch = Seq((101L, fox + " tail")).toDF("doc_id", "text")
    def probe() = {
      val out = LlmOps.incrementalDupes(corpus, batch, "doc_id", store, threshold = 0.5)
      try out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq finally out.unpersist()
    }
    LlmOps.deleteFromSignatureStore(Seq(1L).toDF("doc_id"), "doc_id", store)
    assert(probe().isEmpty, "the tombstoned doc must not veto the batch doc")
    // corrupt every file of the sidecar: it exists but cannot be read
    val ts = java.nio.file.Paths.get(LlmOps.storeTombstonePath(store))
    Files.list(ts).forEach { (f: Path) =>
      if (Files.isRegularFile(f)) Files.write(f, "not parquet".getBytes("UTF-8"))
    }
    intercept[Exception](probe())
  }
}
