package graftbench

import java.io.File
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value derives from (seed, salt, row id),
  * so the same seed gives byte-identical inputs and the checks below can
  * regenerate any row without reading the files back. Each generator also
  * returns the exact counts it injected — the expected answers the
  * workload's correctness checks compare against.
  */
object Inputs {

  /** Input sizes of one workload. */
  final case class Sizes(orders: Long, docs: Int, batch: Int, vectors: Int,
                         queries: Int, dim: Int, clusters: Int, annCells: Int)

  /** Injected defect counts of the diff target (exact, counted after generation). */
  final case class Defects(missing: Long, mismatched: Long, newer: Long, extra: Long)

  /** One doc of the corpus or batch: how its text derives from a base doc. */
  final case class DocSpec(id: Long, base: Long, kind: Int) // kind: 0 base, 1 exact copy, 2 near copy

  /** Everything the checks need to know about the generated inputs. */
  final case class Manifest(defects: Defects, corpusDocs: Long,
                            exactGroups: Map[Long, Seq[Long]], nearCopies: Int,
                            batchCopies: Map[Long, Long], checksum: String)

  // ---- deterministic mixing -------------------------------------------------

  /** 64-bit finalizer (SplitMix64) over seed, salt and id. */
  def mix(seed: Long, salt: Long, id: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + id * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, salt: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(seed, salt, id))

  // ---- orders: migrate origin and defect-injected diff target ---------------

  val Pk: Seq[String] = Seq("order_id")
  val Compare: Seq[String] =
    Seq("cust_id", "status", "total_price", "order_date", "priority", "clerk", "comment")
  val Writetime = "wt"

  private val statuses = Seq("pending", "processing", "shipped", "delivered", "cancelled")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Defect classes by a per-row draw in [0, 10000): missing 1%,
    * mismatched (older target writetime, changed price) 1%, newer target
    * writetime with changed status 0.5%; extra target-only rows are 1% of n.
    */
  private val MissingBp = 100
  private val MismatchBp = 100
  private val NewerBp = 50

  private def orderRows(spark: SparkSession, seed: Long, lo: Long, hi: Long): DataFrame = {
    def h(salt: Int, mod: Long): Column =
      pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(mod))
    def pick(pool: Seq[String], salt: Int): Column =
      element_at(array(pool.map(lit): _*), (h(salt, pool.size.toLong) + 1).cast("int"))
    spark.range(lo, hi, 1, 8).select(
      col("id").as("order_id"),
      h(1, 150000L).as("cust_id"),
      pick(statuses, 2).as("status"),
      (h(3, 5000000L) / 100.0).as("total_price"),
      date_add(lit("2020-01-01").cast("date"), h(4, 1500L).cast("int")).as("order_date"),
      pick(priorities, 5).as("priority"),
      concat(lit("Clerk#"), lpad(h(6, 1000L).cast("string"), 9, "0")).as("clerk"),
      sha1(concat(lit(seed.toString), lit(":"), col("id").cast("string"))).as("comment"),
      (lit(1700000000000000L) + h(7, 1000000000L)).as(Writetime),
      h(8, 10000L).as("_draw"))
  }

  private def defectClass: Column =
    when(col("_draw") < MissingBp, "missing")
      .when(col("_draw") < MissingBp + MismatchBp, "mismatch")
      .when(col("_draw") < MissingBp + MismatchBp + NewerBp, "newer")
      .otherwise("valid")

  private def writeOrders(spark: SparkSession, seed: Long, n: Long, dir: String): Defects = {
    val origin = orderRows(spark, seed, 0, n)
    origin.drop("_draw").write.mode("overwrite").parquet(s"$dir/origin")
    val cls = origin.withColumn("_cls", defectClass)
    val kept = cls.filter(col("_cls") =!= "missing")
      .withColumn("total_price",
        when(col("_cls") === "mismatch", col("total_price") + 1.0).otherwise(col("total_price")))
      .withColumn("status",
        when(col("_cls") === "newer", lit("amended")).otherwise(col("status")))
      .withColumn(Writetime,
        when(col("_cls") === "mismatch", col(Writetime) - 1000L)
          .when(col("_cls") === "newer", col(Writetime) + 1000L)
          .otherwise(col(Writetime)))
      .drop("_cls", "_draw")
    val nExtra = n / 100
    val extra = orderRows(spark, seed, n, n + nExtra).drop("_draw")
    kept.unionByName(extra).write.mode("overwrite").parquet(s"$dir/target")
    val counts = cls.groupBy(col("_cls")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Defects(counts.getOrElse("missing", 0L), counts.getOrElse("mismatch", 0L),
      counts.getOrElse("newer", 0L), nExtra)
  }

  // ---- documents: corpus with exact/near duplicates, and a new batch -------

  private val VocabSize = 5000

  /** Text of base doc `base`: 40–79 words from a 5000-word vocabulary. */
  def baseText(seed: Long, base: Long): Array[String] = {
    val r = rng(seed, 11, base)
    Array.fill(40 + r.nextInt(40))("w" + r.nextInt(VocabSize))
  }

  def docText(seed: Long, d: DocSpec): String = {
    val words = baseText(seed, d.base)
    if (d.kind == 2) { // near copy: three words replaced
      val r = rng(seed, 12, d.id)
      (0 until 3).foreach(_ => words(r.nextInt(words.length)) = "w" + r.nextInt(VocabSize))
    }
    words.mkString(" ")
  }

  /** Corpus and batch layout. Base docs are 0 until nBase. Every 33rd base
    * doc heads an exact-copy group of 1–3 copies; base docs at offset 11
    * get one near copy; base docs at offset 22 are copied verbatim into
    * the batch, whose other docs are fresh. Copy ids follow the base ids.
    */
  private def docSpecs(seed: Long, docs: Int, batch: Int)
      : (Seq[DocSpec], Seq[DocSpec], Map[Long, Seq[Long]], Int, Map[Long, Long]) = {
    val r = rng(seed, 13, 0)
    val nBase = (docs * 0.94).toInt
    val groups = (0 until nBase by 33).map(_.toLong)
    var next = nBase.toLong
    val specs = scala.collection.mutable.ArrayBuffer[DocSpec]()
    specs ++= (0 until nBase).map(i => DocSpec(i.toLong, i.toLong, 0))
    val exact = groups.map { g =>
      val copies = (0 until 1 + r.nextInt(3)).map { _ => next += 1; next - 1 }
      copies.foreach(c => specs += DocSpec(c, g, 1))
      g -> copies
    }.toMap
    val near = (11 until nBase by 33)
    near.foreach { b => specs += DocSpec(next, b.toLong, 2); next += 1 }
    val corpusEnd = next
    val copySources = (22 until nBase by 33).take(batch / 5)
    val batchSpecs = scala.collection.mutable.ArrayBuffer[DocSpec]()
    val batchCopies = copySources.map { b =>
      batchSpecs += DocSpec(next, b.toLong, 1); next += 1; (next - 1) -> b.toLong
    }.toMap
    (0 until batch - copySources.size).foreach { i =>
      // fresh docs draw from base ids past the corpus, never used by it
      batchSpecs += DocSpec(next, corpusEnd + 1000000L + i, 0); next += 1
    }
    (specs.toSeq, batchSpecs.toSeq, exact, near.size, batchCopies)
  }

  private def writeDocs(spark: SparkSession, seed: Long, specs: Seq[DocSpec], path: String): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(specs, 8)
      .map(d => (d.id, docText(seed, d)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(path)
  }

  // ---- vectors: clustered corpus and held-out queries -----------------------

  /** Salt 21 draws corpus vectors, 22 the held-out queries. */
  def vector(seed: Long, salt: Long, id: Long, dim: Int, clusters: Int): Array[Float] = {
    val centerOf = rng(seed, salt, id).nextInt(clusters)
    val c = rng(seed, 20, centerOf)
    val r = rng(seed, salt + 100, id)
    Array.fill(dim)((c.nextGaussian() + 0.35 * r.nextGaussian()).toFloat)
  }

  private def writeVectors(spark: SparkSession, seed: Long, salt: Long, n: Int,
                           dim: Int, clusters: Int, path: String): Unit = {
    import spark.implicits._
    spark.sparkContext.parallelize(0L until n.toLong, 8)
      .map(i => (i, vector(seed, salt, i, dim, clusters)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(path)
  }

  // ---- manifest, checksum and reuse ----------------------------------------

  /** SHA-256 over every data file (sorted relative path + bytes). */
  def checksum(dir: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val root = new File(dir).toPath
    val files = Files.walk(root).toArray.map(_.asInstanceOf[Path])
      .filter(p => Files.isRegularFile(p))
      .map(p => root.relativize(p).toString)
      .filterNot(n => n == "manifest.txt" || n.endsWith(".crc") || n.contains("_SUCCESS"))
      .sorted
    files.foreach { n =>
      md.update(n.getBytes("UTF-8"))
      md.update(Files.readAllBytes(root.resolve(n)))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Generate (or reuse after a checksum match) the inputs of `sizes` for
    * `seed` under `dir`. Returns the manifest the checks compare against.
    */
  def prepare(spark: SparkSession, seed: Long, sizes: Sizes, dir: String): Manifest = {
    val (corpus, batch, exact, nearN, batchCopies) = docSpecs(seed, sizes.docs, sizes.batch)
    val mf = new File(dir, "manifest.txt")
    val stamp = s"v1 $seed $sizes"
    val stored = if (mf.isFile) Files.readAllLines(mf.toPath).toArray.map(_.toString) else Array[String]()
    val reused = stored.length == 6 && stored(0) == stamp && stored(5) == checksum(dir)
    val defects = if (reused) {
      val d = stored(1).split(" ").map(_.toLong)
      Defects(d(0), d(1), d(2), d(3))
    } else {
      Files.createDirectories(new File(dir).toPath)
      val d = if (sizes.orders > 0) writeOrders(spark, seed, sizes.orders, dir)
        else Defects(0, 0, 0, 0)
      writeDocs(spark, seed, corpus, s"$dir/docs")
      writeDocs(spark, seed, batch, s"$dir/batch")
      writeVectors(spark, seed, 21, sizes.vectors, sizes.dim, sizes.clusters, s"$dir/vectors")
      writeVectors(spark, seed, 22, sizes.queries, sizes.dim, sizes.clusters, s"$dir/queries")
      d
    }
    val sum = if (reused) stored(5) else checksum(dir)
    if (!reused)
      Files.write(mf.toPath, java.util.Arrays.asList(stamp,
        s"${defects.missing} ${defects.mismatched} ${defects.newer} ${defects.extra}",
        corpus.size.toString, nearN.toString, batchCopies.size.toString, sum))
    Manifest(defects, corpus.size.toLong, exact, nearN, batchCopies, sum)
  }
}
