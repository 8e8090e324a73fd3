package ragbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.{BatchedEmbed, HashingBatchEmbedder, HashingEmbedder}
import graft.pipeline.IngestPipeline
import graft.store.{IvfIndex, TextIndex}

/** State shared by one run: the session, the seed, the run length, a
  * scratch directory, the tracer and the operation and check counts.
  */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
    val dir: String, val tr: Tracer) {
  var attempted = 0L
  var failed = 0L

  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def log(msg: String): Unit = System.err.println(
    f"[ragbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%6.1fs] $msg")

  /** An output check; a false result or an exception counts as failed. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch {
      case e: Exception => log(s"check $name threw: $e"); false
    }
    if (!passed) { failed += 1; log(s"check failed: $name") }
  }

  /** A measured operation, counted as attempted. */
  def op[T](body: => T): T = { attempted += 1; body }

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Calls into the program's layers shared by the workloads. */
object Rag {
  val Dim = 64
  val Cells = 16
  val Buckets = 64
  val NProbe = 2
  val ArmK = 50
  val TopK = 10
  val RrfK = 60.0
  val DocProduct = graft.pipeline.Product("generated_docs",
    "Generated documentation", "1", "en-US")

  def embedder: HashingEmbedder = HashingEmbedder(Dim)

  def embed(df: DataFrame): DataFrame =
    BatchedEmbed.embedAll(df.select(col("doc_id"), col("text")), "text",
      "embedding", () => HashingBatchEmbedder(Dim))
      .select(col("doc_id"), col("embedding"))

  /** One page through the HTML chain: (chunk id, chunk text) rows. */
  def chunksOf(pageId: Long, url: String, html: String): Seq[(Long, String)] =
    IngestPipeline.pageToChunks(DocProduct, url, html).zipWithIndex.map {
      case (c, i) => (pageId * 1000 + i, c.pageContent)
    }

  def docsFrame(spark: SparkSession, ds: Seq[Doc]): DataFrame = {
    import spark.implicits._
    ds.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  /** Trains the codebook and writes both indexes over `docs` (doc_id,
    * text) whose embeddings are at `embedded`.
    */
  def buildIndexes(tr: Tracer, spark: SparkSession, docs: DataFrame,
      embedded: String, ivf: String, text: String, trainIters: Int = 5): Unit = {
    val emb = spark.read.parquet(embedded)
    val seeds = tr.span("ivf_train") {
      IvfIndex.trainSeeds(emb, "doc_id", "embedding", Cells, trainIters)
    }
    tr.span("ivf_build") {
      IvfIndex.build(emb, "doc_id", "embedding", seeds, "cell_id", "seed_vec", ivf)
    }
    tr.span("text_build") { TextIndex.build(docs, "doc_id", "text", text, Buckets) }
  }

  def ivfSearch(spark: SparkSession, ivf: String, v: Array[Float],
      k: Int, nProbe: Int): Seq[(Long, Double)] =
    IvfIndex.search(spark, ivf, "doc_id", "embedding", v, k, nProbe)
      .select(col("doc_id"), col("score")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  def textSearch(spark: SparkSession, text: String, terms: Seq[String],
      k: Int): Seq[(Long, Double)] =
    TextIndex.search(spark, text, terms, k).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** Reciprocal-rank fusion of the two arms' ranked lists to a top-10. */
  def rrf(dense: Seq[(Long, Double)], lexical: Seq[(Long, Double)]): Seq[Long] = {
    val score = mutable.Map[Long, Double]().withDefaultValue(0.0)
    dense.zipWithIndex.foreach { case ((id, _), i) => score(id) += 1.0 / (RrfK + i + 1) }
    lexical.zipWithIndex.foreach { case ((id, _), i) => score(id) += 1.0 / (RrfK + i + 1) }
    score.toSeq.sortBy { case (id, s) => (-s, id) }.take(TopK).map(_._1)
  }

  /** One hybrid request: embed, both arms, fuse. With `inner` each step
    * is its own span of `tr` (client / ivf_search / text_search); without,
    * the caller's span covers the request.
    */
  def hybrid(r: Run, tr: Tracer, ivf: String, text: String, q: Query,
      inner: Boolean): (Seq[(Long, Double)], Seq[(Long, Double)], Seq[Long]) = {
    def step[T](name: String)(body: => T): T =
      if (inner) tr.span(name)(body) else body
    val v = step("client") { embedder.embed(q.text) }
    val d = step("ivf_search") { ivfSearch(r.spark, ivf, v, ArmK, NProbe) }
    val l = step("text_search") { textSearch(r.spark, text, q.terms, ArmK) }
    if (inner) {
      tr.count("ivf_search.results", d.length)
      tr.count("text_search.results", l.length)
    }
    (d, l, step("client") { rrf(d, l) })
  }

  /** Data bytes of an index directory: every file but checksums and markers. */
  def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (!name.startsWith(".") && !name.startsWith("_")) n += f.getLen
    }
    n
  }

  def parquetFiles(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
  }

  /** Row count of a parquet directory from its footers, without a job. */
  def footerRows(spark: SparkSession, dir: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) {
          val rd = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
          try n += rd.getRecordCount finally rd.close()
        }
      }
      n
    }
  }

  /** Live documents of a text index: its stats rows minus corrections. */
  def textLiveDocs(spark: SparkSession, text: String): Long = {
    def sumOf(d: String): Long =
      if (!new Path(d).getFileSystem(spark.sessionState.newHadoopConf())
          .exists(new Path(d))) 0L
      else spark.read.parquet(d).agg(coalesce(sum(col("n_docs")), lit(0L)))
        .head().getLong(0)
    sumOf(s"$text/stats") - sumOf(s"$text/tombstone_stats")
  }

  def long(r: org.apache.spark.sql.Row, i: Int): Long =
    r.getAs[Number](i).longValue

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def sameIds(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean =
    a.map(_._1) == b.map(_._1) &&
      a.zip(b).forall { case (x, y) => math.abs(x._2 - y._2) <= 1e-9 }
}
