package ragbench

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.pipeline.CorpusPrep
import graft.store.{IvfIndex, TextIndex}
import graft.text.Bm25

/** Bulk load: pages → HTML chain → corpus prep → embed → IVF codebook and
  * index → text index, with a parquet handoff at every stage boundary.
  * Loads repeat over the same pages, each into an empty directory, until
  * the run's time is spent.
  */
object Ingest {
  /** Documents in the ingested corpus. */
  val Docs = 1250
  val CheckQueries = 1
  /** Pages the warm-up loads through the whole pipeline. */
  val SmokePages = 2
  val MinLoads = 2

  /** One bulk load; returns the seconds from handing the prepared docs to
    * the embedder until both indexes are written.
    */
  def load(r: Run, tr: Tracer, pages: String, out: String): Double = {
    val spark = r.spark
    import spark.implicits._
    tr.span("html") {
      spark.read.parquet(pages).as[(Long, String, String)]
        .flatMap { case (p, u, h) => Rag.chunksOf(p, u, h) }
        .toDF("doc_id", "text")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/chunks")
    }
    tr.span("prep") {
      CorpusPrep.prepare(spark.read.parquet(s"$out/chunks"), "doc_id", "text")
        .write.mode(SaveMode.Overwrite).parquet(s"$out/prepped")
    }
    val t0 = System.nanoTime()
    tr.span("embed") {
      Rag.embed(spark.read.parquet(s"$out/prepped"))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/embedded")
    }
    Rag.buildIndexes(tr, spark,
      spark.read.parquet(s"$out/prepped").select(col("doc_id"), col("text")),
      s"$out/embedded", s"$out/ivf", s"$out/text")
    r.elapsedS(t0)
  }

  /** One set-up: generate the corpus, render its pages, split every page
    * into chunks on the driver (the count a load must reproduce) and
    * write the pages to `pages`. Returns the chunk count.
    */
  def setup(r: Run, pages: String): Long = {
    val spark = r.spark
    import spark.implicits._
    val ps = Gen.pages(Gen.docs(r.seed, 0, Docs))
    val chunks = ps.map { case (p, u, h) => Rag.chunksOf(p, u, h).length.toLong }.sum
    ps.toDF("page_id", "url", "html").write.mode(SaveMode.Overwrite).parquet(pages)
    chunks
  }

  def run(r: Run): Map[String, Double] = {
    val spark = r.spark
    import spark.implicits._
    val nDocs = Docs
    val pages = s"${r.dir}/pages"
    // Warm-up, not timed: one set-up and a load of its first pages.
    setup(r, pages)
    val smoke = s"${r.dir}/smoke"
    spark.read.parquet(pages).as[(Long, String, String)].orderBy("page_id")
      .limit(SmokePages).write.parquet(s"$smoke/pages")
    load(r, Tracer.off(spark), s"$smoke/pages", smoke)
    Main.deleteDir(smoke)
    var chunks = 0L
    val setupS = (0 until Main.SetupReps).map { _ =>
      val t0 = System.nanoTime()
      chunks = setup(r, pages)
      r.elapsedS(t0)
    }
    r.log("ingest: set-ups " + setupS.map(s => f"$s%.2f").mkString(" ") + " s")

    val dir = s"${r.dir}/load"
    val loadS, freshS = collection.mutable.ArrayBuffer[Double]()
    r.tr.span("measure") {
      val t0 = System.nanoTime()
      while (loadS.length < MinLoads || r.elapsedS(t0) < r.seconds) {
        r.tr.request = loadS.length.toLong
        Main.deleteDir(dir)
        val t = System.nanoTime()
        freshS += r.op(r.tr.span("load")(load(r, r.tr, pages, dir)))
        loadS += r.elapsedS(t)
      }
    }
    r.log(f"ingest: ${loadS.length} loads of $nDocs docs: " +
      loadS.map(s => f"$s%.2f").mkString(" ") + " s; embed + indexes " +
      freshS.map(s => f"$s%.2f").mkString(" ") + " s")

    // Output checks on the last load.
    val prepped = spark.read.parquet(s"$dir/prepped")
    val kept = prepped.count()
    val ivfRows = Rag.footerRows(spark, s"$dir/ivf/vectors")
    val textDocs = Rag.textLiveDocs(spark, s"$dir/text")
    r.log(s"ingest: $nDocs docs in, $kept kept, ivf $ivfRows rows, text $textDocs docs")
    r.check("chunks written by the HTML stage == chunks split in set-up") {
      Rag.footerRows(spark, s"$dir/chunks") == chunks
    }
    r.check("kept docs == ivf rows == text n_docs") {
      kept > 0 && kept == ivfRows && kept == textDocs
    }
    val emb = spark.read.parquet(s"$dir/embedded")
    Gen.queries(r.seed, 0, CheckQueries).foreach { q =>
      val v = Rag.embedder.embed(q.text)
      r.check(s"ivf all-cells == exact top-k, query ${q.id}") {
        Rag.sameIds(Rag.ivfSearch(spark, s"$dir/ivf", v, Rag.TopK, Rag.Cells),
          Similarity.knn(emb, "doc_id", "embedding", v, Rag.TopK).collect()
            .map(x => (x.getLong(0), x.getDouble(1))).toSeq)
      }
      r.check(s"text index == bm25 top-k, query ${q.id}") {
        val bm = Bm25.score(prepped, "doc_id", "text", q.terms)
          .filter(col("score") > 0)
          .orderBy(col("score").desc, col("doc_id")).limit(Rag.TopK)
          .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
        Rag.sameIds(Rag.textSearch(spark, s"$dir/text", q.terms, Rag.TopK), bm)
      }
    }

    val bytes = Rag.dirBytes(spark, s"$dir/ivf") + Rag.dirBytes(spark, s"$dir/text")
    Map(
      "setup_s" -> Rag.median(setupS),
      "p50_ms" -> Rag.median(loadS.toSeq) * 1000,
      "throughput_per_s" -> Rag.median(loadS.map(nDocs / _).toSeq),
      "fresh_ms" -> Rag.median(freshS.toSeq) * 1000,
      "bytes_per_doc" -> bytes.toDouble / kept)
  }
}
