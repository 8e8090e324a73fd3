package ragbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SaveMode}

import graft.store.{IvfIndex, TextIndex}

/** Serving over a prebuilt base, one closed-loop client. The read-only
  * phase sends solo hybrid requests, then batches of [[BatchSize]]; the
  * update phase ([[Update]]) then writes beside hybrid queries.
  */
object Serve {
  /** k-means passes for the base codebook: one keeps the set-ups of a
    * run short; the ingest workload trains with the default five.
    */
  val BaseTrainIters = 1
  /** Documents in the serving base. */
  val BaseDocs = 1250
  /** Shares of `--seconds` at which the solo and the batch phase end. */
  val SoloUntil = 0.3
  val BatchUntil = 0.5
  val MinSolo = 5
  val MinBatches = 1
  val BatchSize = 64
  val Queries = 4096

  /** Builds the serving base (docs, embeddings, both indexes) under
    * `dir`, untraced.
    */
  def buildBase(r: Run, dir: String): Unit = {
    val spark = r.spark
    Rag.docsFrame(spark, Gen.docs(r.seed, 0, BaseDocs))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/docs")
    Rag.embed(spark.read.parquet(s"$dir/docs"))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embedded")
    Rag.buildIndexes(Tracer.off(spark), spark,
      spark.read.parquet(s"$dir/docs"), s"$dir/embedded", s"$dir/ivf", s"$dir/text",
      BaseTrainIters)
  }

  /** Runs the read paths once on the base, untraced, so the measured loop
    * starts in a warm JVM; the base is left as it was.
    */
  def warmUp(r: Run, ivf: String, text: String): Unit = {
    val off = Tracer.off(r.spark)
    val qs = Gen.queries(r.seed, 2, 8)
    Rag.hybrid(r, off, ivf, text, qs.head, inner = false)
    batch(r, off, ivf, text, qs)
  }

  /** Builds the base [[Main.SetupReps]] times, each into a fresh
    * directory, and keeps the last. Returns its directory and the set-up
    * times in seconds; the first runs in a cold JVM, and the median leaves
    * it out.
    */
  def setup(r: Run): (String, Seq[Double]) = {
    val times = (0 until Main.SetupReps).map { i =>
      if (i > 0) Main.deleteDir(s"${r.dir}/base${i - 1}")
      val t0 = System.nanoTime()
      buildBase(r, s"${r.dir}/base$i")
      val s = r.elapsedS(t0)
      r.log(f"set-up $i: $s%.2f s")
      s
    }
    (s"${r.dir}/base${Main.SetupReps - 1}", times)
  }

  def byQuery(rows: Array[Row], qCol: Int, idCol: Int, scoreCol: Int,
      rankCol: Int): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(Rag.long(_, qCol)).map { case (q, rs) =>
      q -> rs.sortBy(Rag.long(_, rankCol)).map(x =>
        (Rag.long(x, idCol), x.getDouble(scoreCol))).toSeq
    }

  /** One batch through both arms' batch paths, fused per query; returns
    * each query's dense and lexical lists.
    */
  def batch(r: Run, tr: Tracer, ivf: String, text: String, qb: Seq[Query])
      : Map[Long, (Seq[(Long, Double)], Seq[(Long, Double)])] = {
    val spark = r.spark
    import spark.implicits._
    val d = tr.span("ivf_batch") {
      val probes = qb.map(q => (q.id, Rag.embedder.embed(q.text))).toDF("qid", "qvec")
      byQuery(IvfIndex.searchBatch(spark, ivf, "doc_id", "embedding", probes,
        "qid", "qvec", Rag.ArmK, Rag.NProbe).collect(), 0, 2, 3, 1)
    }
    val l = tr.span("text_batch") {
      byQuery(TextIndex.searchBatch(spark, text, qb.map(q => (q.id, q.terms)),
        Rag.ArmK).collect(), 0, 2, 3, 1)
    }
    tr.span("client") {
      qb.foreach(q => Rag.rrf(d.getOrElse(q.id, Nil), l.getOrElse(q.id, Nil)))
    }
    qb.map(q => q.id -> (d.getOrElse(q.id, Nil), l.getOrElse(q.id, Nil))).toMap
  }

  def run(r: Run): Map[String, Double] = {
    val spark = r.spark
    val (base, setupS) = setup(r)
    val (ivf, text) = (s"$base/ivf", s"$base/text")
    warmUp(r, ivf, text)
    val qs = Gen.queries(r.seed, 1, Queries)
    val tr = r.tr

    val soloMs = mutable.ArrayBuffer[Double]()
    val solo = mutable.ArrayBuffer[(Seq[(Long, Double)], Seq[(Long, Double)])]()
    val batched = mutable.Map[Long, (Seq[(Long, Double)], Seq[(Long, Double)])]()
    var batchS = 0.0
    var batchQueries = 0
    val updated = tr.span("measure") {
      val t0 = System.nanoTime()
      while (soloMs.length < MinSolo || r.elapsedS(t0) < r.seconds * SoloUntil) {
        val q = qs(soloMs.length)
        tr.request = q.id
        val t = System.nanoTime()
        val (d, l, _) = r.op(tr.span("request")(Rag.hybrid(r, tr, ivf, text, q, inner = true)))
        soloMs += r.elapsedS(t) * 1000
        solo += ((d, l))
      }
      var b = 0
      while (b < MinBatches || r.elapsedS(t0) < r.seconds * BatchUntil) {
        val qb = (0 until BatchSize).map(j => qs((b * BatchSize + j) % qs.length))
        tr.request = -2L - b
        val t = System.nanoTime()
        val res = r.op(tr.span("batch")(batch(r, tr, ivf, text, qb)))
        batchS += r.elapsedS(t)
        batchQueries += qb.length
        res.foreach { case (id, x) => if (id < solo.length) batched(id) = x }
        b += 1
      }
      Update.phase(r, tr, ivf, text, BaseDocs, Update.Cycles)
    }
    r.log(s"serve: ${soloMs.length} solo requests: " +
      soloMs.map(x => f"$x%.0f").mkString(" ") + f" ms; $batchQueries batch queries in $batchS%.2f s")
    r.log(s"update: ${Update.Cycles} cycles; freshness " +
      updated.freshMs.map(x => f"$x%.0f").mkString(" ") + " ms; query " +
      updated.queryMs.map(x => f"$x%.0f").mkString(" ") + " ms")

    r.check("at least one solo query also ran in a batch")(batched.nonEmpty)
    batched.toSeq.sortBy(_._1).foreach { case (id, (d, l)) =>
      r.check(s"solo == batch, query $id") {
        Rag.sameIds(solo(id.toInt)._1, d) && Rag.sameIds(solo(id.toInt)._2, l)
      }
    }

    val bytes = Rag.dirBytes(spark, ivf) + Rag.dirBytes(spark, text)
    Map(
      "setup_s" -> Rag.median(setupS),
      "p50_ms" -> Rag.median(soloMs.toSeq),
      "throughput_per_s" -> batchQueries / batchS,
      "fresh_ms" -> Rag.median(updated.freshMs),
      "bytes_per_doc" -> bytes.toDouble / updated.live)
  }
}
