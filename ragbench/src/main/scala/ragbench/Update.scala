package ragbench

import scala.collection.mutable

import org.apache.spark.sql.SaveMode

import graft.store.{IvfIndex, TextIndex}

/** The update phase of the serve workload: writes beside reads on the
  * serving base. Each cycle appends a delta, tombstones live base
  * documents and runs a hybrid query aimed at the delta, so small files
  * and tombstones pile up over the cycles; the last cycle then compacts
  * both indexes.
  */
object Update {
  val Cycles = 2
  val Delta = 250
  val Deletes = 50

  /** `freshMs`: per cycle, from handing in the delta and the ids to
    * tombstone until both appends and both deletes return; `queryMs`: per
    * cycle, the hybrid query.
    */
  final case class Outcome(freshMs: Seq[Double], queryMs: Seq[Double], live: Long)

  /** Runs `cycles` cycles on a base of ids `0 until nBase` under `ivf`
    * and `text`, spans recorded by `tr`.
    */
  def phase(r: Run, tr: Tracer, ivf: String, text: String, nBase: Int,
      cycles: Int): Outcome = {
    val spark = r.spark
    val deleted = mutable.LinkedHashSet[Long]()
    val freshMs, queryMs = mutable.ArrayBuffer[Double]()

    def arms(q: Query) = Rag.hybrid(r, tr, ivf, text, q, inner = false)

    (0 until cycles).foreach { c =>
      tr.request = c
      tr.span("cycle") {
        val delta = Gen.docs(r.seed, nBase + c.toLong * Delta, Delta)
        val deltaDir = s"$ivf-delta$c"
        // live base documents to tombstone
        val rng = Gen.rng(r.seed, 5, c)
        val dels = mutable.LinkedHashSet[Long]()
        while (dels.size < Deletes) {
          val id = rng.nextLong(nBase.toLong)
          if (!deleted(id)) dels += id
        }
        deleted ++= dels
        // 1. the delta: embed, then append to both indexes
        val tIn = System.nanoTime()
        r.op(tr.span("embed") {
          Rag.embed(Rag.docsFrame(spark, delta))
            .write.mode(SaveMode.Overwrite).parquet(s"$deltaDir/embedded")
        })
        r.op(tr.span("ivf_append") {
          IvfIndex.append(spark.read.parquet(s"$deltaDir/embedded"),
            "doc_id", "embedding", ivf)
        })
        r.op(tr.span("text_append") {
          TextIndex.appendBatch(Rag.docsFrame(spark, delta), "doc_id", "text",
            text, Rag.Buckets, c.toLong)
        })

        // 2. tombstones on live base documents
        r.op(tr.span("ivf_delete")(IvfIndex.delete(spark, ivf, dels.toSeq)))
        r.op(tr.span("text_delete")(TextIndex.delete(spark, text, dels.toSeq)))
        freshMs += r.elapsedS(tIn) * 1000

        // 3. a hybrid query aimed at a document of this delta
        val target = delta.find(d => d.dupOf < 0).get
        val q = Gen.queryFor(target, -1L - c)
        val t = System.nanoTime()
        val (d, l, fused) = r.op(tr.span("query")(arms(q)))
        queryMs += r.elapsedS(t) * 1000
        tr.count("query.results", d.length + l.length)
        r.check(s"no tombstoned id returned, cycle $c") {
          !(d ++ l).exists(x => deleted(x._1))
        }
        r.check(s"delta visible after its appends, cycle $c")(fused.contains(target.id))
        // what that query read through, before the compaction clears it
        tr.sample("index_files",
          Rag.parquetFiles(spark, ivf) + Rag.parquetFiles(spark, text))
        tr.sample("tombstones", Rag.footerRows(spark, s"$ivf/tombstones") +
          Rag.footerRows(spark, s"$text/tombstones"))

        // 4. compaction on the last cycle; the query must answer the same after it
        if (c == cycles - 1) {
          r.op(tr.span("ivf_compact")(IvfIndex.compact(spark, ivf)))
          r.op(tr.span("text_compact")(TextIndex.compact(spark, text)))
          val (d2, l2, _) = tr.span("check")(arms(q))
          r.check(s"results unchanged across compaction, cycle $c") {
            Rag.sameIds(d, d2) && Rag.sameIds(l, l2)
          }
        }
      }
    }
    val live = nBase + cycles.toLong * Delta - deleted.size
    r.check("text index live docs == expected")(Rag.textLiveDocs(spark, text) == live)
    Outcome(freshMs.toSeq, queryMs.toSeq, live)
  }
}
