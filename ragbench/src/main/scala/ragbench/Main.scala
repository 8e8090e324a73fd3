package ragbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Persistent outputs of a run (manifest, spans, time table), written
  * under one directory with a `<workload>-seed<n>-` prefix.
  */
final class Artifacts(dir: String, prefix: String) {
  def write(name: String, content: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, s"$prefix$name"), content.getBytes(StandardCharsets.UTF_8))
  }
}

/** One benchmark run:
  * `--workload ingest|serve --seed N --seconds S --trace 0|1
  *  --work DIR --out DIR`.
  * The last stdout line is the result object; the exit code is 0 only
  * when every operation and output check passed.
  */
object Main {
  /** Timed set-ups per run; `setup_s` is their median. */
  val SetupReps = 3
  val Cores = 4

  /** End-to-end metrics: every workload reports each one. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "p50_ms" -> "ms",
    "throughput_per_s" -> "1/s", "fresh_ms" -> "ms", "bytes_per_doc" -> "B")

  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val paths = Files.walk(p)
      try paths.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
      finally paths.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String): String =
      opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(Set("ingest", "serve")(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath.toString
    val out = new Artifacts(opt("out"), s"$workload-seed$seed-")

    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("ragbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tr = new Tracer(spark, trace)
    val r = new Run(spark, seed, seconds, s"$work/data", tr)
    r.log("session up")

    val e2e = try workload match {
      case "ingest" => Ingest.run(r)
      case "serve" => Serve.run(r)
    } catch {
      case e: Exception =>
        r.log(s"$workload failed: $e")
        e.printStackTrace()
        r.attempted += 1
        r.failed += 1
        Map.empty[String, Double]
    }
    val metrics: Seq[(String, Double, String)] =
      if (trace) {
        val t = tr.finish()
        out.write("spans.jsonl", t.spanLines.mkString("", "\n", "\n"))
        val table = Layers.timeTable(workload, seed, t)
        out.write("time.md", table)
        System.err.println(table)
        r.log("traced end-to-end values (for the tracing overhead): " +
          e2e.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.4f" }.mkString(" "))
        Layers.compute(workload, t)
      } else EndToEnd.flatMap { case (k, unit) => e2e.get(k).map(v => (k, v, unit)) }
    spark.stop()
    val ds = Gen.docs(seed, 0, if (workload == "ingest") Ingest.Docs else Serve.BaseDocs)
    val ps = Gen.pages(ds)
    out.write("manifest.json", Gen.manifest(ds, ps.length,
      ps.map(_._3.length.toLong).sum, Gen.queries(seed, 1, Serve.Queries)) + "\n")

    val correct = r.failed == 0 && (trace || metrics.length == EndToEnd.length)
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> Json.num(math.max(r.attempted, 1L)),
      "failed" -> Json.num(r.failed),
      "metrics" -> Json.obj(metrics.map { case (k, v, unit) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      }))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
