package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sink.TranscriptCatalog

/** Checks of the benchmark's own code, driven by `perfbench/tests`:
  *
  *   gen <seed> <data dir> <out dir>  — write every seeded input at a small
  *       size under <out dir>; print their digests and expected counts.
  *   attribution <out dir>            — write two catalog tables and one
  *       table outside the catalog with the probe on; print the sink
  *       counters the query listener attributed, plus the directory
  *       listings counted over one walk of the routed table
  *       (`walk.dirs_listed`) and over one listing outside the catalog
  *       (`elsewhere.dirs_listed`).
  */
object SelfTest {
  def main(argv: Array[String]): Unit = argv match {
    case Array("gen", seed, data, out) => gen(seed.toLong, data, out)
    case Array("attribution", out) => attribution(out)
    case _ => throw new IllegalArgumentException(argv.mkString(" "))
  }

  private def run(work: String, seed: Long, data: String, trace: Boolean): Run = {
    val r = new Run(BenchMain.Args("selftest", seed, 0, trace, work, data, 2))
    r.newSession(2)
    r
  }

  private def gen(seed: Long, data: String, out: String): Unit = {
    val r = run(s"$out/work", seed, data, trace = false)
    try {
      Inputs.history(r.spark, 6, 2, 500, 3, s"$out/hist")
      val inc = Inputs.increment(r.spark, seed, 6, 2, 500, 2, 2000, 2000, Inputs.Shares(), 3,
        s"$out/inc")
      Inputs.corpus(r.spark, seed, data, 3, s"$out/corpus")
      Inputs.transcript(r.spark, seed, 2000, 500, 3, s"$out/transcript")
      val digests = Seq("hist", "inc", "corpus", "transcript").map(d => d -> Inputs.digest(r.spark, s"$out/$d"))
      val rows = r.spark.read.parquet(s"$out/corpus/documents.parquet").count()
      println(Json.obj(digests ++ Seq("documents" -> rows, "increment" -> Json.Raw(Json.obj(Seq(
        "new" -> inc.newTurns, "duplicates" -> inc.duplicates, "malformed" -> inc.malformed,
        "null_ts" -> inc.nullTs, "committed" -> inc.committedTurns, "late" -> inc.lateTurns))))))
    } finally r.stop()
  }

  private def attribution(out: String): Unit = {
    val r = run(s"$out/work", 0, "", trace = true)
    try {
      val s = r.spark
      val root = s"$out/catalog"
      r.probe.get.watch(root)
      val catalog = new TranscriptCatalog(root, s)
      val df = s.range(0, 1000).select(col("id"),
        (col("id") % 3).cast("string").as("route"), (col("id") % 2).cast("string").as("window_key"))
      catalog.overwritePartitions(df, "routed", Seq("route", "window_key"))
      catalog.append(df.limit(10).select("id"), "metrics")
      df.write.mode("overwrite").parquet(s"$out/elsewhere")
      catalog.read("routed").count()
      def listed() = ListingFs.snapshot()("sink.partition_dirs_listed")
      val beforeWalk = listed()
      catalog.dataFileNames("routed")
      val walk = listed() - beforeWalk
      s.read.parquet(s"$out/elsewhere").count()
      val elsewhere = listed() - beforeWalk - walk
      val counters = r.probe.get.snapshot().filter { case (k, _) => k.startsWith("sink.") } ++
        Map("walk.dirs_listed" -> walk, "elsewhere.dirs_listed" -> elsewhere)
      Files.writeString(Paths.get(out, "attribution.json"), Json.value(counters))
      println(Json.value(counters))
    } finally r.stop()
  }
}
