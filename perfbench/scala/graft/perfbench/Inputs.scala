package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.TranscriptGen

/** Seeded input builders. The program under test only ever sees the files
  * these write; the same seed writes byte-identical files.
  */
object Inputs {

  /** Shares of injected rows, in basis points of the generated turns. No
    * measured rate stands behind them: they are chosen only so that each
    * check of a 25 000-turn increment sees over a hundred rows of each kind.
    */
  final case class Shares(dupBp: Int = 200, malformedBp: Int = 100, nullTsBp: Int = 50)

  /** Uniform draw in [0, 10000) per (seed, salt, conv_id, turn_idx). */
  private def draw(seed: Long, salt: Int): Column =
    pmod(xxhash64(lit(seed), lit(salt), col("conv_id"), col("turn_idx")), lit(10000L))

  /** Rename Spark's part files to `part-NNNNN.parquet` (their task order)
    * and drop commit markers and checksums, so file names and bytes depend
    * only on the data.
    */
  private def finalizeDir(dir: String): Unit = {
    val files = new File(dir).listFiles().toSeq
    files.filter(f => f.getName.startsWith("_") || f.getName.startsWith(".")).foreach(_.delete())
    files.filter(_.getName.startsWith("part-")).sortBy(_.getName).zipWithIndex.foreach {
      case (f, i) => Files.move(f.toPath, Paths.get(dir, f"part-$i%05d.parquet"))
    }
  }

  /** Write `df` as `nFiles` files: rows spread over files and ordered
    * within each by seeded hashes of `key`.
    */
  private def writeShuffled(df: DataFrame, seed: Long, key: Seq[Column], nFiles: Int,
      dir: String): Unit = {
    df.repartition(nFiles, xxhash64((lit(seed) +: key): _*))
      .sortWithinPartitions((xxhash64((lit(seed + 1) +: key): _*) +: key): _*)
      .write.mode("overwrite").parquet(dir)
    finalizeDir(dir)
  }

  /** The new-window turns of an increment: exact re-deliveries of a
    * `dupBp` share are added, a `malformedBp` share gets an invalid role
    * and a `nullTsBp` share a null timestamp. Each row's category is in
    * its `cat` column.
    */
  private def inject(turns: DataFrame, seed: Long, shares: Shares): DataFrame = {
    val u = draw(seed, 0)
    val cat = when(u < shares.dupBp, lit("dup"))
      .when(u < shares.dupBp + shares.malformedBp, lit("malformed"))
      .when(u < shares.dupBp + shares.malformedBp + shares.nullTsBp, lit("null_ts"))
      .otherwise(lit("ok"))
    val mutated = turns.withColumn("cat", cat)
      .withColumn("role", when(col("cat") === "malformed", lit("bogus")).otherwise(col("role")))
      .withColumn("ts", when(col("cat") === "null_ts", lit(null).cast("timestamp"))
        .otherwise(col("ts")))
    mutated.unionByName(mutated.filter(col("cat") === "dup").withColumn("cat", lit("dup_copy")))
  }

  /** `nTurns` generated turns (`rowsPerMinute` per minute, 10% of them in
    * 4 hot conversations), shuffled over `nFiles` files by the seed.
    */
  def transcript(spark: SparkSession, seed: Long, nTurns: Long, rowsPerMinute: Long,
      nFiles: Int, dir: String): Unit =
    writeShuffled(TranscriptGen.generate(spark, nTurns, 8, rowsPerMinute), seed, turnKey,
      nFiles, dir)

  /** What the commit of an increment must report. */
  final case class Increment(newTurns: Long, duplicates: Long, malformed: Long, nullTs: Long,
      committedTurns: Long, lateTurns: Long) {
    def quarantined: Long = malformed + nullTs
    def routed: Long = newTurns - quarantined
  }

  /** `historyWindows + newWindows` minutes of `rowsPerMinute` generated
    * turns each (10% of all turns in 4 hot conversations), with each turn's
    * minute.
    */
  private def minutes(spark: SparkSession, historyWindows: Int, newWindows: Int,
      rowsPerMinute: Long): DataFrame =
    TranscriptGen.generate(spark, (historyWindows + newWindows) * rowsPerMinute, 8, rowsPerMinute)
      .withColumn("minute",
        ((unix_seconds(col("ts")) - lit(TranscriptGen.baseEpochSec)) / 60).cast("long"))

  private val turnKey = Seq(col("conv_id"), col("turn_idx"))

  /** The `pipe_incremental` history: every turn of the first
    * `historyWindows` minutes, the same for every seed (its rows are
    * shuffled over `nFiles` files by seed 0), so its catalog is built once.
    */
  def history(spark: SparkSession, historyWindows: Int, newWindows: Int, rowsPerMinute: Long,
      nFiles: Int, dir: String): Unit =
    writeShuffled(minutes(spark, historyWindows, newWindows, rowsPerMinute)
      .filter(col("minute") < historyWindows).drop("minute"), 0L, turnKey, nFiles, dir)

  /** The `pipe_incremental` increment: every turn of the `newWindows` minutes
    * after the history with injected rows (`shares`), a `committedBp` share
    * of the turns of committed minutes after the first `lateWindows`
    * (replays the resume filter must skip), and a `lateBp` share of the
    * turns of the first `lateWindows` minutes (late rows behind the
    * watermark). The seed picks the injected and sampled rows and shuffles
    * the rows over `nFiles` files.
    */
  def increment(spark: SparkSession, seed: Long, historyWindows: Int, newWindows: Int,
      rowsPerMinute: Long, lateWindows: Int, committedBp: Int, lateBp: Int, shares: Shares,
      nFiles: Int, dir: String): Increment = {
    val all = minutes(spark, historyWindows, newWindows, rowsPerMinute)
    val m = col("minute")
    val u = draw(seed, 1)
    val old = all.filter(m < historyWindows)
      .withColumn("cat", when(m >= lateWindows && u < committedBp, lit("committed"))
        .when(m < lateWindows && u < lateBp, lit("late")))
      .filter(col("cat").isNotNull)
    val inc = inject(all.filter(m >= historyWindows), seed, shares).unionByName(old)
      .drop("minute").persist()
    writeShuffled(inc.drop("cat"), seed, turnKey :+ col("cat"), nFiles, dir)
    val n = inc.groupBy("cat").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
    inc.unpersist()
    Increment(n("ok") + n("dup") + n("malformed") + n("null_ts"), n("dup_copy"),
      n("malformed"), n("null_ts"), n("committed"), n("late"))
  }

  /** `corpus_catalog` input: the same documents and embeddings rows,
    * re-split by the seed into `nFiles` files per table in a fresh
    * `dir/<table>.parquet/` directory.
    */
  def corpus(spark: SparkSession, seed: Long, sourceDir: String, nFiles: Int, dir: String): Unit =
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id").foreach { case (t, k) =>
      writeShuffled(spark.read.parquet(s"$sourceDir/$t.parquet"), seed, Seq(col(k)), nFiles,
        s"$dir/$t.parquet")
    }

  /** Hard-link copy of a directory tree. Safe for a catalog snapshot: the
    * pipeline replaces files (new inode) and never rewrites one in place.
    */
  def linkTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.createLink(dst, p)
    } finally walk.close()
  }

  def deleteTree(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))

  /** SHA-256 over every parquet file under `dir`: its relative name, its
    * size and its rows in file order. Not over raw bytes: parquet-mr writes
    * a column chunk's set of encodings in an order that can change from one
    * JVM to the next, so two writes of the same rows may differ in footer
    * bytes that no reader interprets.
    */
  def digest(spark: SparkSession, dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    val files = try walk.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .sortBy(p => root.relativize(p).toString) finally walk.close()
    files.foreach { p =>
      md.update(s"${root.relativize(p)} ${Files.size(p)}\n".getBytes("UTF-8"))
      spark.read.parquet(p.toString).collect().foreach(r => md.update(r.toString.getBytes("UTF-8")))
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}
