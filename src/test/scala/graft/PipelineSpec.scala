package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.agg.Rollup
import graft.app.PipelineJob
import graft.checkpoint.Checkpoint
import graft.gen.TranscriptGen
import graft.model.PipelineConfig
import graft.sink.TranscriptCatalog

/** End-to-end pipeline tests: routing invariants, per-turn text equality
  * under stable ordering (north-rule invariant), checkpoint/resume
  * convergence (SURVEY.md §5: delete half the sink, rerun, assert
  * convergence).
  */
class PipelineSpec extends SparkSpecBase {

  private val N = 20000L

  /** Runs `body` and returns its result with the root path of every file
    * relation a query read meanwhile (seen by a query listener).
    */
  private def scannedRoots[T](body: => T): (T, Seq[String]) = {
    val roots = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed.foreach {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation =>
              h.location.rootPaths.foreach(p => roots.add(p.toUri.getPath))
            case _ =>
          }
          case _ =>
        }
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = body
      ListenerBusAccess.drain(spark.sparkContext)
      (r, roots.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** (route, window) partition directories of `out`'s routed table. */
  private def routedDirs(out: String): Seq[java.io.File] =
    new java.io.File(s"$out/routed").listFiles.toSeq
      .filter(_.getName.startsWith("route="))
      .flatMap(_.listFiles.toSeq.filter(_.getName.startsWith("window_key=")))

  private def windowOf(dir: java.io.File): String =
    dir.getName.stripPrefix("window_key=")

  test("pipeline e2e: routes partition the input; aggregates tally to input size") {
    val out = tmpDir("pipe-e2e")
    val raw = TranscriptGen.generate(spark, N, 4)
    val res = PipelineJob.run(spark, raw, out, PipelineConfig(), "t1")
    res.metrics("rows_parsed") shouldBe N
    res.routeCounts.values.sum shouldBe N
    val catalog = new TranscriptCatalog(out, spark)
    val agg = catalog.read("aggregates")
    agg.filter(col("dim") === "tool").agg(sum("cnt")).head.getLong(0) shouldBe N
    agg.filter(col("dim") === "role").agg(sum("cnt")).head.getLong(0) shouldBe N
  }

  test("per-turn text equality under stable (conv_id, turn_idx) ordering") {
    val out = tmpDir("pipe-text")
    val raw = TranscriptGen.generate(spark, 5000, 4)
    PipelineJob.run(spark, raw, out, PipelineConfig(), "t1")
    val catalog = new TranscriptCatalog(out, spark)
    // The routed sink must preserve every turn's text byte-for-byte: join
    // back to the generator on the stable key and compare.
    val sunk = catalog.read("routed").select("conv_id", "turn_idx", "text")
    val joined = raw.select(col("conv_id"), col("turn_idx"),
        col("text").as("expected_text"))
      .join(sunk, Seq("conv_id", "turn_idx"), "full_outer")
    joined.filter(col("text").isNull || col("expected_text").isNull ||
      col("text") =!= col("expected_text")).count() shouldBe 0
  }

  test("rerun with same data is a no-op; checkpoint carries lineage") {
    val out = tmpDir("pipe-rerun")
    val raw = TranscriptGen.generate(spark, 10000, 4)
    val r1 = PipelineJob.run(spark, raw, out, PipelineConfig(), "t1")
    val aggBefore = new TranscriptCatalog(out, spark).read("aggregates").count()
    val r2 = PipelineJob.run(spark, raw, out, PipelineConfig(), "t2")
    r2.processedWindows shouldBe empty
    new TranscriptCatalog(out, spark).read("aggregates").count() shouldBe aggBefore
    val m = Checkpoint.read(s"$out/_checkpoint").get
    m.committedPartitions.map(_.rows).sum shouldBe 10000L
    m.committedPartitions.size shouldBe r1.processedWindows.size
  }

  test("resume convergence: corrupt half the aggregate sink, clear its " +
    "checkpoint entries, rerun -> byte-identical aggregate state") {
    val out = tmpDir("pipe-resume")
    val raw = TranscriptGen.generate(spark, 10000, 4)
    PipelineJob.run(spark, raw, out, PipelineConfig(), "t1")
    val catalog = new TranscriptCatalog(out, spark)
    def canon() = catalog.read("aggregates")
      .orderBy("window_key", "conv_id", "dim", "key")
      .collect().map(_.toString).toSeq

    val golden = canon()
    val m = Checkpoint.read(s"$out/_checkpoint").get
    val windows = m.committedPartitions.map(_.partition).sorted
    val (lost, kept) = windows.splitAt(windows.size / 2)

    // Simulate a failed run: delete half the committed window partitions from
    // the sink AND from the manifest (as if they never committed).
    lost.foreach { w =>
      val dir = new java.io.File(s"$out/aggregates/window_key=$w")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(dir)
    }
    Checkpoint.write(s"$out/_checkpoint", m.copy(
      committedPartitions = m.committedPartitions.filter(p => kept.contains(p.partition))))

    val r = PipelineJob.run(spark, raw, out, PipelineConfig(), "t2")
    r.processedWindows.sorted shouldBe lost
    canon() shouldBe golden
  }

  test("duplicate rows are dropped, counted, and never hide invalid rows") {
    val out = tmpDir("pipe-dups")
    val raw = TranscriptGen.generate(spark, 5000, 4)
    // 500 exact duplicate rows + 2 DISTINCT invalid rows that share the
    // dedup key (null conv_id, same turn_idx): validation must run before
    // dedup so both reach quarantine instead of collapsing to one.
    val dups = raw.filter(pmod(col("turn_idx"), lit(10)) === 3).limit(500)
    val bad = raw.limit(2)
      .withColumn("conv_id", lit(null).cast("string"))
      .withColumn("turn_idx", lit(7))
      .withColumn("text", concat(lit("bad-"), monotonically_increasing_id()))
      .withColumn("role", lit(null).cast("string"))
    val res = PipelineJob.run(spark, raw.unionByName(dups).unionByName(bad),
      out, PipelineConfig(), "t1")
    res.metrics("rows_ingested") shouldBe 5502L
    res.metrics("rows_quarantined") shouldBe 2L
    res.metrics("rows_duplicates_dropped") shouldBe 500L
    res.metrics("rows_parsed") shouldBe 5000L
    new TranscriptCatalog(out, spark).read("quarantine").count() shouldBe 2L
  }

  test("crash-recovery GC: orphan uncommitted partitions are cleared, not leaked") {
    val out = tmpDir("pipe-gc")
    val raw = TranscriptGen.generate(spark, 5000, 4)
    val r1 = PipelineJob.run(spark, raw, out, PipelineConfig(), "t1")
    // Simulate a run that died after writing a (route, window) partition but
    // before its manifest commit: plant orphan dirs with a window key no
    // future input will produce.
    val catalog = new TranscriptCatalog(out, spark)
    val committedW = r1.processedWindows.head
    for (dir <- Seq(s"$out/routed/route=errors/window_key=99990101T0000Z",
        s"$out/aggregates/window_key=99990101T0000Z")) {
      val d = new java.io.File(dir)
      d.mkdirs()
      val src = new java.io.File(s"$out/aggregates/window_key=$committedW")
        .listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(src.toPath,
        new java.io.File(d, src.getName).toPath)
    }
    val r2 = PipelineJob.run(spark, raw, out, PipelineConfig(), "t2")
    r2.metrics("partitions_gc") shouldBe 2L
    new java.io.File(s"$out/routed/route=errors/window_key=99990101T0000Z")
      .exists() shouldBe false
    // aggregates still tally exactly to the input — no orphan leakage
    catalog.read("aggregates").filter(col("dim") === "tool")
      .agg(sum("cnt")).head.getLong(0) shouldBe 5000L
  }

  test("manifest compaction: old windows fold into the watermark; rerun still no-op") {
    val out = tmpDir("pipe-compact")
    val raw = TranscriptGen.generate(spark, 10000, 4)
    val cfg = PipelineConfig(maxLineageWindows = 3)
    val r1 = PipelineJob.run(spark, raw, out, cfg, "t1")
    r1.processedWindows.size should be > 3
    val m = Checkpoint.read(s"$out/_checkpoint").get
    m.committedPartitions.size shouldBe 3
    m.watermark should not be empty
    m.foldedRows + m.committedPartitions.map(_.rows).sum shouldBe 10000L
    // resume filter = range + bounded isin: a rerun must still be a no-op
    // (rows_skipped is not asserted here: a fully-skipped rerun is a
    // zero-task write, and Spark never fires CollectMetrics for it)
    val r2 = PipelineJob.run(spark, raw, out, cfg, "t2")
    r2.processedWindows shouldBe empty
    r2.metrics("rows_parsed") shouldBe 0L
    // full lineage survives in the append-only lineage table
    new TranscriptCatalog(out, spark).read("lineage")
      .agg(sum("rows")).head.getLong(0) shouldBe 10000L
  }

  test("late rows (below watermark) and committed replays are counted, not invisible") {
    val out = tmpDir("pipe-late")
    val raw = TranscriptGen.generate(spark, 5000, 4) // 5 minute-windows × 1000
    val cfg = PipelineConfig(maxLineageWindows = 2)
    PipelineJob.run(spark, raw, out, cfg, "t1")
    // Partial resume: the old 5 windows replay (3 folded below the
    // watermark = late, 2 still listed in the manifest = committed
    // replays) alongside 5 genuinely new windows. (A FULLY-skipped rerun
    // is a zero-task write whose CollectMetrics never fires — counts
    // default to 0 there by design; the partial case is the one that
    // matters operationally.)
    val raw2 = raw.unionByName(
      raw.withColumn("ts", col("ts") + expr("INTERVAL 5 MINUTES")))
    val r2 = PipelineJob.run(spark, raw2, out, cfg, "t2")
    r2.metrics("rows_seen") shouldBe 10000L
    r2.metrics("rows_late_dropped") shouldBe 3000L
    r2.metrics("rows_skipped_committed") shouldBe 2000L
    r2.metrics("rows_ingested") shouldBe 5000L
    r2.metrics("rows_parsed") shouldBe 5000L
  }

  test("null-ts rows are quarantined on resume runs too (null scope guard)") {
    val out = tmpDir("pipe-nullts")
    val raw = TranscriptGen.generate(spark, 2000, 4) // 2 minute-windows
    val cfg = PipelineConfig(maxLineageWindows = 1)
    PipelineJob.run(spark, raw, out, cfg, "t1") // leaves a nonempty watermark
    // Resume run: a null-ts row has a null window_key, so the scope
    // predicate evaluates NULL — it must be quarantined as ING_1000, not
    // silently swallowed by a null filter.
    val nullTs = raw.limit(1)
      .withColumn("ts", lit(null).cast("timestamp"))
      .withColumn("conv_id", lit("conv-null-ts"))
    val raw2 = raw
      .unionByName(raw.withColumn("ts", col("ts") + expr("INTERVAL 60 MINUTES")))
      .unionByName(nullTs)
    val r2 = PipelineJob.run(spark, raw2, out, cfg, "t2")
    r2.metrics("rows_quarantined") shouldBe 1L
    new TranscriptCatalog(out, spark).read("quarantine")
      .filter(col("conv_id") === "conv-null-ts").count() shouldBe 1L
  }

  test("committed quarantine history survives later runs' crash-recovery GC") {
    val out = tmpDir("pipe-quar-gc")
    // Run 1: one null-ts row (→ synthetic "invalid" partition — a key that
    // can never enter the routed committed set) plus normal data.
    val raw = TranscriptGen.generate(spark, 2000, 4)
    val nullTs = raw.limit(1)
      .withColumn("ts", lit(null).cast("timestamp"))
      .withColumn("conv_id", lit("conv-quar-gc"))
    val r1 = PipelineJob.run(spark, raw.unionByName(nullTs), out,
      PipelineConfig(), "t1")
    r1.metrics("rows_quarantined") shouldBe 1L
    val catalog = new TranscriptCatalog(out, spark)
    catalog.read("quarantine").count() shouldBe 1L
    // Run 2 on new windows: GC must NOT wipe run 1's committed quarantine.
    val later = raw.withColumn("ts", col("ts") + expr("INTERVAL 60 MINUTES"))
    PipelineJob.run(spark, later, out, PipelineConfig(), "t2")
    catalog.read("quarantine")
      .filter(col("conv_id") === "conv-quar-gc").count() shouldBe 1L
    // ...while a genuinely ORPHANED quarantine partition (no manifest
    // record) is still swept on the next run.
    val orphan = new java.io.File(s"$out/quarantine/window_key=99990101T0000Z")
    orphan.mkdirs()
    val src = new java.io.File(s"$out/quarantine/window_key=invalid")
      .listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(orphan, src.getName).toPath)
    val evenLater = raw.withColumn("ts", col("ts") + expr("INTERVAL 120 MINUTES"))
    PipelineJob.run(spark, evenLater, out, PipelineConfig(), "t3")
    orphan.exists() shouldBe false
    catalog.read("quarantine")
      .filter(col("conv_id") === "conv-quar-gc").count() shouldBe 1L
  }

  test("upgrading from a pre-round-3 manifest adopts existing quarantine history") {
    val out = tmpDir("pipe-quar-upgrade")
    val raw = TranscriptGen.generate(spark, 2000, 4)
    val nullTs = raw.limit(1)
      .withColumn("ts", lit(null).cast("timestamp"))
      .withColumn("conv_id", lit("conv-upgrade"))
    PipelineJob.run(spark, raw.unionByName(nullTs), out, PipelineConfig(), "u1")
    val catalog = new TranscriptCatalog(out, spark)
    catalog.read("quarantine").count() shouldBe 1L
    // Simulate the manifest having been written by pre-round-3 code: strip
    // the quarantinePartitions field entirely.
    val mPath = java.nio.file.Paths.get(s"$out/_checkpoint/manifest.json")
    val stripped = java.nio.file.Files.readString(mPath)
      .replaceAll(""""quarantinePartitions":\[[^\]]*\],""", "")
    java.nio.file.Files.writeString(mPath, stripped)
    // The next run's GC must ADOPT (not sweep) the unrecorded-but-real
    // quarantine partition, and re-record it in the new manifest.
    val later = raw.withColumn("ts", col("ts") + expr("INTERVAL 60 MINUTES"))
    PipelineJob.run(spark, later, out, PipelineConfig(), "u2")
    catalog.read("quarantine")
      .filter(col("conv_id") === "conv-upgrade").count() shouldBe 1L
    graft.checkpoint.Checkpoint.read(s"$out/_checkpoint").get
      .quarantinePartitions should contain("invalid")
  }

  test("quarantined rows are excluded from aggregates and recorded with codes") {
    val out = tmpDir("pipe-quar")
    val raw = TranscriptGen.generate(spark, 5000, 4)
      .withColumn("text", when(pmod(col("turn_idx"), lit(10)) === 9,
        lit(null).cast("string")).otherwise(col("text")))
    val res = PipelineJob.run(spark, raw, out, PipelineConfig(), "t1")
    val catalog = new TranscriptCatalog(out, spark)
    val q = catalog.read("quarantine")
    val quarantined = q.count()
    quarantined should be > 0L
    res.metrics("rows_parsed") + quarantined shouldBe 5000L
    q.select("error_code").distinct().collect().map(_.getString(0)) shouldBe
      Array("ING_1000")
    catalog.read("aggregates").filter(col("dim") === "tool")
      .agg(sum("cnt")).head.getLong(0) shouldBe res.metrics("rows_parsed")
  }

  test("scoped read-back: a commit scans only the routed partitions it " +
    "wrote, a replay scans none; counts match an independent read") {
    val out = tmpDir("pipe-scoped")
    val raw = TranscriptGen.generate(spark, 3000, 4) // 3 minute-windows
    PipelineJob.run(spark, raw, out, PipelineConfig(), "t1")
    // History replayed (committed windows) alongside 3 new windows.
    val raw2 = raw.unionByName(
      raw.withColumn("ts", col("ts") + expr("INTERVAL 60 MINUTES")))
    val (r2, roots2) = scannedRoots(
      PipelineJob.run(spark, raw2, out, PipelineConfig(), "t2"))
    r2.processedWindows.size shouldBe 3
    val thisRun = routedDirs(out)
      .filter(d => r2.processedWindows.contains(windowOf(d))).map(_.getPath)
    roots2.filter(_.startsWith(s"$out/routed")).toSet shouldBe thisRun.toSet

    // Route counts and lineage equal Spark's own read of those windows.
    val independent = spark.read.parquet(s"$out/routed")
      .filter(col("window_key").isin(r2.processedWindows: _*))
    def counts(by: String) = independent.groupBy(by).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    r2.routeCounts shouldBe counts("route")
    r2.routeCounts.values.sum shouldBe 3000L
    val perWindow = counts("window_key")
    new TranscriptCatalog(out, spark).read("lineage")
      .filter(col("run_id") === "t2").collect()
      .map(r => r.getAs[String]("window_key") -> r.getAs[Long]("rows"))
      .toMap shouldBe perWindow
    Checkpoint.read(s"$out/_checkpoint").get.committedPartitions
      .filter(p => perWindow.contains(p.partition))
      .map(p => p.partition -> p.rows).toMap shouldBe perWindow

    val (r3, roots3) = scannedRoots(
      PipelineJob.run(spark, raw2, out, PipelineConfig(), "t3"))
    r3.processedWindows shouldBe empty
    r3.metrics("agg_rows") shouldBe 0L
    roots3.filter(_.startsWith(s"$out/routed")) shouldBe empty
  }

  test("crashed-write debris (_temporary, .spark-staging-*) is invisible " +
    "to partition listing, GC and a commit's route counts") {
    val out = tmpDir("pipe-debris")
    val raw = TranscriptGen.generate(spark, 2000, 4)
    val r1 = PipelineJob.run(spark, raw, out, PipelineConfig(), "t1")
    val later = raw.withColumn("ts", col("ts") + expr("INTERVAL 60 MINUTES"))
    val next = later.select(Rollup.windowKey(
        Rollup.windowStart(col("ts"), "minute"), "minute"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    // A crashed write's partitions, for a window the next commit writes,
    // in the committer's task-attempt layout and in dynamic overwrite's
    // staging layout.
    val src = routedDirs(out).head.listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val debris = Seq(
      s"$out/routed/_temporary/0/_temporary/attempt_0/route=errors/window_key=${next.head}",
      s"$out/routed/.spark-staging-0/route=errors/window_key=${next.head}")
      .map(new java.io.File(_))
    debris.foreach { d =>
      d.mkdirs()
      java.nio.file.Files.copy(src.toPath, new java.io.File(d, src.getName).toPath)
    }
    val catalog = new TranscriptCatalog(out, spark)
    catalog.listPartitionValues("routed", "window_key").toSet shouldBe
      r1.processedWindows.toSet
    catalog.dropPartitions("routed", "window_key", next.contains) shouldBe empty
    debris.foreach(_.exists() shouldBe true)

    val r2 = PipelineJob.run(spark, later, out, PipelineConfig(), "t2")
    r2.processedWindows shouldBe next
    r2.routeCounts shouldBe spark.read.parquet(s"$out/routed")
      .filter(col("window_key").isin(next: _*))
      .groupBy("route").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    r2.metrics("rows_routed") shouldBe 2000L
    catalog.read("aggregates").filter(col("dim") === "tool")
      .agg(sum("cnt")).head.getLong(0) shouldBe 4000L
  }

  test("routed and quarantine writes leave at most one file per partition") {
    val out = tmpDir("pipe-files")
    // 4 input tasks over 3 windows: every window spans two tasks.
    val raw = TranscriptGen.generate(spark, 3000, 4)
      .withColumn("text", when(pmod(col("turn_idx"), lit(10)) === 9,
        lit(null).cast("string")).otherwise(col("text")))
    val res = PipelineJob.run(spark, raw, out, PipelineConfig(), "t1")
    res.metrics("rows_quarantined") should be > 0L
    def files(dir: java.io.File) =
      dir.listFiles.count(_.getName.endsWith(".parquet"))
    val routed = routedDirs(out)
    routed.map(windowOf).toSet shouldBe res.processedWindows.toSet
    routed.map(files).max shouldBe 1
    val quarantine = new java.io.File(s"$out/quarantine").listFiles
      .filter(_.getName.startsWith("window_key="))
    quarantine.map(windowOf).toSet shouldBe res.processedWindows.toSet
    quarantine.map(files).max shouldBe 1
  }
}
