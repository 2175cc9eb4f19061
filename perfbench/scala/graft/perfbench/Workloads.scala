package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.Rollup
import graft.app.PipelineJob
import graft.checkpoint.Checkpoint
import graft.enrich.Enrich
import graft.model.PipelineConfig
import graft.parse.TranscriptParse
import graft.route.Router
import graft.sink.TranscriptCatalog

/** Pipeline calls, checks and per-layer measurements. */
object Pipe {
  val tables: Seq[String] = Seq("routed", "aggregates", "quarantine", "metrics", "lineage")

  def config(r: Run, maxLineageWindows: Int = 4096): PipelineConfig =
    PipelineConfig(shufflePartitions = r.a.cores, maxLineageWindows = maxLineageWindows)

  def run(r: Run, in: String, catalog: String, cfg: PipelineConfig, runId: String)
      : PipelineJob.Result = {
    r.probe.foreach(_.watch(catalog))
    PipelineJob.run(r.spark, r.spark.read.parquet(in), catalog, cfg, runId)
  }

  def expect(m: Map[String, Long], want: (String, Long)*): Seq[String] = want.collect {
    case (k, v) if m.getOrElse(k, -1L) != v => s"$k=${m.getOrElse(k, -1L)} want $v"
  }

  /** Checks that every dim's sum(cnt) in `aggregates` equals `routed`, in
    * one read that also counts the table's rows: (problems, rows).
    */
  def aggregateSums(r: Run, catalog: String, routed: Long): (Seq[String], Long) = {
    val dims = new TranscriptCatalog(catalog, r.spark).read("aggregates")
      .groupBy("dim").agg(sum("cnt"), count(lit(1))).collect()
    val sums = dims.map(x => x.getString(0) -> x.getLong(1))
    val problems =
      if (sums.length != 2) Seq(s"aggregates dims ${sums.map(_._1).mkString(",")}")
      else sums.toSeq.collect { case (d, s) if s != routed => s"aggregates $d sum=$s want $routed" }
    (problems, dims.map(_.getLong(2)).sum)
  }

  def aggregateRows(r: Run, catalog: String): Long =
    new TranscriptCatalog(catalog, r.spark).read("aggregates").count()

  /** `app.phase_s.*` and `app.unphased_s` from one run's metrics and wall time. */
  def phases(res: PipelineJob.Result, wall: Double): Map[String, Double] = {
    val ph = Seq("partition_gc", "route_write", "route_counts", "rollup_write")
      .map(p => s"app.phase_s.$p" -> res.metrics.getOrElse(s"phase_ms_$p", 0L) / 1e3)
    ph.toMap + ("app.unphased_s" -> (wall - ph.map(_._2).sum))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Public layer functions composed cumulatively over `in`: ingest (scan
    * and window key), parse, enrich, route (route column and the pre-write
    * repartition), agg (the salted exploded rollup).
    */
  def prefixes(r: Run, in: String): Seq[(String, DataFrame)] = {
    val s = r.spark
    val cfg = config(r)
    val raw = s.read.parquet(in)
      .withColumn("window_start", Rollup.windowStart(col("ts"), cfg.windowSize))
      .withColumn("window_key", Rollup.windowKey(col("window_start"), cfg.windowSize))
    val parsed = TranscriptParse.extract(TranscriptParse.classify(raw, cfg.maxTextLen)._1)
    val enriched = Enrich.enrich(parsed, s)
    val routed = enriched.withColumn("route", Router.routeColumn(Router.defaultRoutes))
      .repartition(cfg.shufflePartitions, col("route"), col("window_key"))
    val agg = Rollup.explodedRollup(routed.drop("text", "window_start"), cfg.windowSize,
      cfg.saltBuckets)
    Seq("ingest" -> raw, "parse" -> parsed, "enrich" -> enriched, "route" -> routed,
      "agg" -> agg)
  }

  /** Each prefix written to the `noop` sink `reps` times. A layer's self
    * time is the difference between the median of its prefix and of the
    * one before. The route prefix writes one shuffle (the repartition); the
    * agg prefix writes that one first, then the two aggregation shuffles.
    */
  def layers(r: Run, in: String, reps: Int): Unit = {
    val stages = scala.collection.mutable.Map.empty[String, Seq[EngineListener.Stage]]
    (1 to reps).foreach { _ =>
      prefixes(r, in).foreach { case (n, df) =>
        r.probe.foreach(_.engine.takeStages())
        val (_, t) = r.time(r.tracer.span(s"layer.$n")(noop(df)))
        r.sample(s"layer.$n", t)
        stages(n) = r.probe.map(_.engine.takeStages()).getOrElse(Nil)
      }
    }
    def wall(n: String) = Stats.median(r.samples(s"layer.$n").toSeq)
    prefixes(r, in).map(_._1).sliding(2).foreach { case Seq(prev, n) =>
      r.layer(s"$n.self_s") = wall(n) - wall(prev)
    }
    def writers(n: String) = stages(n).filter(_.shuffleWriteBytes > 0)
    r.layer("route.shuffle_write_bytes") = writers("route").map(_.shuffleWriteBytes).sum.toDouble
    r.layer("agg.shuffle_write_bytes") = writers("agg").drop(1).map(_.shuffleWriteBytes).sum.toDouble
    // Shuffle-reading stages of the agg prefix in stage order: the route
    // repartition's reader, then the salted stage-1 aggregate's reader.
    r.layer("agg.stage1_task_skew") =
      stages("agg").filter(_.shuffleReadRecords.nonEmpty).lift(1).map { st =>
        st.shuffleReadRecords.max / math.max(1.0,
          Stats.median(st.shuffleReadRecords.map(_.toDouble)))
      }.getOrElse(0.0)
  }

  /** Checkpoint read and write timed from outside over `catalog`'s manifest. */
  def checkpointTimes(r: Run, catalog: String, reps: Int): Unit = {
    val ck = s"$catalog/_checkpoint"
    val scratch = r.dir("checkpoint-scratch")
    val reads = (1 to reps).map(_ => r.time(r.tracer.span("checkpoint.read")(Checkpoint.read(ck)))._2)
    val m = Checkpoint.read(ck).get
    val writes = (1 to reps).map(_ =>
      r.time(r.tracer.span("checkpoint.write")(Checkpoint.write(scratch, m)))._2)
    r.layer("checkpoint.read_s") = Stats.median(reads)
    r.layer("checkpoint.write_s") = Stats.median(writes)
    r.layer("checkpoint.manifest_bytes") = new File(ck, "manifest.json").length.toDouble
    Inputs.deleteTree(scratch)
  }

  /** Per-layer metrics summed per operation over the spans named `span`. */
  def opCounters(r: Run, span: String): Unit = {
    val keys = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_wait_s",
      "spark.task_failures", "spark.executor_cpu_s", "spark.executor_run_s", "spark.gc_s",
      "spark.spill_bytes", "spark.shuffle_write_bytes", "spark.input_bytes",
      "functions.interpreted_nodes", "functions.codegen_compile_s", "sink.readback_s",
      "sink.files_discovered", "sink.list_s", "sink.partition_dirs_listed") ++
      tables.flatMap(t => Seq(s"sink.$t.write_s", s"sink.$t.bytes", s"sink.$t.files"))
    keys.foreach(k => r.layer(k) = r.spanMedian(span, k))
    val parts = r.spanMedian(span, "sink.routed.parts")
    r.layer("sink.routed.files_per_partition") =
      if (parts > 0) r.layer("sink.routed.files") / parts else 0.0
    val written = r.spanMedian(span, "sink.partitions_written")
    r.layer("sink.listed_per_written") =
      if (written > 0) r.layer("sink.partition_dirs_listed") / written else 0.0
  }

  /** Host controls: the frozen harness's CPU and disk burns. */
  def hostBurns(r: Run): Unit = {
    r.layer("host.cpu_burn_s") = r.time(graft.BenchOne.burn(r.spark))._2
    r.layer("host.disk_burn_s") = graft.BenchPipe.diskBurn(r.a.work)
  }

  /** Tracing overhead: `op` once with the probe attached, then once with
    * it detached; traced minus untraced seconds. Both run after the measured
    * loop, so neither pays the JVM's warm-up.
    */
  def overhead(r: Run, op: () => Double): Unit = {
    val traced = op()
    val p = r.probe
    r.probe = None
    p.foreach(_.detach())
    r.layer("trace.overhead_s") = traced - op()
  }

  /** Scaling efficiency of the per-row layers: the full prefix composition
    * (ingest to agg, into `noop`) on one core against the median on all.
    */
  def scaling(r: Run, in: String): Unit = {
    val multi = Stats.median(r.samples("layer.agg").toSeq)
    r.newSession(1)
    r.probe.foreach(_.detach()); r.probe = None
    val one = r.time(noop(prefixes(r, in).last._2))._2
    r.layer("engine.scaling_eff") = one / (r.a.cores * multi)
  }
}

/** `pipe_incremental`: a catalog holding `history` committed minute
  * windows is built once (`prepare`, one `PipelineJob.run` into an empty
  * catalog; the watermark is set because `maxLineage` < `history`). Each
  * set-up writes the seed's increment and restores that catalog; each
  * iteration restores it again, commits the increment (`fresh` new windows
  * plus seeded shares of replayed committed rows and late rows), then
  * replays the same increment, which must process no window. The timed
  * commit is the JVM's first, as in a `spark-submit` of the job: it pays
  * the JIT and codegen warm-up that every such run pays.
  */
final class PipeIncremental extends Workload {
  val history = 128
  val maxLineage = 96
  val fresh = 25
  // TranscriptGen's default rate.
  val rowsPerMinute = 1000L
  // Replayed and late rows, in basis points of the committed turns they
  // are drawn from; like the injected shares (Inputs.Shares), chosen only so
  // that every check sees a few hundred rows or more.
  val committedBp = 100
  val lateBp = 100
  // Traced runs only: the per-row layers' input.
  val layerTurns = 200000L
  val layerWindows = 20
  private var incIn = ""
  private var snapshot = ""
  private var inc: Inputs.Increment = _
  private var historyAggRows = 0L

  private def cfg(r: Run) = Pipe.config(r, maxLineage)
  private def historyRows = history * rowsPerMinute

  /** The history catalog in `dir/catalog`; `dir/build.txt` holds its
    * aggregate row count, build seconds and any failed check, one per line.
    */
  override def prepare(r: Run, dir: String): Unit = {
    val in = s"$dir/input"
    val cat = s"$dir/catalog"
    Inputs.history(r.spark, history, fresh, rowsPerMinute, 8, in)
    val (res, t) = r.time(Pipe.run(r, in, cat, cfg(r), "history"))
    val (sums, rows) = Pipe.aggregateSums(r, cat, historyRows)
    val problems = Pipe.expect(res.metrics, "windows_processed" -> history.toLong,
      "rows_routed" -> historyRows, "rows_quarantined" -> 0L) ++ sums
    Files.writeString(Paths.get(dir, "build.txt"),
      (Seq(rows.toString, t.toString) ++ problems).mkString("\n"))
    Inputs.deleteTree(in)  }

  def setup(r: Run, i: Int): Unit = {
    Seq(incIn, snapshot).filter(_.nonEmpty).foreach(Inputs.deleteTree)
    if (i == 1) {
      val lines = Files.readAllLines(Paths.get(r.a.prepared, "build.txt")).asScala.toSeq
      historyAggRows = lines.head.toLong
      r.op("pipe.build")(lines.drop(2))
    }
    incIn = r.dir(s"inc-in-$i")
    snapshot = r.dir(s"snapshot-$i")
    inc = Inputs.increment(r.spark, r.a.seed, history, fresh, rowsPerMinute,
      history - maxLineage, committedBp, lateBp, Inputs.Shares(), 8, incIn)
    Inputs.linkTree(s"${r.a.prepared}/catalog", snapshot)
  }

  private def cycle(r: Run, n: Int): Unit = {
    val cat = r.dir(s"catalog-$n")
    Inputs.linkTree(snapshot, cat)
    var aggRows = -1L
    r.op("incr.commit") {
      val (res, t) = r.time(r.tracer.span("incr.commit")(Pipe.run(r, incIn, cat, cfg(r), s"commit-$n")))
      r.sample("run_s", t)
      if (r.probe.isDefined) Pipe.phases(res, t).foreach { case (k, v) => r.sample(k, v) }
      val (sums, rows) = Pipe.aggregateSums(r, cat, historyRows + inc.routed)
      aggRows = rows
      Pipe.expect(res.metrics, "windows_processed" -> fresh.toLong,
        "rows_seen" -> (inc.newTurns + inc.duplicates + inc.committedTurns + inc.lateTurns),
        "rows_quarantined" -> inc.quarantined, "rows_duplicates_dropped" -> inc.duplicates,
        "rows_routed" -> inc.routed, "rows_skipped_committed" -> inc.committedTurns,
        "rows_late_dropped" -> inc.lateTurns) ++
        sums ++ (if (aggRows > historyAggRows) Nil else Seq(s"aggregates rows $aggRows not grown"))
    }
    r.op("incr.replay") {
      val (res, t) = r.time(r.tracer.span("incr.replay")(Pipe.run(r, incIn, cat, cfg(r), s"replay-$n")))
      r.sample("rerun_s", t)
      val now = Pipe.aggregateRows(r, cat)
      Pipe.expect(res.metrics, "windows_processed" -> 0L, "agg_rows" -> 0L) ++
        (if (now == aggRows) Nil else Seq(s"aggregates rows $now after replay, want $aggRows"))
    }
    if (r.probe.isDefined && n == 0) Pipe.checkpointTimes(r, cat, 5)
    Inputs.deleteTree(cat)
  }

  def iterate(r: Run, n: Int): Unit = cycle(r, n)

  def traced(r: Run): Unit = {
    Pipe.opCounters(r, "incr.commit")
    Seq("partition_gc", "route_write", "route_counts", "rollup_write")
      .foreach(p => r.layer(s"app.phase_s.$p") = Stats.median(r.samples(s"app.phase_s.$p").toSeq))
    r.layer("app.unphased_s") = Stats.median(r.samples("app.unphased_s").toSeq)
    // Per-row layers over a transcript large enough for row work to show.
    val layerIn = r.dir("layer-in")
    Inputs.transcript(r.spark, r.a.seed, layerTurns, layerTurns / layerWindows, 8, layerIn)
    Pipe.layers(r, layerIn, 2)
    Pipe.hostBurns(r)
    var k = 1000
    Pipe.overhead(r, () => { cycle(r, k); k += 1; r.samples("run_s").last })
    Pipe.scaling(r, layerIn)
  }
}

/** `corpus_catalog`: a pinned list of catalog queries, once cold in a
  * fresh session (every memo built) and once warm in the same session
  * (every memo read). Each query's rows are collected to the driver; both
  * passes' rows are checked against the DuckDB oracle by the caller.
  */
final class CorpusCatalog extends Workload {
  /** The corpus chain, then one consumer of each further session memo that
    * fits the run's time budget: 12 of the 15 memos (the IVF model, the
    * k-means model and the parsed transcript are left out).
    */
  val queries: Seq[String] = Seq(
    "dd_cluster_rep",     // doc shingles, doc pairs, CC components, doc meta
    "corpus_build",       // quality-clustered
    "corpus_export",      // export stages
    "corpus_stats",       // export stages (read)
    "dd_decontam_ngram",  // eval grams, doc grams
    "dd_line_dedup",      // line units
    "dd_substring_spans", // positional grams
    "dd_simhash",         // simhash fingerprints
    "ann_lsh_buckets")    // IVF centroids
  private var in = ""
  private var session: SparkSession = _
  private val results = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def setup(r: Run, i: Int): Unit = {
    if (in.nonEmpty) Inputs.deleteTree(in)
    in = r.dir(s"corpus-in-$i")
    Inputs.corpus(r.spark, r.a.seed, r.a.data, 4, in)
  }

  /** Column names and rows as JSON; doubles print exactly. */
  private def rowsJson(df: org.apache.spark.sql.DataFrame,
      rows: Array[org.apache.spark.sql.Row]): String =
    Json.obj(Seq("columns" -> df.schema.fieldNames.toSeq,
      "rows" -> rows.toSeq.map(_.toSeq.map {
        case f: Float => f.toDouble
        case v => v
      })))

  private def pass(r: Run, s: SparkSession, label: String): Double =
    queries.map { q =>
      var t = 0.0
      r.op(s"$q.$label") {
        // Building the frame runs the memo builds it needs: time both.
        val ((df, rows), sec) = r.time(r.tracer.span(s"ops.$q.$label") {
          val df = graft.SparkEntry.queries(q)(s, in)
          (df, df.collect())
        })
        t = sec
        results(s"$q.$label") = rowsJson(df, rows)
        Nil
      }
      r.sample(s"ops.$q.${label}_s", t)
      t
    }.sum

  def iterate(r: Run, n: Int): Unit = {
    val s = r.spark.newSession()
    r.probe.foreach(_.attach(s))
    val persisted = r.spark.sparkContext.getPersistentRDDs.size
    val cold = r.tracer.span("corpus.cold")(pass(r, s, "cold"))
    if (n == 0) {
      r.layer("memo.builds") = (r.spark.sparkContext.getPersistentRDDs.size - persisted).toDouble
      r.layer("memo.stored_bytes") = r.spark.sparkContext.getRDDStorageInfo
        .map(i => (i.memSize + i.diskSize).toDouble).sum
    }
    val warm = r.tracer.span("corpus.warm")(pass(r, s, "warm"))
    r.sample("run_s", cold)
    r.sample("rerun_s", warm)
    session = s
  }

  /** The last cold and warm results, the oracle SQL and the input dir. */
  override def finish(r: Run): Unit = {
    val sql = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(r.a.work, "corpus.json"), Json.obj(Seq(
      "input_dir" -> in,
      "oracle_sql" -> queries.filter(sql.contains).map(q => q -> sql(q)).toMap,
      "results" -> results.toMap.map { case (k, v) => k -> Json.Raw(v) })))
  }

  def traced(r: Run): Unit = {
    def med(k: String) = Stats.median(r.samples(k).toSeq)
    queries.foreach { q =>
      r.layer(s"ops.$q.cold_s") = med(s"ops.$q.cold_s")
      r.layer(s"ops.$q.warm_s") = med(s"ops.$q.warm_s")
    }
    // The first consumer of each memo in list order builds it.
    val memoOwners = queries.filterNot(_ == "corpus_stats")
    r.layer("memo.build_s") = memoOwners.map(q => med(s"ops.$q.cold_s") - med(s"ops.$q.warm_s")).sum
    r.layer("ops.cc_jobs") = r.spanMedian("ops.dd_cluster_rep.cold", "spark.jobs")
    Pipe.opCounters(r, "corpus.cold")
    Pipe.hostBurns(r)
    // Overhead on the warm pass.
    Pipe.overhead(r, () => pass(r, session, "again"))
  }
}
