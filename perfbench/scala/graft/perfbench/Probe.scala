package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.spark.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, WriteFilesExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters from a `SparkListener`: jobs, stages and task metrics,
  * summed over every task that ends while the listener is registered.
  */
final class EngineListener extends SparkListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  // Per stage: shuffle bytes written and shuffle records read per task.
  private val stageWrites = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val stageReads = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { add("spark.jobs", 1) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    add("spark.stages", 1)
    stageSubmitted.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("spark.tasks", 1)
    if (e.reason != org.apache.spark.Success) add("spark.task_failures", 1)
    stageSubmitted.get(e.stageId).foreach { t =>
      add("spark.task_wait_s", math.max(0L, e.taskInfo.launchTime - t) / 1e3)
    }
    val m = e.taskMetrics
    if (m != null) {
      add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      add("spark.executor_run_s", m.executorRunTime / 1e3)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
      val w = m.shuffleWriteMetrics.bytesWritten
      if (w > 0) stageWrites(e.stageId) += w
      val rr = m.shuffleReadMetrics.recordsRead
      if (rr > 0) stageReads.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += rr
    }
  }

  def snapshot(): Map[String, Double] = synchronized(c.toMap)

  /** Stages since the last call, in stage-id order: shuffle bytes written
    * and per-task shuffle records read. Clears the record.
    */
  def takeStages(): Seq[EngineListener.Stage] = synchronized {
    val ids = (stageWrites.keySet ++ stageReads.keySet).toSeq.sorted
    val r = ids.map(i => EngineListener.Stage(i, stageWrites(i),
      stageReads.get(i).map(_.toSeq).getOrElse(Nil)))
    stageWrites.clear()
    stageReads.clear()
    r
  }
}

object EngineListener {
  final case class Stage(id: Int, shuffleWriteBytes: Long, shuffleReadRecords: Seq[Long])
}

/** Query-level counters from a `QueryExecutionListener`.
  *
  * Writes into the watched catalog root are attributed to a sink table by
  * their output path (`<root>/<table>/...`): wall seconds, bytes, files and
  * partition directories written. Non-write queries that scan the root are
  * read-backs. Every executed plan adds its interpreted nodes: expressions
  * that fall back from codegen plus operators that run outside
  * whole-stage codegen.
  */
final class SqlListener extends QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  @volatile private var root: Option[String] = None

  /** Attribute writes and scans under `dir` (a local path). */
  def watch(dir: String): Unit =
    root = Some(new java.io.File(dir).getAbsoluteFile.toPath.normalize.toString)

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  /** Table name of `path` when it lies under the watched root. */
  def tableOf(path: String): Option[String] = root.flatMap { r =>
    val p = new org.apache.hadoop.fs.Path(path).toUri.getPath
    if (p.startsWith(r + "/")) p.substring(r.length + 1).split('/').headOption
    else None
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val plan = qe.executedPlan
      val all = SqlListener.nodes(plan)
      add("functions.interpreted_nodes", SqlListener.interpreted(plan, inWscg = false))
      val writes = all.collect {
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => Some((i.outputPath.toString, w.cmd.metrics))
          case _ => None
        }
      }.flatten
      if (writes.nonEmpty) writes.foreach { case (out, metrics) =>
        tableOf(out).foreach { t =>
          def m(k: String) = metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          add(s"sink.$t.write_s", durationNs / 1e9)
          add(s"sink.$t.bytes", m("numOutputBytes"))
          add(s"sink.$t.files", m("numFiles"))
          add(s"sink.$t.parts", m("numParts"))
          add("sink.partitions_written", m("numParts"))
        }
      } else {
        val scansRoot = all.exists {
          case s: FileSourceScanExec =>
            s.relation.location.rootPaths.exists(p => tableOf(p.toString).isDefined)
          case _ => false
        }
        if (scansRoot) add("sink.readback_s", durationNs / 1e9)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def snapshot(): Map[String, Double] = synchronized(c.toMap)
}

object SqlListener {

  /** Every physical node, descending into adaptive plans, query stages and
    * command results.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case c: CommandResultExec => c +: nodes(c.commandPhysicalPlan)
    case other => other +: other.children.flatMap(nodes)
  }

  private def structural(p: SparkPlan): Boolean = p match {
    case _: Exchange | _: ReusedExchangeExec | _: AQEShuffleReadExec |
         _: DataWritingCommandExec | _: V2TableWriteExec | _: WriteFilesExec |
         _: CommandResultExec => true
    case _ => false
  }

  private def fallbacks(p: SparkPlan): Int =
    p.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum

  /** CodegenFallback expressions anywhere, plus non-leaf, non-structural
    * operators outside whole-stage codegen.
    */
  def interpreted(p: SparkPlan, inWscg: Boolean): Int = p match {
    case a: AdaptiveSparkPlanExec => interpreted(a.executedPlan, inWscg = false)
    case s: QueryStageExec => interpreted(s.plan, inWscg = false)
    case c: CommandResultExec => interpreted(c.commandPhysicalPlan, inWscg = false)
    case w: WholeStageCodegenExec => interpreted(w.child, inWscg = true)
    case i: InputAdapter => interpreted(i.child, inWscg = false)
    case other =>
      val self = if (!inWscg && other.children.nonEmpty && !structural(other)) 1 else 0
      self + fallbacks(other) + other.children.map(interpreted(_, inWscg)).sum
  }
}

/** The local file system with its directory listings counted. Traced runs
  * install it as `fs.file.impl`, so every listing the program makes through
  * Hadoop's `FileSystem` passes here: the catalog's own partition walks,
  * Spark's file indexes and the output committer. A listing of a directory
  * under the watched root adds one to `sink.partition_dirs_listed` and its
  * time to `sink.list_s`; a listing made inside another (an iterator built
  * on `listStatus`) is not counted twice.
  */
final class ListingFs extends LocalFileSystem {
  override def listStatus(f: Path): Array[FileStatus] =
    ListingFs.timed(makeQualified(f))(super.listStatus(f))

  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    ListingFs.timed(makeQualified(f))(ListingFs.drained(super.listStatusIterator(f)))

  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    ListingFs.timed(makeQualified(f))(ListingFs.drained(super.listLocatedStatus(f)))
}

object ListingFs {
  @volatile private var root: Option[String] = None
  private val dirs = new AtomicLong
  private val nanos = new AtomicLong
  private val inListing = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Count listings under `dir` (a local path) from now on. */
  def watch(dir: String): Unit =
    root = Some(new java.io.File(dir).getAbsoluteFile.toPath.normalize.toString)

  private def under(p: Path): Boolean = root.exists { r =>
    val s = p.toUri.getPath
    s == r || s.startsWith(r + "/")
  }

  def timed[T](p: Path)(body: => T): T =
    if (inListing.get) body
    else {
      inListing.set(true)
      val t0 = System.nanoTime()
      try body
      finally {
        inListing.set(false)
        if (under(p)) {
          dirs.incrementAndGet()
          nanos.addAndGet(System.nanoTime() - t0)
        }
      }
    }

  /** The whole listing read inside the timed call. */
  def drained[T](it: RemoteIterator[T]): RemoteIterator[T] = {
    val buf = mutable.ArrayBuffer.empty[T]
    while (it.hasNext) buf += it.next()
    val i = buf.iterator
    new RemoteIterator[T] {
      def hasNext: Boolean = i.hasNext
      def next(): T = i.next()
    }
  }

  def snapshot(): Map[String, Double] =
    Map("sink.partition_dirs_listed" -> dirs.get.toDouble, "sink.list_s" -> nanos.get / 1e9)
}

/** Both listeners on one SparkContext, plus the engine-global counters
  * (codegen compile time, files discovered by file-index listings,
  * directory listings of the file system).
  */
final class Probe(spark: SparkSession) {
  val engine = new EngineListener
  val sql = new SqlListener
  spark.sparkContext.addSparkListener(engine)
  spark.listenerManager.register(sql)
  require(org.apache.hadoop.fs.FileSystem.get(new java.net.URI("file:///"),
    spark.sparkContext.hadoopConfiguration).isInstanceOf[ListingFs],
    "the local file system is not the counting one")

  /** Register the query listener on another session of the same context. */
  def attach(session: SparkSession): Unit = session.listenerManager.register(sql)

  /** Attribute writes, scans and listings under `dir` to the sink. */
  def watch(dir: String): Unit = {
    sql.watch(dir)
    ListingFs.watch(dir)
  }

  def snapshot(): Map[String, Double] = {
    PerfbenchAccess.drainListenerBus(spark.sparkContext)
    engine.snapshot() ++ sql.snapshot() ++ ListingFs.snapshot() ++ Map(
      "functions.codegen_compile_s" ->
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9,
      "sink.files_discovered" ->
        org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(engine)
    spark.listenerManager.unregister(sql)
  }
}

/** Spans at each layer call the benchmark makes: name, start, end, parent,
  * and the probe's counter deltas over the span. Kept in memory and written
  * out once, when the run ends. Disabled, a span only runs its body.
  */
final class Tracer(probe: => Option[Probe]) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
      counters: Map[String, Double]) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private val origin = System.nanoTime()

  def span[T](name: String)(body: => T): T = probe match {
    case None => body
    case Some(p) =>
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val before = p.snapshot()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val after = p.snapshot()
        stack = stack.tail
        val delta = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
          .filter(_._2 != 0.0)
        spans += Span(id, parent, name, t0 - origin, t1 - origin, delta)
      }
  }

  /** Spans named `name`, in the order they ended. */
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def toJson: String = spans.sortBy(_.id).map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "counters" -> s.counters))
  }.mkString("[", ",\n", "]")
}

/** Minimal JSON writer for the benchmark's own outputs. */
object Json {
  /** Already-serialized JSON, written as is. */
  final case class Raw(json: String)

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => arr(xs.toSeq)
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def arr(xs: Seq[Any]): String = xs.map(value).mkString("[", ",", "]")
}
