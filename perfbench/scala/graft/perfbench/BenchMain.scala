package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: `--workload <name> --seed <n> --seconds
  * <s> --trace <0|1> --work <dir> --data <dir> --cores <n> --prepared <dir>`.
  *
  * Sets the workload up several times (each in a fresh SparkSession), then
  * runs it as a closed loop from one driver thread for `--seconds`, checks
  * every operation's output, and writes `<work>/result.json` with the raw
  * samples, per-layer metrics (traced runs) and operation accounting, plus
  * `<work>/spans.json` on a traced run. Medians are taken by the caller.
  *
  * With `--prepare 1` it only writes the workload's seed-independent state
  * (the `pipe_incremental` history catalog) into `--prepared`, untimed; the
  * caller keeps it for later runs.
  */
object BenchMain {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, cores: Int, prepared: String = "", prepare: Boolean = false)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv.getOrElse("data", "perfbench/data"),
      kv.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString).toInt,
      kv.getOrElse("prepared", ""), kv.get("prepare").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w: Workload = a.workload match {
      case "pipe_incremental" => new PipeIncremental
      case "corpus_catalog" => new CorpusCatalog
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val r = new Run(a)
    try {
      if (a.prepare) { r.newSession(); w.prepare(r, a.prepared) }
      else r.execute(w)
    } finally r.stop()
  }
}

/** State of one run: the session, the probe, the samples and the
  * operation accounting.
  */
final class Run(val a: BenchMain.Args) {
  private var session: SparkSession = _
  var probe: Option[Probe] = None
  val tracer = new Tracer(probe)
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def spark: SparkSession = session
  def dir(name: String): String = new File(a.work, name).getAbsolutePath

  /** Start a fresh session on `cores` local cores (stopping the last one). */
  def newSession(cores: Int = a.cores): SparkSession = {
    stop()
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", dir("spark-local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
    if (a.trace) b.config("spark.hadoop.fs.file.impl", classOf[ListingFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    session = s
    if (a.trace) probe = Some(new Probe(s))
    s
  }

  def stop(): Unit = if (session != null) {
    probe.foreach(_.detach())
    probe = None
    session.stop()
    session = null
  }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private val origin = System.nanoTime()

  /** Progress line on stderr (shown when a run fails): seconds since
    * start, then `msg`.
    */
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - origin) / 1e9}%8.2f] $msg")

  /** One operation: counts as attempted; fails if it throws or its check
    * returns a non-empty problem list. Returns whether it passed.
    */
  def op(name: String)(body: => Seq[String]): Boolean = {
    log(s"op $name")
    attempted += 1
    val problems = try body catch {
      case e: Throwable => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    if (problems.nonEmpty) {
      failed += 1
      if (failures.size < 50) failures += s"$name: ${problems.mkString("; ")}"
    }
    problems.isEmpty
  }

  /** `heap_peak_mb`: bytes of heap the program still holds once the timed
    * operations are done (memos, cached blocks, session state), after full
    * collections. Taken once, after the loop, so no timed operation starts
    * on a heap collected for the measurement. The second collection
    * reclaims what Spark's context cleaner released after the first.
    */
  private def retainedHeap(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  def execute(w: Workload): Unit = {
    new File(a.work).mkdirs()
    // Set-up, several times over: the last set-up's state is measured. The
    // first set-up also pays the JVM's warm-up.
    (1 to w.setups).foreach { i =>
      val (_, s) = time(tracer.span("setup") { newSession(); w.setup(this, i) })
      sample("setup_s", s)
      log(f"setup $i: $s%.2f s")
    }
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var n = 0
    while (n == 0 || System.nanoTime() < deadline) {
      w.iterate(this, n)
      n += 1
    }
    sample("heap_peak_mb", retainedHeap() / 1048576.0)
    w.finish(this)
    if (a.trace) {
      w.traced(this)
      Files.writeString(Paths.get(a.work, "spans.json"), tracer.toJson)
    }
    val json = Json.obj(Seq(
      "workload" -> a.workload, "seed" -> a.seed, "iterations" -> n,
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "layer" -> layer.toMap))
    Files.writeString(Paths.get(a.work, "result.json"), json)
  }

  /** Median over the spans named `span` of their `key` counter delta. */
  def spanMedian(span: String, key: String): Double =
    Stats.median(tracer.named(span).map(_.counters.getOrElse(key, 0.0)))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** A benchmark workload: set-up, one closed-loop iteration, the work after
  * the loop, and the per-layer measurements of a traced run.
  */
trait Workload {
  /** How many times a run sets up; `setup_s` is the median. */
  def setups: Int = 3
  /** Seed-independent state written once into `dir`, untimed. */
  def prepare(r: Run, dir: String): Unit = ()
  def setup(r: Run, i: Int): Unit
  def iterate(r: Run, n: Int): Unit
  def finish(r: Run): Unit = ()
  def traced(r: Run): Unit
}
