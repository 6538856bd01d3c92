package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM:
  *
  *   Main <workload> <seed> <seconds> <trace 0|1> <inputsDir> <workDir>
  *
  * Sets up, measures for `seconds`, checks every output, and writes
  * `<workDir>/result.json` (raw timings, failures, spans); run.py turns it
  * into metrics.
  */
object Main {
  /** Writes the result files; the Scala module maps Scala maps and
    * sequences to JSON objects and arrays. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, inputs, work) = args
    val t0 = System.nanoTime()
    val spark = session(work)
    val rec = new Recorder(new Tracer(spark.sparkContext), traceS == "1",
      seedS.toLong, secondsS.toDouble)
    rec.setup("session_s", (System.nanoTime() - t0) / 1e9)
    try workload match {
      case "cdc_sync" => CdcSync.run(spark, rec, inputs, work)
      case "corpus_dedup" => CorpusDedup.run(spark, rec, inputs, work)
      case other => sys.error(s"unknown workload $other")
    } finally {
      Files.writeString(Paths.get(work, "result.json"), json.writeValueAsString(rec.export()))
      spark.stop()
    }
  }

  /** The engine's own session settings (as its Verify and Bench entry
    * points build them) on 4 local cores, with every scratch path inside
    * the run's work directory. */
  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.files.minPartitionNum", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config(graft.storage.NioLocalFileSystem.ConfKey,
        graft.storage.NioLocalFileSystem.implClassName)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    graft.plans.TextExpressions.register(spark)
    spark
  }
}

/** Everything a run measures: set-up phases, one record per operation and
  * per pass, failures, and JVM counters over the measured window. */
final class Recorder(val tracer: Tracer, val traced: Boolean, val seed: Long,
                     val seconds: Double) {
  private val setupS = mutable.LinkedHashMap.empty[String, Double]
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private var gcMs0 = 0L
  private var gcMs = 0L
  private var heapPeakMb = 0.0

  def setup(name: String, s: Double): Unit = setupS(name) = s
  def note(name: String, v: Any): Unit = extra(name) = v
  def fail(reason: String): Unit = failures += reason

  /** Runs `body` as a timed setup phase. */
  def setupPhase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setup(name, (System.nanoTime() - t0) / 1e9)
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcTotalMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def startWindow(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    gcMs0 = gcTotalMs
  }

  def endWindow(): Unit = {
    gcMs = gcTotalMs - gcMs0
    heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Units (cycles, passes) a run measures: `seconds` over the unit's
    * nominal length. The count depends on the settings only, so two commits
    * measure the same work however fast they run it. */
  def units(nominalSeconds: Double): Int = math.max(1, math.round(seconds / nominalSeconds).toInt)

  /** Traced runs alternate traced and untraced operations so the tracing
    * overhead is measured on the same run; the seed picks which comes first. */
  def traceOn(i: Int): Boolean = {
    tracer.enabled = traced && (i + seed) % 2 == 0
    tracer.enabled
  }

  /** A time that could not be measured (the operation threw) is NaN; it is
    * written as null. */
  private def secs(s: Double): Any = if (s.isNaN) null else s

  def op(kind: String, trace: String, seconds: Double, ok: Boolean): Unit =
    ops += Map("kind" -> kind, "trace" -> trace, "s" -> secs(seconds), "ok" -> ok,
      "traced" -> tracer.enabled)
  /** A correctness check outside every timed operation. */
  def check(name: String, ok: Boolean): Unit = checks += Map("name" -> name, "ok" -> ok)
  def pass(seconds: Double, ok: Boolean): Unit =
    passes += Map("s" -> secs(seconds), "ok" -> ok, "traced" -> tracer.enabled)

  def export(): Map[String, Any] = Map(
    "setup" -> setupS.toMap, "ops" -> ops.toSeq, "passes" -> passes.toSeq,
    "failures" -> failures.toSeq, "checks" -> checks.toSeq, "extra" -> extra.toMap,
    "jvm" -> Map("gc_s" -> gcMs / 1000.0, "heap_peak_mb" -> heapPeakMb),
    "trace" -> (if (traced) tracer.export() else Map.empty))
}
