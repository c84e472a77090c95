package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark run in one fresh JVM: generate inputs (untimed), set up,
  * run passes of the workload in a closed loop for the requested seconds,
  * check the answers of the last pass, and write the run record that
  * run.py turns into metrics.
  *
  * Arguments: --workload --seed --seconds --trace --cores --data --out
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, data: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("data"), m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val jvmS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val args = parse(argv)
    val cpu0 = Env.cpuTicks()

    val t0 = System.nanoTime()
    val spark = graft.core.Sessions.tuned(SparkSession.builder()
        .master(s"local[${args.cores}]")
        .appName(s"graftbench-${args.workload}")
        .config("spark.sql.shuffle.partitions", args.cores.toString))
      // deployment settings only: scratch space inside the benchmark's tree
      .config("spark.local.dir", s"${args.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.out}/warehouse")
      .getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")

    val storage = new StorageListener
    spark.sparkContext.addSparkListener(storage)
    val trace = if (args.trace) Some(new TraceListener) else None
    val plans = if (args.trace) Some(new PlanListener) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    plans.foreach(spark.listenerManager.register)
    val spans = new Spans(spark.sparkContext, args.trace)

    val w: Workload = args.workload match {
      case "crawl_rank" => new CrawlRank(spark, args)
      case "graph_ops" => new GraphOps(spark, args)
      case "curation" => new Curation(spark, args, plans)
      case other => sys.error(s"unknown workload $other")
    }

    val g0 = System.nanoTime()
    val fingerprint = w.generate()
    val generateS = (System.nanoTime() - g0) / 1e9

    // Set-up is repeated; its median enters setup_s with JVM and session start.
    val setups = (1 to Workload.SetupRepeats).map { i =>
      if (i > 1) w.undoSetup()
      val s0 = System.nanoTime()
      spans("setup")(w.setup())
      (System.nanoTime() - s0) / 1e9
    }

    storage.reset()
    plans.foreach(_.reset())
    Jvm.resetHeapPeak()
    val gc0 = Jvm.gcMs
    val windowStart = Clock.micros
    val passes = ArrayBuffer.empty[Pass]
    val w0 = System.nanoTime()
    def elapsed = (System.nanoTime() - w0) / 1e9
    while (passes.isEmpty || elapsed + passes.last.wallS <= args.seconds) {
      val p = new Pass(spans, w.opNames)
      val p0 = System.nanoTime()
      try spans("pass")(w.pass(p))
      catch { case _: Pass.Aborted => }
      p.wallS = (System.nanoTime() - p0) / 1e9
      passes += p
    }
    val windowEnd = Clock.micros
    val gcWindow = Jvm.gcMs - gc0
    val heapPeak = Jvm.heapPeakBytes
    val cpu1 = Env.cpuTicks()
    Thread.sleep(200) // let the listener bus deliver the window's last events
    val peakStorage = storage.peak

    val c0 = System.nanoTime()
    val checks: Seq[Map[String, Any]] =
      try w.check()
      catch { case NonFatal(e) => Seq(Map("op" -> "*", "ok" -> false, "detail" -> s"check crashed: $e")) }
    val checkS = (System.nanoTime() - c0) / 1e9

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "traced" -> args.trace,
      "cores" -> args.cores, "seconds" -> args.seconds,
      "env" -> (Env.describe(spark) ++ Env.steal(cpu0, cpu1)),
      "fingerprint" -> fingerprint,
      "sizes" -> w.sizes,
      "setup" -> Map("jvm_s" -> jvmS, "session_s" -> sessionS, "input_s" -> setups),
      "untimed_s" -> Map("generate" -> generateS, "check" -> checkS),
      "op_names" -> w.opNames,
      "passes" -> passes.map(_.record),
      "checks" -> checks,
      "window_us" -> Seq(windowStart, windowEnd),
      "peak_storage_bytes" -> peakStorage,
      "heap_peak_bytes" -> heapPeak,
      "gc_ms" -> gcWindow,
      "spans" -> spans.records)
    trace.foreach { t =>
      record("jobs") = t.jobs
      record("task_columns") = t.taskColumns
      record("tasks") = t.tasks.synchronized(t.tasks.toList)
      record("stages_retried") = t.stagesRetried
    }
    plans.foreach(p => record("plan") = p.snapshot)
    w match {
      case c: Curation => record("oracle_sql") = c.oracleSql
      case _ =>
    }
    val json = JsonMapper.builder().addModule(DefaultScalaModule).build().writeValueAsString(record)
    Files.write(Paths.get(args.out, "record.json"), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** The operations of one pass: wall time, and error if one threw. A failed
  * operation aborts the rest of the pass; run.py counts the operations the
  * pass never reached as attempted and failed.
  */
final class Pass(spans: Spans, val opNames: Seq[String]) {
  var wallS = 0.0
  private val ops = ArrayBuffer.empty[Map[String, Any]]
  val detail = mutable.LinkedHashMap.empty[String, Any]

  def apply[A](name: String)(f: => A): A = {
    require(opNames.contains(name), s"undeclared operation $name")
    val t0 = System.nanoTime()
    try {
      val r = spans(name)(f)
      ops += Map("name" -> name, "wall_s" -> (System.nanoTime() - t0) / 1e9, "error" -> null)
      r
    } catch {
      case NonFatal(e) =>
        ops += Map("name" -> name, "wall_s" -> (System.nanoTime() - t0) / 1e9, "error" -> e.toString)
        throw new Pass.Aborted
    }
  }

  def record: Map[String, Any] = Map("wall_s" -> wallS, "ops" -> ops.toSeq, "detail" -> detail)
}

object Pass { final class Aborted extends Exception }

trait Workload {
  /** Operations of a pass, in order. */
  def opNames: Seq[String]
  def sizes: Map[String, Any]
  /** Untimed: write the seeded inputs under the data directory (once per
    * seed and size) and return their fingerprint.
    */
  def generate(): Map[String, Any]
  def setup(): Unit
  def undoSetup(): Unit
  def pass(p: Pass): Unit
  /** Checks of the last pass's outputs; each names the operation it covers. */
  def check(): Seq[Map[String, Any]]
}

object Workload {
  val SetupRepeats = 3

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  def parquet(df: DataFrame, path: String): Unit = df.write.mode("overwrite").parquet(path)

  def verdict(op: String, ok: Boolean, detail: String): Map[String, Any] =
    Map("op" -> op, "ok" -> ok, "detail" -> detail)

  /** Generate once per (data directory): a `_READY` marker guards reuse. */
  def cached(dir: String)(write: String => Unit): Unit = {
    if (!new File(dir, "_READY").exists()) {
      write(dir)
      new File(dir).mkdirs()
      Files.write(Paths.get(dir, "_READY"), Array.emptyByteArray)
    }
  }

  /** Order-independent fingerprint of a table: row count plus the sum of
    * per-row 64-bit hashes.
    */
  def fingerprint(df: DataFrame): Map[String, Any] = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head()
    Map("rows" -> r.getLong(0), "hash" -> Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L) else f.length()
}

object Env {
  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case NonFatal(_) => (0L, 0L) }

  def steal(a: (Long, Long), b: (Long, Long)): Map[String, Any] = {
    val total = b._2 - a._2
    Map("steal_share" -> (if (total > 0) (b._1 - a._1).toDouble / total else 0.0))
  }

  def describe(spark: SparkSession): Map[String, Any] = {
    val load = try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ").take(3).map(_.toDouble).toSeq finally src.close()
    } catch { case NonFatal(_) => Nil }
    Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "loadavg" -> load,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"))
  }
}
