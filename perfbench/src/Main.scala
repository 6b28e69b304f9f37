package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, cores: Int, runDir: String, base: String,
    stateDir: String, out: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, need("run-dir"),
      need("base"), need("state-dir"), need("out"))
  }
}

/** What one run shares between the workload and the probes: the session,
  * the tracer and collectors, and the metrics and checks it accumulates. */
final class Ctx(val spark: SparkSession, val args: Args, val sessionS: Double,
    val tracer: Tracer, val engine: Option[EngineCollector],
    val heap: HeapMonitor) {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()
  /** Facts reported beside the metrics: sample counts, host, per query. */
  val info = mutable.LinkedHashMap[String, Any]()

  def fail(msg: String): Unit = {
    failed += 1
    problems += msg
    System.err.println(s"[graftbench] check failed: $msg")
  }

  def tag(t: String): Unit = engine.foreach(_.setTag(t))

  def dir(sub: String): String = s"${args.runDir}/$sub"
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One benchmark run in one JVM: `local[k]`, one workload, one seed. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.core.GraftSession.builder("graftbench")
      .master(s"local[${args.cores}]")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.local.dir", s"${args.runDir}/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"${args.runDir}/tmp")
      // the query lists compile hundreds of distinct codegen stages; at
      // the default cache of 100 every pass would recompile them
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val runId = s"${args.workload}-${args.seed}-${ProcessHandle.current.pid}"
    val tracer = new Tracer(runId, args.trace)
    val engine = if (args.trace) {
      val c = new EngineCollector(spark.sparkContext)
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    val heap = new HeapMonitor
    val ctx = new Ctx(spark, args, sessionS, tracer, engine, heap)
    try {
      tracer.span("run", "bench") {
        args.workload match {
          case "dedup_curate" => BatchWorkload.dedup.run(ctx)
          case "consumer_stream" => ConsumerWorkload.run(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        if (args.trace) Probes.run(ctx)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.attempted += 1
        ctx.fail(s"run aborted: $e")
    } finally {
      heap.close()
    }
    if (args.trace) {
      // the end-to-end numbers of the traced run, to set against the
      // untraced runs' for the tracing overhead
      ctx.info("traced_end_to_end") = ctx.endToEnd.map { case (k, (v, _)) => k -> v }.toMap
      ctx.info("self_seconds_by_layer") = tracer.selfSeconds
      Files.writeString(Paths.get(s"${args.out}.spans.json"), tracer.toJson)
    }
    writeResult(ctx)
    spark.stop()
    System.exit(if (ctx.failed == 0) 0 else 1)
  }

  private def writeResult(ctx: Ctx): Unit = {
    val metrics = if (ctx.args.trace) ctx.perLayer else ctx.endToEnd
    val line = Json.obj("correct" -> (ctx.failed == 0),
      "attempted" -> math.max(1L, ctx.attempted), "failed" -> ctx.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.toSeq.map { case (k, (v, unit)) =>
        k -> Json.Raw(Json.obj("value" -> v, "unit" -> unit)) }: _*)))
    val rt = Runtime.getRuntime
    val host = Json.obj(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "k" -> ctx.args.cores,
      "xmx_mb" -> rt.maxMemory / (1024 * 1024),
      "jvm" -> System.getProperty("java.version"),
      "load_avg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "session_s" -> ctx.sessionS,
      "workload" -> ctx.args.workload, "seed" -> ctx.args.seed,
      "trace" -> ctx.args.trace, "problems" -> ctx.problems.toSeq)
    val info = ctx.info.map { case (k, v) => Json.str(k) + ":" + Json.value(v) }
    Files.writeString(Paths.get(ctx.args.out),
      line + "\n" + (host.dropRight(1) + info.map("," + _).mkString + "}") + "\n")
  }
}
