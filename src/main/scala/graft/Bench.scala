package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark harness (driver-run, per-round).
  *
  * Round-1 verdict findings addressed here:
  *  - the JSON line was buried in sbt log noise and the driver failed to
  *    parse it → the line is now ALSO written clean to `bench_out.json`
  *    in the working directory (and still printed, per the contract);
  *  - each query ran exactly once in Map-iteration order, so the first
  *    query ate all JVM/codegen warmup → one discarded warmup pass, then
  *    `runs` timed passes per query, report the per-query MEDIAN;
  *  - `.count()` let Spark prune the final projection, under-measuring
  *    projection-heavy queries → materialize through the `noop` sink,
  *    which evaluates every output column without collecting to the
  *    driver.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // the generated-class cache defaults to 100 entries; this 70-query
      // × 4-pass loop compiles several hundred distinct codegen stages,
      // so at the default every pass RE-compiles most stages (Janino,
      // driver-side, serial) — per-query min noise that looks like plan
      // drift (round-5/6 bench investigation). Static conf, so it must
      // be set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // local small files: split scans so every core participates
      // (cluster deploys keep the 128m default)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(name: String): (Double, Boolean) = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          true
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // OUTSIDE the timer: free the checkpoint blocks THIS run created
      // (the snapshot above), and nothing older. Each run builds fresh
      // checkpoints (no cross-run reuse exists to lose), but they are
      // only reclaimed by ContextCleaner on DRIVER GC — on a large heap
      // (the driver's 89 g run) GC can stay away for the whole 192×4
      // loop, so ~3,000 dead working sets accumulate toward the storage
      // cap and the allocation-heavy queries late in the alphabet (the
      // mm_*/mp4_* blob family) run against a full old gen (round-20
      // verdict item 1). A checkpoint that outlived an earlier run (a
      // result some caller still reads) is not this run's to free, and
      // CacheManager-cached relations are NOT touched: their cross-run
      // reuse is existing measured behavior.
      spark.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
        if (!before(id) && r.isCheckpointed) r.unpersist(blocking = false)
      }
      (sec, ok)
    }

    // optional comma-separated subset (isolation experiments: a query's
    // in-loop min vs its alone-in-the-JVM min separates plan cost from
    // loop-state noise — JIT/codegen/GC accumulated over 70×4 runs)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) // empty/blank means "no filter", not "nothing"
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    names.foreach(materialize) // warmup: JVM + codegen + parquet footers
    // a failing query must NOT enter the totals as a fast success —
    // it reports -1 and lands in "failed" so a broken build can't
    // masquerade as a perf win
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gcNowMs: Long = {
      var ms = 0L
      gcBeans.forEach(b => ms += math.max(0L, b.getCollectionTime))
      ms
    }
    val timings = names.map { name =>
      val g0 = gcNowMs
      val rs = (1 to runs).map(_ => materialize(name))
      val (med, min) =
        if (rs.forall(_._2))
          (rs.map(_._1).sorted.apply(rs.length / 2), rs.map(_._1).min)
        else (-1.0, -1.0)
      // GC delta across the query's timed runs (round-20 verdict item
      // 2): attributes a per-query wall spike to collector pressure vs
      // plan drift from the artifact alone
      (name, med, min, gcNowMs - g0)
    }
    val failed = timings.collect { case (k, v, _, _) if v < 0 => "\"" + k + "\"" }
    val qs = timings.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // per-query MIN alongside the median: run-to-run variance on this
    // box is ~±10% (PROGRESS notes 36-44 s totals at sf0.1), so the min
    // separates a real plan regression (min moves) from scheduler noise
    // (only the median moves)
    val qsMin = timings.map { case (k, _, m, _) => s"\"" + k + "\":" + m }
      .mkString("{", ",", "}")
    val qsGc = timings.map { case (k, _, _, g) => s"\"" + k + "\":" + g }
      .mkString("{", ",", "}")
    val total = timings.map(_._2).filter(_ >= 0).sum
    // environment block: lets a future cross-round comparison attribute
    // a bench-wide drift (r3: 2-4x on untouched queries) to the box/JVM
    // state from the artifact alone — heap pressure, GC time, and
    // ambient load are the usual suspects
    val rt = Runtime.getRuntime
    val gc = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    var gcCount = 0L; var gcMs = 0L
    gc.forEach { b => gcCount += math.max(0L, b.getCollectionCount)
      gcMs += math.max(0L, b.getCollectionTime) }
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // the CONFIGURED JVM flags (-Xmx, GC choice), not just the runtime
    // heap ceiling: round-9's 8 GiB adjudication runs vs 91 GiB suite
    // runs were indistinguishable from the artifact alone
    val jvmArgs = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala
        .filter(a => a.startsWith("-Xm") || a.startsWith("-XX:"))
        .map(a => "\"" + a.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
        .mkString("[", ",", "]")
    }
    // "cpus" (round-20 verdict item 7): without it an 8-core artifact
    // is indistinguishable from a 32-core one
    val env =
      s""""env":{"cpus":$cpus,"heap_used_mb":${(rt.totalMemory - rt.freeMemory) / (1024 * 1024)},""" +
      s""""heap_max_mb":${rt.maxMemory / (1024 * 1024)},""" +
      s""""gc_count":$gcCount,"gc_ms":$gcMs,"load_avg":$loadAvg,""" +
      s""""jvm":"${System.getProperty("java.version")}","jvm_args":$jvmArgs}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_min":$qsMin,"queries_gc_ms":$qsGc,"sf":"$sfDir","runs":$runs,$env,"failed":${failed.mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get("bench_out.json"), line + "\n")
    // stdout gets a COMPACT line: the driver's BENCH_r*.json wrapper
    // keeps only the last 2000 chars of output, so the full 171-query
    // line (~10 KB) truncates mid-object and records parsed:null
    // (round-16 verdict #7). The compact line carries the total, every
    // FAILED query, and the top slowest medians — enough to parse
    // standalone and spot a regression — while the complete per-query
    // evidence stays in bench_out.json (committed as the closing
    // artifacts flagcheck.py reads).
    val top = timings.filter(_._2 >= 0).sortBy(-_._2).take(40)
    def r3(v: Double) = math.rint(v * 1000) / 1000
    val qsTop = top.map { case (k, v, _, _) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$qsTop,""" +
      s""""queries_total":${timings.length},"queries_shown":${top.length},""" +
      s""""full":"bench_out.json","sf":"$sfDir","runs":$runs,"cpus":$cpus,""" +
      s""""failed":${failed.mkString("[", ",", "]")}}"""
    println(compact)
    spark.stop()
  }
}
