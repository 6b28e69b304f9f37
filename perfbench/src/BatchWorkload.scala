package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import graft.SparkEntry

/** A closed-loop batch workload: a fixed list of `SparkEntry.queries`
  * run back to back, each into the `noop` sink. One operation is one
  * query; its latency is its wall time, since the next one is due the
  * moment it ends. */
final class BatchWorkload(val name: String, val queries: Seq[String],
    val tables: Seq[String]) {

  private val SetupReps = 3

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val seed = ctx.args.seed
    val dirs = (1 to SetupReps).map(r => ctx.dir(s"data/r$r"))

    // set-up, repeated in fresh directories (the caches the program keeps
    // under java.io.tmpdir are keyed by the data directory)
    val repS = dirs.zipWithIndex.map { case (d, i) =>
      ctx.tag(s"setup$i")
      Stats.time(tr.span(s"setup.rep$i", "bench")(
        Inputs.write(spark, ctx.args.base, seed, d, tables)))._2
    }
    ctx.tag("warmup")
    val (reference, warmS) = Stats.time(tr.span("warmup", "bench")(digests(ctx, dirs.head)))
    ctx.endToEnd("setup_s") = (ctx.sessionS + Stats.median(repS) + warmS, "s")

    // outside set-up and timer: inputs generated again from the same seed
    // must give the same outputs; this pass also leaves the timed passes
    // a second warm pass behind them
    ctx.tag("verify")
    val again = tr.span("verify", "bench")(digests(ctx, dirs(1)))

    // one untimed pass into the noop sink, then timed passes over the
    // first directory: at least two, and at least --seconds of them (the
    // first noop pass still runs about 15% slower than the next)
    val gapsMs = mutable.ArrayBuffer[Double]()
    def pass(name: String, tag: String): Map[String, (Double, Double)] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      var prevEnd = System.nanoTime()
      val out = tr.span(name, "bench") {
        queries.flatMap { q =>
          gapsMs += (System.nanoTime() - prevEnd) / 1e6
          val r = timedQuery(ctx, q, dirs.head, tag)
          prevEnd = System.nanoTime()
          r.map(q -> _)
        }.toMap
      }
      freeCheckpoints(ctx, before)
      out
    }
    pass("warm_noop", "warm")
    gapsMs.clear()
    val passes = mutable.ArrayBuffer[Map[String, (Double, Double)]]()
    ctx.heap.arm()
    val t0 = System.nanoTime()
    tr.span("timed", "bench") {
      while (passes.length < 2 || (System.nanoTime() - t0) / 1e9 < ctx.args.seconds)
        passes += pass(s"pass${passes.length}", "q")
    }
    val latMs = passes.flatMap(_.values.map { case (e, a) => (e + a) * 1000 })
    val peakMb = ctx.heap.disarmMb()
    val passS = passes.map(_.values.map { case (e, a) => e + a }.sum).toSeq
    ctx.endToEnd("pass_s") = (Stats.median(passS), "s")
    ctx.endToEnd("latency_p50_ms") = (Stats.quantile(latMs.toSeq, 0.5), "ms")
    ctx.endToEnd("latency_p90_ms") = (Stats.quantile(latMs.toSeq, 0.9), "ms")
    ctx.endToEnd("peak_heap_mb") = (peakMb, "MB")
    ctx.info("passes") = passes.length
    ctx.info("latency_samples") = latMs.length
    ctx.info("gen_late_p90_ms") = Stats.quantile(gapsMs.toSeq, 0.9)
    ctx.info("query_wall_s") = queries.map(q => q -> passes.flatMap(_.get(q))
      .map { case (e, a) => e + a }).toMap
    ctx.info("setup_parts_s") = Map("session" -> ctx.sessionS,
      "reps" -> repS, "warmup" -> warmS)

    // checks, outside the timer
    queries.foreach { q =>
      (reference.get(q), again.get(q)) match {
        case (Some(a), Some(b)) if a != b => ctx.fail(s"$q: digest $a then $b")
        case (Some(a), _) if a.rows == 0 => ctx.fail(s"$q: empty output")
        case _ =>
      }
    }
    checkAgainstState(ctx, reference)

    if (ctx.args.trace && ctx.failed == 0) traceMetrics(ctx, passes.toSeq, gapsMs.toSeq)
    ctx.info("digests") = reference.map { case (q, d) => q -> d.toString }
  }

  /** One query: build the DataFrame (the eager part, which runs any
    * checkpointed sub-stages), then write it to the noop sink; engine
    * counters go under `tag:q:eager` and `tag:q:action`. Returns (eager
    * seconds, action seconds), or None when it throws. */
  private def timedQuery(ctx: Ctx, q: String, dir: String,
      tag: String): Option[(Double, Double)] = {
    ctx.attempted += 1
    val tr = ctx.tracer
    try tr.span(q, "operators") {
      ctx.tag(s"$tag:$q:eager")
      val (df, eager) = Stats.time(tr.span("build_df", "operators")(
        SparkEntry.queries(q)(ctx.spark, dir)))
      ctx.tag(s"$tag:$q:action")
      val (_, action) = Stats.time(tr.span("write_noop", "spark")(
        df.write.format("noop").mode("overwrite").save()))
      Some((eager, action))
    } catch {
      case e: Throwable =>
        ctx.fail(s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Digest of every query's output over `dir`, one untimed pass. */
  private def digests(ctx: Ctx, dir: String): Map[String, Digest] = {
    val before = ctx.spark.sparkContext.getPersistentRDDs.keySet
    val out = queries.flatMap { q =>
      ctx.attempted += 1
      try Some(q -> ctx.tracer.span(q, "operators")(
        Digest.of(SparkEntry.queries(q)(ctx.spark, dir))))
      catch {
        case e: Throwable =>
          ctx.fail(s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }.toMap
    freeCheckpoints(ctx, before)
    out
  }

  /** Outside the timer: frees the checkpoint blocks created since the
    * snapshot `before` of persistent RDD ids, and nothing older. */
  private def freeCheckpoints(ctx: Ctx, before: collection.Set[Int]): Unit =
    ctx.spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id) && rdd.isCheckpointed) rdd.unpersist(blocking = false)
    }

  /** Digests persist per (workload, seed) in the state directory, so a
    * later run of the same seed in this checkout is compared with it. */
  private def checkAgainstState(ctx: Ctx, ds: Map[String, Digest]): Unit = {
    val p = Paths.get(ctx.args.stateDir, s"$name-${ctx.args.seed}.digests")
    if (Files.exists(p)) {
      val old = Files.readAllLines(p).toArray.map(_.toString.split(" "))
        .collect { case Array(q, d) => q -> Digest.parse(d) }.toMap
      ds.foreach { case (q, d) =>
        old.get(q).filter(_ != d).foreach(o =>
          ctx.fail(s"$q: digest $d differs from an earlier run's $o"))
      }
    } else if (ds.size == queries.size) {
      Files.createDirectories(p.getParent)
      val tmp = Paths.get(p.toString + s".${ProcessHandle.current.pid}")
      Files.writeString(tmp, ds.toSeq.sortBy(_._1).map { case (q, d) => s"$q $d" }
        .mkString("", "\n", "\n"))
      Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }

  private def traceMetrics(ctx: Ctx, passes: Seq[Map[String, (Double, Double)]],
      gapsMs: Seq[Double]): Unit = {
    val eng = ctx.engine.get
    eng.drain()
    val n = passes.length.toDouble
    def sumPass(f: ((Double, Double)) => Double) =
      Stats.median(passes.map(_.values.map(f).sum))
    val perQuery = queries.map { q =>
      val e = eng.stats(s"q:$q:eager"); val a = eng.stats(s"q:$q:action")
      val calls = passes.flatMap(_.get(q))
      q -> Map(
        "wall_s" -> Stats.median(calls.map { case (x, y) => x + y }),
        "eager_s" -> Stats.median(calls.map(_._1)),
        "action_s" -> Stats.median(calls.map(_._2)),
        "jobs" -> (e.jobs.get + a.jobs.get) / n,
        "eager_jobs" -> e.jobs.get / n,
        "tasks" -> (e.tasks.get + a.tasks.get) / n,
        "shuffle_mb" -> (e.shuffleBytes.get + a.shuffleBytes.get) / n / 1048576.0,
        "spill_mb" -> (e.spillBytes.get + a.spillBytes.get) / n / 1048576.0,
        "gc_s" -> (e.gcNs.get + a.gcNs.get) / n / 1e9,
        "sched_delay_s" -> (e.schedNs.get + a.schedNs.get) / n / 1e9)
    }.toMap
    ctx.info("operators") = perQuery
    val total = new EngineStats
    queries.foreach(q => Seq("eager", "action").foreach(p => total += eng.stats(s"q:$q:$p")))
    ctx.perLayer("operators.wall_s") = (sumPass { case (e, a) => e + a }, "s")
    ctx.perLayer("operators.eager_s") = (sumPass(_._1), "s")
    ctx.perLayer("operators.action_s") = (sumPass(_._2), "s")
    ctx.perLayer("operators.eager_jobs") =
      (queries.map(q => eng.stats(s"q:$q:eager").jobs.get).sum / n, "count")
    ctx.perLayer("operators.max_wall_s") =
      (perQuery.values.map(_("wall_s")).max, "s")
    Probes.sparkMetrics(ctx, total, n)
    ctx.perLayer("bench.passes") = (n, "count")
    ctx.perLayer("bench.samples") = (passes.map(_.size).sum.toDouble, "count")
    ctx.perLayer("bench.gen_late_p90_ms") = (Stats.quantile(gapsMs, 0.9), "ms")
  }
}

object BatchWorkload {
  // three of the curation queries: LSH candidate generation, the
  // connected-components fixpoint over the candidates with its eager
  // checkpointed sub-stages, and the PageRank fixpoint; they dominate a
  // pass while a run stays inside its time budget
  val dedup = new BatchWorkload("dedup_curate", Seq(
      "dedup_minhash", "dedup_clusters_lsh", "supplier_pagerank"),
    Seq("documents", "orders", "lineitem"))
}
