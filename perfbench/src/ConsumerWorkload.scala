package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ebml.EbmlFunctions
import graft.streaming.ConsumerApp

/** One GetMedia payload file: back-to-back MKV fragments. `fresh` are the
  * fragment numbers it delivers for the first time; `replayed` repeats the
  * tail of the previous payload, as a reconnect from an older
  * continuation token does. */
final case class Payload(name: String, fresh: Seq[Long], replayed: Seq[Long],
    bytes: Array[Byte])

/** Payload files for one seed. Fragment n carries event n's user, value
  * and props and a producer time 100 ms after fragment n-1, so the stream
  * stays inside the consumer's 10-minute watermark. The seed picks the
  * start of producer time and where the replays go. */
final class PayloadSet(spark: SparkSession, base: String, seed: Long) {
  val FragmentsPerFile = 10
  val SpacingMs = 100L

  private val rows = {
    val ev = Inputs.eventsNs(spark, base).orderBy("event_id")
      .select(col("user_id"), round(col("value") * 100).cast("long"), col("props"))
      .collect()
    ev.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
  }
  val t0Ms: Long = 1704067200000L + Inputs.replica(seed) * 86400000L

  def tsMs(n: Long): Long = t0Ms + n * SpacingMs

  def fragment(n: Long): Array[Byte] = {
    val (user, cents, props) = rows((n % rows.length).toInt)
    EbmlFunctions.buildFragment(n, tsMs(n), user, cents, props)
  }

  /** `files` payloads starting at fragment `first`, named from `prefix`. */
  def payloads(prefix: String, first: Long, files: Int): Seq[Payload] = {
    // a quarter of the files (which ones, and how far back, by seed)
    // start with a replay of 1-4 fragments
    val rnd = new scala.util.Random(seed * 31 + first)
    val replays = rnd.shuffle((1 until files).toVector).take(files / 4)
      .map(_ -> (1 + rnd.nextInt(4))).toMap
    (0 until files).map { i =>
      val start = first + i.toLong * FragmentsPerFile
      val fresh = (start until start + FragmentsPerFile).toSeq
      val replayed = replays.get(i).map(k => (start - k until start).toSeq).getOrElse(Nil)
      val out = new java.io.ByteArrayOutputStream()
      (replayed ++ fresh).foreach(n => out.write(fragment(n)))
      Payload(f"$prefix%s_$i%05d.mkv", fresh, replayed, out.toByteArray)
    }
  }

  def writeAll(dir: String, ps: Seq[Payload]): Unit = {
    Files.createDirectories(Paths.get(dir))
    ps.foreach(p => Files.write(Paths.get(dir, p.name), p.bytes))
  }
}

/** The live consumer: `ConsumerApp.start` over payload files that arrive
  * on a fixed open-loop schedule, then stopped and restarted on the same
  * checkpoint five times, each time with a backlog to drain. */
object ConsumerWorkload {
  val FilesPerSecond = 20
  val WarmupPrefixS = 1.0
  val BacklogFiles = 64
  val Cycles = 5
  val KeepNewest = 8
  val WarmFiles = 60

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val openFiles = FilesPerSecond * ctx.args.seconds
    val progress = if (ctx.args.trace) {
      val c = new ProgressCollector; spark.streams.addListener(c); Some(c)
    } else None

    // set-up, three times: the seed's payload files, written to staging
    val sets = (1 to 3).map { r =>
      Stats.time(tr.span(s"setup.rep$r", "bench") {
        val ps = new PayloadSet(spark, ctx.args.base, ctx.args.seed)
        val open = ps.payloads("open", 0L, openFiles)
        val backlog = (0 until Cycles).map(c => ps.payloads(s"backlog$c",
          (openFiles + c * BacklogFiles).toLong * ps.FragmentsPerFile, BacklogFiles))
        val warm = ps.payloads("warm", 1000000L, WarmFiles)
        val dir = ctx.dir(s"staging/r$r")
        ps.writeAll(dir, open ++ backlog.flatten ++ warm)
        (ps, open, backlog, warm, dir)
      })
    }
    val (ps, open, backlog, warm, staging) = sets.head._1
    val fragsOpen = openFiles.toLong * ps.FragmentsPerFile
    // buckets sized so the open loop fills five of them and the backlogs
    // push the oldest out of the newest-8 window: retention deletes run
    val bucketMs = math.max(1000L, fragsOpen * ps.SpacingMs / 5)

    def place(p: Payload, in: String): Unit = Files.move(Paths.get(staging, p.name),
      Paths.get(in, p.name), StandardCopyOption.ATOMIC_MOVE)
    def start(in: String, store: String, ckpt: String): StreamingQuery =
      ConsumerApp.start(spark, in, store, ckpt, KeepNewest, bucketMs)

    // warm-up: a separate consumer takes files at the open-loop rate
    val warmS = Stats.time(tr.span("warmup", "streaming") {
      val in = ctx.dir("warm/in"); Files.createDirectories(Paths.get(in))
      val q = start(in, ctx.dir("warm/store"), ctx.dir("warm/ckpt"))
      warm.foreach { p => place(p, in); Thread.sleep(1000L / FilesPerSecond) }
      q.processAllAvailable()
      q.stop()
    })._2
    ctx.endToEnd("setup_s") =
      (ctx.sessionS + Stats.median(sets.map(_._2)) + warmS, "s")

    val in = ctx.dir("in"); Files.createDirectories(Paths.get(in))
    val store = ctx.dir("store"); val ckpt = ctx.dir("ckpt")
    ctx.heap.arm()

    // open loop: file i is due at t0 + i / rate, whatever the consumer does
    ctx.tag("open")
    val q = start(in, store, ckpt)
    val t0 = System.currentTimeMillis() + 200
    val due = open.indices.map(i => t0 + i * 1000L / FilesPerSecond)
    val lateMs = mutable.ArrayBuffer[Double]()
    tr.span("open_loop", "streaming") {
      open.zip(due).foreach { case (p, d) =>
        val wait = d - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        tr.span("place", "bench")(place(p, in))
        lateMs += (System.currentTimeMillis() - d).toDouble
      }
      q.processAllAvailable()
    }
    val stored = storeRows(spark, store)
    // the last batch's progress can trail its commit by a moment
    val lastBatch = stored.map(_._2).maxOption.getOrElse(-1L)
    val deadline = System.currentTimeMillis() + 10000
    while (!q.recentProgress.exists(_.batchId >= lastBatch) &&
        System.currentTimeMillis() < deadline) Thread.sleep(10)
    val openProgress = q.recentProgress.toSeq
    val openRunId = q.runId
    q.stop()
    ctx.attempted += open.length
    val batchEnd = openProgress.map(p => p.batchId ->
      (Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution").longValue))
      .toMap
    checkExactlyOnce(ctx, open, stored, _ => true)
    val batchOf = stored.map { case (f, b, _) => f -> b }.toMap
    val lagMs = open.zip(due).collect {
      case (p, d) if d - t0 >= WarmupPrefixS * 1000 && batchOf.contains(p.fresh.head) =>
        (batchEnd(batchOf(p.fresh.head)) - d).toDouble
    }

    // restarts: each resumes from the checkpoint with a backlog waiting
    val passes = backlog.zipWithIndex.map { case (files, c) =>
      files.foreach(place(_, in))
      ctx.tag("catchup")
      ctx.attempted += files.length
      tr.span(s"catchup$c", "streaming") {
        val (qc, eager) = Stats.time(tr.span("start", "streaming")(start(in, store, ckpt)))
        val (_, drain) = Stats.time(tr.span("drain", "streaming")(qc.processAllAvailable()))
        qc.stop()
        (eager, drain)
      }
    }
    val peakMb = ctx.heap.disarmMb()

    // every fragment persisted exactly once, except whole buckets that
    // retention evicted, which must be gone
    val all = open ++ backlog.flatten
    val buckets = all.flatMap(_.fresh).map(n => ps.tsMs(n) / bucketMs).distinct.sorted
    val kept = buckets.takeRight(KeepNewest).toSet
    checkExactlyOnce(ctx, backlog.flatten, storeRows(spark, store),
      n => kept(ps.tsMs(n) / bucketMs), open)

    val passS = passes.map { case (e, d) => e + d }
    ctx.endToEnd("pass_s") = (Stats.median(passS), "s")
    ctx.endToEnd("latency_p50_ms") = (Stats.quantile(lagMs, 0.5), "ms")
    ctx.endToEnd("latency_p90_ms") = (Stats.quantile(lagMs, 0.9), "ms")
    ctx.endToEnd("peak_heap_mb") = (peakMb, "MB")
    val backlogFrags = BacklogFiles * ps.FragmentsPerFile
    ctx.info("latency_samples") = lagMs.length
    ctx.info("open_batches") = openProgress.map(p => Seq(p.numInputRows,
      p.durationMs.get("triggerExecution").longValue, Option(p.durationMs.get("addBatch")).map(_.longValue).getOrElse(-1L)))
    ctx.info("catchup_passes") = passes.map { case (e, d) => Seq(e, d) }
    ctx.info("passes") = passes.length
    ctx.info("catchup_items_per_s") = backlogFrags / Stats.median(passS)
    ctx.info("open_loop") = Map("files" -> open.length, "files_per_s" -> FilesPerSecond,
      "fragments_per_file" -> ps.FragmentsPerFile,
      "replayed_fragments" -> open.map(_.replayed.length).sum,
      "gen_late_p90_ms" -> Stats.quantile(lateMs.toSeq, 0.9))
    ctx.info("setup_parts_s") = Map("session" -> ctx.sessionS,
      "rep_median" -> Stats.median(sets.map(_._2)), "warmup" -> warmS)

    if (ctx.args.trace) {
      val eng = ctx.engine.get
      eng.drain()
      ctx.perLayer("operators.wall_s") = (Stats.median(passS), "s")
      ctx.perLayer("operators.eager_s") = (Stats.median(passes.map(_._1)), "s")
      ctx.perLayer("operators.action_s") = (Stats.median(passes.map(_._2)), "s")
      ctx.perLayer("operators.eager_jobs") = (0.0, "count")
      ctx.perLayer("operators.max_wall_s") = (passS.max, "s")
      val total = new EngineStats
      total += eng.stats("open"); total += eng.stats("catchup")
      Probes.sparkMetrics(ctx, total, 1.0)
      ctx.perLayer("bench.passes") = (passes.length.toDouble, "count")
      ctx.perLayer("bench.samples") = (lagMs.length.toDouble, "count")
      ctx.perLayer("bench.gen_late_p90_ms") = (Stats.quantile(lateMs.toSeq, 0.9), "ms")
      Probes.streamingMetrics(ctx, progress.get.progress.asScala.toSeq
        .filter(_.runId == openRunId))
      progress.foreach(spark.streams.removeListener)
    }
  }

  /** (fragment_number, ingest_batch, count) for every stored fragment. */
  private def storeRows(spark: SparkSession, store: String): Seq[(Long, Long, Long)] =
    spark.read.parquet(store)
      .groupBy(col("fragment_number"))
      .agg(min(col("ingest_batch").cast("long")), count(lit(1)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  /** Each payload in `files` fails unless every fresh fragment it carries
    * that `expected` keeps is stored exactly once and every other one is
    * absent; fragments of `others` may only appear where expected too. */
  private def checkExactlyOnce(ctx: Ctx, files: Seq[Payload],
      stored: Seq[(Long, Long, Long)], expected: Long => Boolean,
      others: Seq[Payload] = Nil): Unit = {
    val counts = stored.map { case (f, _, n) => f -> n }.toMap
    val known = (files ++ others).flatMap(_.fresh).toSet
    (files ++ others).foreach { p =>
      val bad = p.fresh.filter(n => counts.getOrElse(n, 0L) != (if (expected(n)) 1L else 0L))
      if (bad.nonEmpty) ctx.fail(s"${p.name}: fragments ${bad.take(3).mkString(",")} " +
        s"stored ${bad.take(3).map(counts.getOrElse(_, 0L)).mkString(",")} times")
    }
    val stray = counts.keySet -- known
    if (stray.nonEmpty) ctx.fail(s"store holds unknown fragments ${stray.take(3)}")
  }
}
