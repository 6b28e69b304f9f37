package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.ebml.EbmlFunctions
import graft.functions.{intDiv, nanosToMs}
import graft.sources.{FragmentArchive, Tables}
import graft.streaming.ConsumerApp

/** The traced run's per-layer numbers for the layers below the workload:
  * each public entry point of sources, ebml and plans called on the
  * seed's inputs with its operands cached outside the timer, the median
  * of several calls. Every traced run measures all of them, so each
  * workload reports every layer; on a workload that does not use a layer
  * the number describes that layer alone. */
object Probes {
  private val Reps = 5
  private val Copies = 8

  private def median(ctx: Ctx, name: String, layer: String)(body: => Unit): Double = {
    ctx.tag(s"probe:$name")
    System.err.println(s"[graftbench] probe $name")
    Stats.median((1 to Reps).map(i =>
      Stats.time(ctx.tracer.span(s"$name#$i", layer)(body))._2))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Materialized in memory, so a probe times only its kernel. */
  private def cached(df: DataFrame): DataFrame = {
    val c = df.persist(); c.count(); c
  }

  /** spark.* for a workload's timed phase, per pass. */
  def sparkMetrics(ctx: Ctx, s: EngineStats, passes: Double): Unit = {
    ctx.perLayer("spark.jobs") = (s.jobs.get / passes, "count")
    ctx.perLayer("spark.tasks") = (s.tasks.get / passes, "count")
    ctx.perLayer("spark.exec_run_s") = (s.runNs.get / passes / 1e9, "s")
    ctx.perLayer("spark.sched_delay_s") = (s.schedNs.get / passes / 1e9, "s")
    ctx.perLayer("spark.gc_s") = (s.gcNs.get / passes / 1e9, "s")
    ctx.perLayer("spark.shuffle_mb") = (s.shuffleBytes.get / passes / 1048576.0, "MB")
    ctx.perLayer("spark.spill_mb") = (s.spillBytes.get / passes / 1048576.0, "MB")
  }

  /** streaming.* from the progress of the micro-batches that read data. */
  def streamingMetrics(ctx: Ctx, ps: Seq[StreamingQueryProgress]): Unit = {
    val data = ps.filter(_.numInputRows > 0)
    def ms(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue / 1000).getOrElse(0.0)
    ctx.perLayer("streaming.batch_s") = (Stats.median(data.map(ms(_, "triggerExecution"))), "s")
    ctx.perLayer("streaming.add_batch_s") = (Stats.median(data.map(ms(_, "addBatch"))), "s")
    ctx.perLayer("streaming.batches") = (data.length.toDouble, "count")
    ctx.perLayer("streaming.rows_per_batch") =
      (Stats.median(data.map(_.numInputRows.toDouble)), "count")
    ctx.perLayer("streaming.state_rows") = (ps.flatMap(_.stateOperators)
      .map(_.numRowsTotal.toDouble).maxOption.getOrElse(0.0), "count")
  }

  def run(ctx: Ctx): Unit = ctx.tracer.span("probes", "bench") {
    val spark = ctx.spark
    graft.plans.VectorFunctions.register(spark)
    val dirs = (1 to 3).map(i => ctx.dir(s"probe/data$i"))
    dirs.foreach(Inputs.write(spark, ctx.args.base, ctx.args.seed, _, Seq("events")))

    // sources: archive build in fresh directories, full scan, pruned scan
    System.err.println("[graftbench] probe archive_build")
    ctx.tag("probe:archive_build")
    val builds = dirs.map(d => Stats.time(ctx.tracer.span("archive_build", "sources")(
      FragmentArchive.materialize(Tables(spark, d), d))))
    val archive = builds.head._1
    ctx.perLayer("sources.archive_build_s") = (Stats.median(builds.map(_._2)), "s")
    val files = Files.list(Paths.get(archive)).iterator.asScala
      .filter(_.toString.endsWith(".mkv")).toSeq
    val archiveMb = files.map(Files.size(_)).sum / 1048576.0
    val scan = spark.read.format("ebml").load(archive)
    val scanS = median(ctx, "ebml_scan", "sources")(noop(scan))
    ctx.perLayer("sources.ebml_scan_s") = (scanS, "s")
    ctx.perLayer("sources.ebml_scan_mb_per_s") = (archiveMb / scanS, "MB/s")
    ctx.perLayer("sources.ebml_splits") = (scan.rdd.getNumPartitions.toDouble, "count")
    val maxF = scan.agg(max("fragment_number")).head().getLong(0)
    val pruned = scan.filter(col("fragment_number") < maxF / 10)
    ctx.perLayer("sources.pruned_scan_s") =
      (median(ctx, "pruned_scan", "sources")(noop(pruned)), "s")
    // files the scan had to open: with contiguous fragment numbers per
    // payload, exactly the files that contribute a row
    val opened = pruned.select("path").distinct().collect().map(_.getString(0))
    ctx.perLayer("sources.pruned_read_mb") = (opened.map(p =>
      Files.size(Paths.get(new java.net.URI(p)))).sum / 1048576.0, "MB")

    // sources: ConsumerApp.persistBatch, with retention, on batches shaped
    // like the consumer's
    // (producer time 100 ms apart, 300 fragments a batch, 30 s buckets)
    val producerMs = col("fragment_number") * 100L
    val records = cached(scan.filter(col("fragment_number") < 8 * 300).select(
      col("fragment_number"), col("user_id").as("producer_id"),
      timestamp_millis(producerMs).as("producer_time"),
      col("millis_behind"), col("continuation_token").as("token"), col("position"),
      format_string("%019d", intDiv(producerMs, 30000L)).as("bucket"),
      intDiv(col("fragment_number"), 300L).as("b")))
    val store = ctx.dir("probe/store")
    System.err.println("[graftbench] probe persist")
    ctx.tag("probe:persist")
    val persist = records.select("b").distinct().collect().map(_.getLong(0)).sorted.toSeq
      .map { b =>
        val batch = records.filter(col("b") === b).drop("b")
        Stats.time(ctx.tracer.span("persist_batch", "sources")(
          ConsumerApp.persistBatch(batch, b, store, 4)))._2
      }
    ctx.perLayer("sources.persist_s") = (Stats.median(persist), "s")
    records.unpersist()

    // ebml kernels over cached fragment blobs and payloads
    val blobs = cached(scan.select("blob")
      .crossJoin(spark.range(Copies).toDF("copy")).drop("copy"))
    val payloads = cached(spark.read.format("binaryFile").load(s"$archive/*.mkv")
      .select(col("content").as("blob"))
      .crossJoin(spark.range(Copies).toDF("copy")).drop("copy"))
    def kernel(name: String, layer: String, in: DataFrame, k: Column) =
      ctx.perLayer(s"$layer.${name}_s") =
        (median(ctx, name, layer)(noop(in.select(k))), "s")
    kernel("split", "ebml", payloads, EbmlFunctions.splitFragments(col("blob")))
    kernel("parse_tags", "ebml", blobs, EbmlFunctions.parseTags(col("blob")))
    kernel("parse_elements", "ebml", blobs, EbmlFunctions.parseElements(col("blob")))
    kernel("crc", "ebml", blobs, EbmlFunctions.crcValid(col("blob")))
    Seq(blobs, payloads).foreach(_.unpersist())

    // plans: the registered codec kernels and the as-of operator
    val events = Tables(spark, dirs.head).events
      .withColumn("ts_ms", nanosToMs(col("ts")))
    val ids = events.select("event_id", "user_id")
      .crossJoin(spark.range(Copies).toDF("copy")).drop("copy")
    val nal = cached(ids.select(call_function("graft_h264_encode",
      col("event_id"), col("user_id")).as("frame")))
    val gop = cached(ids.select(call_function("graft_h264_gop_encode",
      col("event_id"), col("user_id")).as("frame")))
    kernel("nal_stats", "plans", nal, call_function("graft_nal_stats", col("frame")))
    kernel("gop_census", "plans", gop, call_function("graft_gop_census", col("frame")))
    // the as-of operator on the asof_custom_plan shape: events before the
    // next error marker of the same user
    val e = events.select("event_id", "user_id", "ts_ms", "event_type")
    val data = e.filter(col("event_type") =!= "error").select("event_id", "user_id", "ts_ms")
    val markers = e.filter(col("event_type") === "error").select(col("user_id").as("m_user"),
      col("ts_ms").as("m_ts"), col("event_id").as("m_id"))
    ctx.perLayer("plans.asof_s") = (median(ctx, "asof", "plans")(noop(
      graft.plans.AsOf.join(data, markers, "user_id", "ts_ms", "m_user", "m_ts", "m_id"))),
      "s")
    Seq(nal, gop).foreach(_.unpersist())

    if (ctx.args.workload != "consumer_stream") streamingProbe(ctx)
  }

  /** For the batch workloads, which run no stream: a consumer drains two
    * bursts of the seed's payloads, and streaming.* come from its
    * progress. */
  private def streamingProbe(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val collector = new ProgressCollector
    spark.streams.addListener(collector)
    val ps = new PayloadSet(spark, ctx.args.base, ctx.args.seed)
    val staging = ctx.dir("probe/staging"); val in = ctx.dir("probe/in")
    val files = ps.payloads("probe", 0L, 24)
    ps.writeAll(staging, files)
    Files.createDirectories(Paths.get(in))
    System.err.println("[graftbench] probe stream")
    ctx.tag("probe:stream")
    val q = ConsumerApp.start(spark, in, ctx.dir("probe/cstore"), ctx.dir("probe/ckpt"))
    ctx.tracer.span("stream_probe", "streaming") {
      files.grouped(12).foreach { g =>
        g.foreach(p => Files.move(Paths.get(staging, p.name), Paths.get(in, p.name)))
        q.processAllAvailable()
      }
    }
    q.stop()
    spark.streams.removeListener(collector)
    streamingMetrics(ctx, collector.progress.asScala.toSeq.filter(_.runId == q.runId))
  }
}
