package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import graft.tools.ScaleData

/** Seeded inputs. The base tables under `perfbench/base` are one replica
  * of the program's test corpus; the seed shifts their keys and times the
  * way ScaleData separates its replicas (ids by multiples of
  * `ScaleData.IdStride`, event times by whole spans of the table). Texts
  * stay as they are: ScaleData's letter permutation changes which pairs
  * collide in the LSH tiers, so the work of a dedup pass would change with
  * the seed. Every seed therefore has the same row counts, duplicate
  * structure and work, and different ids and times. */
object Inputs {
  /** The replica the seed selects: 1 to 1000. */
  def replica(seed: Long): Int = 1 + new scala.util.Random(seed).nextInt(1000)

  /** events with ts as epoch nanoseconds, one of the encodings the
    * program's table loader accepts. */
  def eventsNs(spark: SparkSession, base: String): DataFrame = {
    val ev = spark.read.parquet(s"$base/events.parquet")
    ev.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
  }

  /** Writes the seed's replica of `tables` as parquet under `dir`. */
  def write(spark: SparkSession, base: String, seed: Long, dir: String,
      tables: Seq[String]): Unit = {
    val shift = lit(replica(seed) * ScaleData.IdStride)
    def in(name: String) = spark.read.parquet(s"$base/$name.parquet")
    def out(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    tables.foreach {
      case "events" =>
        // event ids stay: queries address events by id (the resume token
        // is event 500); times move by whole days, so time windows keep
        // their alignment
        val ev = eventsNs(spark, base)
        val r = ev.agg(min("ts"), max("ts")).head()
        val dayNs = 86400L * 1000000000L
        val spanDays = (r.getLong(1) - r.getLong(0)) / dayNs + 1
        out(ev.withColumn("ts", col("ts") + lit(spanDays * dayNs * replica(seed))), "events")
      case "documents" => out(in("documents").withColumn("doc_id", col("doc_id") + shift), "documents")
      case "orders" => out(in("orders").withColumn("o_orderkey", col("o_orderkey") + shift), "orders")
      case "lineitem" => out(in("lineitem").withColumn("l_orderkey", col("l_orderkey") + shift), "lineitem")
    }
  }
}
