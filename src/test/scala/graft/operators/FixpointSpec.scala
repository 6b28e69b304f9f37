package graft.operators

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.util.Random

import graft.SparkSpec

/** Seeded random graphs through both [[Fixpoint]] loops, against
  * driver-side replays: connected components against a union-find that
  * keeps the minimum id, PageRank against the exact BigInt update rule. */
class FixpointSpec extends SparkSpec {

  /** A random graph: node ids spread over the whole long range (negative
    * ids included), a chain of up to 30 hops, a few small random
    * components, isolated nodes, and — for PageRank — directed weighted
    * edges whose sink-only destinations are dangling, some weights far
    * past the int64 wrap of r·17·w. */
  case class G(nodes: Seq[Long], pairs: Seq[(Long, Long)],
      edges: Seq[(Long, Long, Long)])

  def graph(seed: Long): G = {
    val rnd = new Random(seed)
    val ids = Iterator.continually(rnd.nextLong()).distinct.take(40 + rnd.nextInt(60)).toIndexedSeq
    val hops = 1 + rnd.nextInt(30)
    val chain = ids.take(hops + 1)
    val rest = ids.drop(hops + 1)
    val loose = rest.take(rest.length / 2) // the other half stays isolated
    val pairs = chain.sliding(2).map(p => (p(1), p(0))).toSeq ++
      Seq.fill(loose.length)((loose(rnd.nextInt(loose.length)),
        loose(rnd.nextInt(loose.length))))
    def weight(): Long =
      if (rnd.nextInt(5) == 0) 1000000000000L + rnd.nextInt(1000000) else 1L + rnd.nextInt(9)
    val edges = pairs.map { case (a, b) => (a, b, weight()) } ++
      pairs.filter(_ => rnd.nextBoolean()).map { case (a, b) => (b, a, weight()) }
    G(ids, pairs, edges)
  }

  def unionFindMin(g: G): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(g.nodes.map(n => n -> n): _*)
    def find(x: Long): Long = if (parent(x) == x) x else {
      val r = find(parent(x)); parent(x) = r; r
    }
    g.pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    g.nodes.map(n => n -> find(n)).toMap
  }

  /** `rounds` rounds of min-label propagation from min(self, neighbors)
    * — what a loop capped at `rounds` iterations must return. */
  def propagate(g: G, rounds: Int): Map[Long, Long] = {
    val nbrs = (g.pairs ++ g.pairs.map(_.swap)).groupBy(_._1)
      .map { case (n, ps) => n -> ps.map(_._2) }
    var l = nbrs.map { case (n, ns) => n -> (n +: ns).min }
    for (_ <- 1 to rounds) l = l.map { case (n, x) => n -> (x +: nbrs(n).map(l)).min }
    g.nodes.map(n => n -> l.getOrElse(n, n)).toMap
  }

  def pagerankReplay(edges: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val wout = edges.groupBy(_._1).map { case (s, es) => s -> BigInt(es.map(_._3).sum) }
    val dangling = nodes.filterNot(wout.contains)
    var r = nodes.map(_ -> BigInt(1000000)).toMap
    for (_ <- 1 to iters) {
      val inflow = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _, w) => r(s) * 17 * w / (wout(s) * 20) }.sum }
      val share =
        if (dangling.isEmpty) BigInt(0)
        else dangling.map(r).sum * 17 / (BigInt(nodes.length) * 20)
      r = nodes.map(n => n -> (BigInt(150000) + inflow.getOrElse(n, BigInt(0)) + share)).toMap
    }
    r.map { case (n, v) => n -> v.toLong }
  }

  /** Runs `body` and returns its result with the RDDs it left persisted. */
  def leftPersisted[T](body: => T): (T, Seq[org.apache.spark.rdd.RDD[_]]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = body
    (out, spark.sparkContext.getPersistentRDDs.toSeq
      .collect { case (id, r) if !before(id) => r })
  }

  def labelsOf(g: G, dir: Option[String], maxIters: Int = 50): Map[Long, Long] = {
    import spark.implicits._
    Dedup.connectedComponents(g.nodes.toDF("doc_id"), g.pairs.toDF("id_a", "id_b"),
        maxIters, dir).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  def ranksOf(edges: Seq[(Long, Long, Long)], iters: Int,
      s: org.apache.spark.sql.SparkSession = spark): Map[Long, Long] = {
    import s.implicits._
    Analytics.pagerankOf(edges.toDF("src", "dst", "w"), iters).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("random graphs: components equal a min-id union-find (capped: the round replay), pagerank equals the BigInt replay, both checkpoint modes agree, only the final state stays persisted") {
    (1 to 6).foreach { seed =>
      val g = graph(seed.toLong)
      val (local, kept) = leftPersisted(labelsOf(g, None))
      assert(local == unionFindMin(g), s"seed $seed: components differ from union-find")
      // the edge blocks and every superseded round are freed: the one
      // RDD left is the final labels' checkpoint
      assert(kept.length == 1 && kept.head.isCheckpointed,
        s"seed $seed: components left ${kept.map(_.toString)} persisted")
      kept.foreach(_.unpersist(blocking = true))
      val dir = java.nio.file.Files.createTempDirectory("fixpoint_chk").toString
      val (reliable, keptR) = leftPersisted(labelsOf(g, Some(dir)))
      assert(reliable == local, s"seed $seed: reliable checkpoints changed the labels")
      assert(keptR.length <= 1 && keptR.forall(_.isCheckpointed),
        s"seed $seed: reliable mode left ${keptR.map(_.toString)} persisted")
      keptR.foreach(_.unpersist(blocking = true))
      // a capped loop stops after exactly maxIters rounds (0 = the init)
      val cap = seed % 4
      assert(labelsOf(g, None, cap) == propagate(g, cap), s"seed $seed: maxIters $cap")
      val iters = 1 + seed % 4
      val (ranks, keptP) = leftPersisted(ranksOf(g.edges, iters))
      assert(ranks == pagerankReplay(g.edges, iters), s"seed $seed: pagerank differs from replay")
      assert(keptP.length == 1 && keptP.head.isCheckpointed,
        s"seed $seed: pagerank left ${keptP.map(_.toString)} persisted")
      keptP.foreach(_.unpersist(blocking = true))
    }
  }

  test("two sessions run components and pagerank concurrently without touching session conf") {
    import scala.concurrent.ExecutionContext.Implicits.global
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val g = graph(42L)
    val wantLabels = labelsOf(g, None)
    val wantRanks = ranksOf(g.edges, 5)
    val (s1, s2) = (spark.newSession(), spark.newSession())
    val cc = Future {
      import s1.implicits._
      Dedup.connectedComponents(g.nodes.toDF("doc_id"), g.pairs.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val pr = Future(ranksOf(g.edges, 5, s2))
    val pins = scala.collection.mutable.ArrayBuffer.empty[String]
    while (!(cc.isCompleted && pr.isCompleted)) {
      Seq(s1, s2).foreach(s => s.conf.getOption(key).foreach(pins += _))
      Thread.sleep(1)
    }
    assert(pins.isEmpty, s"a loop pinned $key: $pins")
    assert(Await.result(cc, 1.minute) == wantLabels)
    assert(Await.result(pr, 1.minute) == wantRanks)
  }
}
