package graft.operators

import graft.SparkSpec

class AnalyticsSpec extends SparkSpec {

  test("hll approximate distinct stays within its error bound") {
    val rows = Analytics.approxDistinct(t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = t.events.groupBy("event_type")
      .agg(org.apache.spark.sql.functions.count_distinct(
        org.apache.spark.sql.functions.col("user_id")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val ap = rows(k)
      assert(math.abs(ap - ex).toDouble / ex <= 0.1, s"$k: approx=$ap exact=$ex")
    }
  }

  test("yearly aggregation partitions all orders") {
    val rows = Analytics.yearlyOrders(t).collect()
    assert(rows.map(_.getLong(1)).sum == t.orders.count())
    assert(rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).toSeq.sorted)
  }

  test("grouping sets granularities are mutually consistent") {
    val rows = Analytics.groupingSetsAgg(t).collect()
      .map(r => (Option(r.getString(0)), Option(r.getString(1)),
        r.getLong(2), r.getLong(3), r.getLong(4)))
    val fine = rows.filter(_._3 == 0L)   // (priority, status)
    val mid = rows.filter(_._3 == 1L)    // (priority)
    val total = rows.filter(_._3 == 3L)  // ()
    assert(fine.nonEmpty && mid.nonEmpty && total.length == 1)
    // each coarser granularity is the sum of its finer rows
    mid.foreach { case (p0, _, _, n, sumC) =>
      val members = fine.filter(_._1 == p0)
      assert(members.map(_._4).sum == n && members.map(_._5).sum == sumC, s"$p0")
    }
    assert(total.head._4 == mid.map(_._4).sum)
    assert(total.head._5 == mid.map(_._5).sum)
    assert(total.head._4 == t.orders.count())
  }

  test("range-frame window sums exactly the trailing time span") {
    // driver-side recompute over the raw rows: for each event, the sum
    // of cents of same-user events with ts in [ts - 1h, ts]
    val raw = t.events
      .selectExpr("user_id", "event_id", "ts div 1000000 as ts_ms",
        "cast(round(value*100) as bigint) as v_c")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val expected = raw.map { case (u, id, ms, _) =>
      val s0 = raw.filter { case (u2, _, ms2, _) =>
        u2 == u && ms2 >= ms - 3600000L && ms2 <= ms }.map(_._4).sum
      (u, id) -> s0
    }.toMap
    val got = Analytics.windowRangeSum(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got.nonEmpty && got.size == raw.length)
    got.foreach { case (k, v) => assert(expected(k) == v, s"event $k") }
  }

  test("outer-join distribution keeps zero-order customers and filters in the ON clause") {
    import org.apache.spark.sql.functions.col
    val dist = Analytics.outerJoinDist(t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every customer lands in exactly one bucket
    assert(dist.values.sum == t.customer.count())
    // null-extension: customers with no qualifying order survive in the
    // c_count=0 bucket — a WHERE-clause filter would have dropped them.
    // Zero-order customers = customers minus custkeys with >=1 urgent
    // order (driver-side recompute).
    val withOrder = t.orders.filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey").distinct()
    val expectedZero = t.customer.count() -
      t.customer.join(withOrder,
        col("c_custkey") === col("o_custkey"), "left_semi").count()
    assert(expectedZero > 0, "test data has no zero-order customers; filter too weak")
    assert(dist.getOrElse(0L, 0L) == expectedZero,
      s"c_count=0 bucket ${dist.get(0L)} != recomputed $expectedZero")
  }

  test("correlated scalar subquery decorrelates into one aggregate + join") {
    val df = Analytics.correlatedMinOrder(t)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // driver-side recompute: each customer's min-price order rows (ties kept)
    val orders = t.orders.select("o_custkey", "o_orderkey", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val minBy = orders.groupBy(_._1).map { case (c, rs) => c -> rs.map(_._3).min }
    val expected = orders.filter { case (c, _, p) => p == minBy(c) }
      .map { case (c, o, p) => (c, o, math.round(p * 100)) }
      .sortBy(x => (x._1, x._2))
    assert(rows.toSeq == expected.toSeq)
    // the point of the form: Catalyst rewrote the per-outer-row subquery
    // into an aggregate + equi-join — no scalar-subquery node survives
    // into the physical plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalarSubquery"), "subquery not decorrelated:\n" + plan)
  }

  test("full-outer join null-extends BOTH sides and accounts for every row") {
    import org.apache.spark.sql.functions.col
    val got = Analytics.fullOuterJoinAgg(t).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // both extension directions must actually occur in the test data
    assert(got.keys.exists(_._2 == "NO_ORDER"), "no left-extended rows")
    assert(got.keys.exists(_._1 == "NO_CUSTOMER"), "no right-extended rows")
    // row accounting: every order lands exactly once (matched or
    // NO_CUSTOMER), every customer without a matched order exactly once
    // (NO_ORDER) — the full-outer invariant
    val matched = t.customer.filter(col("c_acctbal") > 5000.0)
      .join(t.orders.filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "inner").count()
    val orderRows = got.collect {
      case ((_, p), n) if p != "NO_ORDER" => n
    }.sum
    assert(orderRows == t.orders.count(),
      s"order rows $orderRows != ${t.orders.count()}")
    val custNoOrder = got.collect {
      case ((s, "NO_ORDER"), n) if s != "NO_CUSTOMER" => n
    }.sum
    val custWithMatch = t.customer.filter(col("c_acctbal") > 5000.0)
      .join(t.orders.filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey").distinct(),
        col("c_custkey") === col("o_custkey"), "left_semi").count()
    assert(custNoOrder == t.customer.count() - custWithMatch)
    assert(got.values.sum == matched + custNoOrder +
      (t.orders.count() - matched))
  }

  test("table profile: nulls, distincts, min/max per column (C20)") {
    import spark.implicits._
    // planted fixture with a null and a duplicate
    val docs = Seq(
      (1L, Option("bb"), "en"),
      (2L, Option.empty[String], "de"),
      (3L, Option("aa"), "en")).toDF("doc_id", "text", "lang")
    val got = Analytics.profileTableOf(docs, Seq("doc_id", "text", "lang"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4),
          r.getString(5), r.getString(6))).toMap
    assert(got("doc_id") == ((3L, 0L, 3L, true, "1", "3")))
    // count(DISTINCT) and min/max ignore the null; the null is counted
    assert(got("text") == ((3L, 1L, 2L, true, "aa", "bb")))
    assert(got("lang") == ((3L, 0L, 2L, true, "de", "en")))
    // real corpus: doc_id is a key (distinct == rows), every HLL gate
    // holds, and no column is all-null
    val full = Analytics.profileDocuments(t).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toMap
    val n = t.documents.count()
    assert(full("doc_id")._1 == n && full("doc_id")._3 == n)
    full.foreach { case (c, (rows, nulls, _, bound)) =>
      assert(rows == n && nulls < n && bound, s"column $c") }
  }

  test("mad outliers match a driver recompute of the exact rank rule (C21)") {
    val rows = t.events.select("event_type", "value", "event_id").collect()
      .map(r => (r.getString(0), math.round(r.getDouble(1) * 100), r.getLong(2)))
    val expected = rows.groupBy(_._1).map { case (et, g) =>
      val n = g.length
      val target = (math.floor((n - 1) * 0.5) + 1).toInt
      val med = g.map(x => (x._2, x._3)).sorted.apply(target - 1)._1
      val devs = g.map(x => (math.abs(x._2 - med), x._3))
      val mad = devs.sorted.apply(target - 1)._1
      val nOut = devs.count(_._1 * 10000L > mad * 44478L).toLong
      et -> (n.toLong, med, mad, nOut, nOut * 1000L / n)
    }
    val got = Analytics.madOutliers(t).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got == expected && got.nonEmpty)
  }

  test("mad outliers: planted fixture and one-exchange plan (C21)") {
    import spark.implicits._
    // type a: med=30, devs sorted [0,10,10,20,970] -> mad=10; only the
    // 970 deviation exceeds 10*4.4478
    val e = Seq(("a", 0.10, 1L), ("a", 0.20, 2L), ("a", 0.30, 3L),
      ("a", 0.40, 4L), ("a", 10.00, 5L),
      // type b: constant values -> mad=0, any nonzero dev is outlying
      ("b", 1.00, 6L), ("b", 1.00, 7L), ("b", 9.99, 8L))
      .toDF("event_type", "value", "event_id")
    val got = Analytics.madOutliersOf(e).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("a", 5L, 30L, 10L, 1L, 200L),
      ("b", 3L, 100L, 0L, 1L, 333L)))
    val plan = Analytics.madOutliers(t).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected one exchange, got $exchanges:\n$plan")
  }

  test("pagerank: micro-unit quantization is drift-free on regular graphs, ranks order by structure (C22)") {
    import spark.implicits._
    // symmetric 2-cycle: contribution = (1e6*17*w)//(20*w) = 850000,
    // rank = 150000 + 850000 = exactly 1e6 every round — the integer
    // discipline introduces NO drift where the real fixpoint is uniform
    val ring = Seq((1L, 2L, 3L), (2L, 1L, 3L)).toDF("src", "dst", "w")
    val r2 = Analytics.pagerankOf(ring, 4).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r2 == Map(1L -> 1000000L, 2L -> 1000000L))
    // a star: the hub receives every spoke's full damped mass and must
    // outrank the spokes, which split the hub's mass k ways
    val star = (2L to 5L).flatMap(s => Seq((1L, s, 1L), (s, 1L, 1L)))
      .toDF("src", "dst", "w")
    val rs = Analytics.pagerankOf(star, 6).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((2L to 5L).forall(s => rs(1L) > rs(s)),
      s"hub must outrank spokes: $rs")
    assert((2L to 5L).map(rs).distinct.size == 1, "spokes are symmetric")
    // structural pin on the round lineage (edges never re-shuffle): the
    // edge blocks cross exactly ONE shuffle — the initial partitioning by
    // source — and every round reads them through a OneToOneDependency
    // and adds exactly one ShuffleDependency (the node-sized, map-side
    // combined contributions). The graph is the deploy query's own edge
    // builder, so the pin cannot drift from supplier_pagerank.
    import org.apache.spark.{Dependency, OneToOneDependency, ShuffleDependency}
    import org.apache.spark.rdd.RDD
    def deps(r: RDD[_], stop: RDD[_] => Boolean): Seq[Dependency[_]] =
      if (stop(r)) Nil else r.dependencies.flatMap(d => d +: deps(d.rdd, stop))
    def shuffles(ds: Seq[Dependency[_]]) = ds.count(_.isInstanceOf[ShuffleDependency[_, _, _]])
    val g = Fixpoint.partition(Analytics.supplierEdges(t), undirected = false)
    try {
      // walk the blocks' lineage down to where it leaves SQL (the edge
      // list's own joins and aggregate are not the loop's)
      val fromSql = (r: RDD[_]) => r.getClass.getName.startsWith("org.apache.spark.sql.")
      assert(shuffles(deps(g.blocks, fromSql)) == 1,
        "edge blocks must cross exactly one shuffle, the initial partitioning")
      assert(g.sinks == 0L, "the bipartite symmetric graph has no dangling node")
      var ranks = g.initial((_, _) => 1000000L)
      for (r <- 1 to 3) {
        val prev = ranks
        ranks = Analytics.pagerankRound(g, prev, 0L)
        val round = deps(ranks, x => (x eq prev) || (x eq g.blocks))
        assert(shuffles(round) == 1, s"round $r: ${shuffles(round)} shuffles")
        Seq(g.blocks, prev).foreach(p => assert(round.exists(d =>
          d.isInstanceOf[OneToOneDependency[_]] && (d.rdd eq p)),
          s"round $r must read ${p} through a OneToOneDependency"))
      }
      // the hand-driven rounds ARE the library's rounds
      val deploy = Analytics.pagerankOf(Analytics.supplierEdges(t), 3).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(ranks.collect().toMap == deploy)
    } finally g.release()
  }

  test("pagerank: dangling-node mass redistributes exactly (BigInt replay); numerator survives the int64 wrap") {
    import spark.implicits._
    // 1↔2 plus 1→3: node 3 is DANGLING — its damped mass must return
    // to the graph each round via the uniform share, not evaporate
    val edgeList = Seq((1L, 2L, 1L), (2L, 1L, 1L), (1L, 3L, 1L))
    val g = edgeList.toDF("src", "dst", "w")
    val iters = 4
    // driver BigInt replay of the exact update rule (floor division on
    // nonnegatives ≡ Spark's div)
    val nodesAll = Seq(1L, 2L, 3L)
    val out = Map(1L -> 2L, 2L -> 1L)
    var exp = nodesAll.map(_ -> BigInt(1000000L)).toMap
    for (_ <- 1 to iters) {
      val inflow = scala.collection.mutable.Map(
        nodesAll.map(_ -> BigInt(0)): _*)
      for ((s, d, w) <- edgeList)
        inflow(d) += (exp(s) * 17 * w) / (BigInt(out(s)) * 20)
      val dshare = (exp(3L) * 17) / (BigInt(nodesAll.size) * 20)
      exp = nodesAll.map(n =>
        n -> (BigInt(150000) + inflow(n) + dshare)).toMap
    }
    val got = Analytics.pagerankOf(g, iters).collect()
      .map(x => x.getLong(0) -> BigInt(x.getLong(1))).toMap
    assert(got == exp, s"got $got expected $exp")
    // heavy edge weights: r·17·w = 1.7e19 > Long.MaxValue — the
    // decimal(38,0) numerator keeps the symmetric 2-cycle at exactly
    // 1e6 where int64 arithmetic would wrap to a negative rank
    val W = 1000000000000L
    val heavy = Seq((1L, 2L, W), (2L, 1L, W)).toDF("src", "dst", "w")
    val rh = Analytics.pagerankOf(heavy, 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rh == Map(1L -> 1000000L, 2L -> 1000000L), rh.toString)
  }

  test("dq checks detect every planted violation class (C23)") {
    import spark.implicits._
    val parent = Seq((1L, "a"), (2L, "b")).toDF("pk", "x")
    val child = Seq[(Long, java.lang.Long)]((10L, 1L), (11L, 2L),
      (12L, 99L), // 99 orphan
      (13L, null)) // null fk: NOT an orphan
      .toDF("id", "fk")
    assert(Analytics.orphans(child, parent, "fk", "pk")
      .collect().map(_.getLong(0)).toSeq == Seq(12L))
    val dups = Seq((1L, "x"), (1L, "y"), (2L, "z"), (3L, "w"), (3L, "v"))
      .toDF("k", "v")
    assert(Analytics.duplicateKeys(dups, Seq("k"))
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // composite key: same first component, distinct pairs -> no dup
    val comp = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 1L)).toDF("a", "b")
    assert(Analytics.duplicateKeys(comp, Seq("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 1L)))
    val dom = Seq("O", "F", "Z", null).toDF("st")
    assert(Analytics.domainViolations(dom, "st", Seq("O", "F", "P")).count() == 2L)
    // the corpus audit: one row per check, everything clean EXCEPT the
    // real finding — the synthetic generator does not enforce
    // (l_orderkey, l_linenumber) uniqueness, which is exactly the kind
    // of generator defect this audit exists to surface
    val audit = Analytics.dqAudit(t).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit.size == 14)
    assert(audit("lineitem_duplicate_line") > 0L,
      "the known generator defect must be detected")
    assert((audit - "lineitem_duplicate_line").values.forall(_ == 0L),
      s"unexpected violations: ${audit.filter(_._2 != 0).mkString(",")}")
  }

  test("observe(): audit counters ride the production scan, no extra job (H15)") {
    import org.apache.spark.sql.functions._
    val (result, obs) = Analytics.observedSourceCensus(t)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = result.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      Thread.sleep(200) // let the collect's job-start events drain
      val jobsAfterCollect = jobs.get
      val m = obs.get // metrics already sit in the accumulator:
      Thread.sleep(200)
      assert(jobs.get == jobsAfterCollect,
        "reading observed metrics launched extra jobs")
      // the metrics must equal an independent recomputation...
      val expect = t.documents.agg(
        count(lit(1)), sum(when(col("text").isNull ||
          length(col("text")) === 0, 1L).otherwise(0L)),
        sum(length(col("text")).cast("long"))).collect()(0)
      assert(m("n_rows") == expect.getLong(0))
      assert(m("n_empty_text") == expect.getLong(1))
      assert(m("total_chars") == expect.getLong(2))
      // ...and the production result is unperturbed by the observe node
      val plain = t.documents.groupBy("source")
        .agg(count(lit(1)).as("n_docs")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == plain)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
