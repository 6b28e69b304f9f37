package graft.operators

import graft.SparkSpec
import graft.functions.Hashing

class DedupSpec extends SparkSpec {

  test("exact dedup keeps one row per distinct text") {
    val out = Dedup.dedupExact(t).collect()
    val docs = t.documents.count()
    assert(out.map(_.getLong(1)).sum == docs)
    assert(out.map(_.getLong(0)).distinct.length == out.length)
  }

  test("minhash candidates recall >= 0.95 against exact jaccard >= 0.95") {
    // 4 bands × 10 rows (40 hashes): P[candidate] = 1-(1-j^10)^4 ≈ 0.974
    // at j = 0.95 and higher above it — shuffle volume is unchanged vs
    // the old 4×16 geometry (still 4 (band, sig) rows per doc, and the
    // carried sigs array is still 4 longs); only the row count per band
    // changed, so the recall floor rises from 0.8 to 0.95 for free
    // (8-row bands were measured too: same recall 1.0 but ~3× the false
    // candidates — 1-2 s more exact-kernel verify per clustering query)
    val ground = Dedup.jaccardPairs(t, 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashCandidates(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ground.nonEmpty, "ground truth must not be empty at sf0.001")
    val recall = ground.intersect(cand).size.toDouble / ground.size
    info(s"minhash recall@j>=0.95 = $recall (ground=${ground.size}, cand=${cand.size})")
    assert(recall >= 0.95)
  }

  test("native minhash expression matches the UDF reference implementation") {
    import org.apache.spark.sql.functions._
    graft.plans.VectorFunctions.register(spark)
    val toks = array_sort(array_distinct(graft.functions.words(col("text"))))
    val both = t.documents.limit(100)
      .select(col("doc_id"),
        call_function("graft_minhash_bands", toks).as("native"),
        graft.functions.Sketches.minhashBandSigs()(toks).as("viaUdf"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"doc ${r.getLong(0)}"))
  }

  test("simhash pairs respect the hamming bound and signature definition") {
    val rows = Dedup.simhashPairs(t).collect()
    assert(rows.forall(_.getLong(2) <= 6))
    // recompute one signature by hand and check a self-consistent pair
    val doc = t.documents.limit(1).collect().head
    val toks = "[a-z]+".r.findAllIn(doc.getString(1).toLowerCase).toSeq.distinct
    val counts = new Array[Int](64)
    toks.foreach { tk =>
      val h = Hashing.hashString(tk)
      (0 until 64).foreach(j => if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1)
    }
    var expected = 0L
    (0 until 64).foreach(j => if (counts(j) > 0) expected |= (1L << j))
    // the same computation through the UDF path must agree
    import org.apache.spark.sql.functions._
    val viaUdf = t.documents.filter(col("doc_id") === doc.getLong(0))
      .select(graft.functions.Sketches.simhashSig(
        array_distinct(graft.functions.words(col("text"))))).collect().head.getLong(0)
    assert(viaUdf == expected)
  }

  test("simhash candidate generation is complete for hamming <= 6") {
    import org.apache.spark.sql.functions._
    // brute-force ground truth: every pair of docs whose signatures are
    // within hamming 6, computed driver-side from the same signature UDF
    val sigs = t.documents
      .select(col("doc_id"),
        graft.functions.Sketches.simhashSig(
          array_distinct(graft.functions.words(col("text")))).as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (_, s) => s != 0L } // operator drops empty-token docs
    val ground = (for {
      (ia, sa) <- sigs; (ib, sb) <- sigs
      if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= 6
    } yield (ia, ib)).toSet
    val found = Dedup.simhashPairs(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ground.nonEmpty, "need at least one hamming<=6 pair at sf0.001")
    assert(found == ground,
      s"missing=${(ground -- found).take(5)} extra=${(found -- ground).take(5)}")
    // forcing every group through the hot-salted path must not change the set
    val salted = Dedup.simhashPairs(t, hotGroupSize = 1, blocks = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == ground)
  }

  test("ngram lsh pairs: exact jaccards, recall >= 0.8 vs brute ngram pairs") {
    val ground = Dedup.ngramJaccardPairs(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.ngramLshPairs(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(ground.nonEmpty, "need ngram near-dup pairs at sf0.001")
    // verified candidates must be TRUE pairs with the exact jaccard
    lsh.foreach { case (k, j) => assert(ground.get(k).contains(j), s"pair $k") }
    val recall = lsh.keySet.intersect(ground.keySet).size.toDouble / ground.size
    info(s"ngram-lsh recall vs brute = $recall (ground=${ground.size})")
    assert(recall >= 0.8)
  }

  test("lsh clustering equals brute-force clustering at sf0.001") {
    // at this SF and threshold, minhash recall on true j>=0.95 pairs is 1.0
    // (the recall test above measures it), so verified-LSH edges == brute
    // edges and the components must match exactly — cluster ids included
    val brute = Dedup.dedupClusters(t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Dedup.dedupClustersLsh(t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(brute.values.toSet.size < brute.size,
      "need at least one non-trivial cluster at sf0.001")
    assert(lsh == brute)
  }

  test("keep-best election picks each cluster's max-quality member") {
    val clusters = Dedup.dedupClusters(t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = graft.operators.TextOps.textQuality(t).collect()
      .map(r => r.getLong(0) -> r.getDouble(6)).toMap // stop_ratio
    val got = Dedup.dedupKeepBest(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // one keeper per cluster, and it IS a member of that cluster
    assert(got.map(_._1).distinct.length == got.length)
    assert(got.map(_._1).toSet == clusters.values.toSet)
    got.foreach { case (cid, keep, sr) =>
      assert(clusters(keep) == cid, s"keeper $keep not in cluster $cid")
      assert(sr == quality(keep), s"keeper $keep score mismatch")
      // the election rule, replayed driver-side
      val members = clusters.filter(_._2 == cid).keys
      val best = members.minBy(id => (-quality(id), id))
      assert(keep == best, s"cluster $cid kept $keep, best is $best")
    }
    // a real multi-member cluster must exist where the keeper is NOT
    // the min id — otherwise this collapses into dedup_clusters
    assert(got.exists { case (cid, keep, _) => keep != cid },
      "fixture never exercises a quality election over the id order")
  }

  test("connected components propagate labels across a 10-hop chain") {
    import spark.implicits._
    // chain 1-2-3-...-10 plus isolated 99: the min label must travel the
    // whole chain (one hop per round), not just reach direct neighbors
    val nodes = (1L to 10L).toDF("doc_id").union(Seq(99L).toDF("doc_id"))
    val pairs = (1L until 10L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 10L).forall(got(_) == 1L), s"chain not collapsed: $got")
    assert(got(99L) == 99L)
    // reliable-checkpoint mode (spot-instance deployments) must produce
    // identical clusters, write real checkpoints, AND clean up
    // superseded rounds — only the final labels round may remain
    val dir = java.nio.file.Files.createTempDirectory("cc_chk").toString
    val prevDir = spark.sparkContext.getCheckpointDir
    val reliable = Dedup.connectedComponents(nodes, pairs,
        checkpointDir = Some(dir)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == got)
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "reliable mode never wrote a checkpoint")
    // each call is namespaced under its own cc_N subdirectory; inside it
    // only the FINAL labels round may remain (edges + superseded rounds
    // are deleted as soon as their successor is stored)
    val callDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
    assert(callDirs.length == 1 && callDirs.head.getName.startsWith("cc_"),
      s"expected one cc_* namespace: ${callDirs.map(_.getName).toSeq}")
    val rounds = callDirs.head.listFiles().filter(_.isDirectory)
      .map(_.getName).filter(n => n.startsWith("labels_") || n == "edges").toSeq
    assert(rounds.forall(_.startsWith("labels_")) && rounds.length == 1,
      s"superseded checkpoints not cleaned: $rounds")
    // a concurrent/subsequent df.checkpoint in the same context must not
    // land in (or be deleted from) this call's round directories: the
    // global checkpoint dir was restored (or parked on the quiescent
    // namespace root when the caller had none)
    val nowDir = spark.sparkContext.getCheckpointDir
    assert(nowDir == prevDir || nowDir.exists(_.contains("cc_")),
      s"checkpoint dir left on a round directory: $nowDir")
    assert(!nowDir.exists(_.contains("labels_")),
      s"checkpoint dir left on a deletable labels dir: $nowDir")
  }

  test("clustering frees superseded local-checkpoint blocks") {
    // r3 verdict #2: every clustering query used to pin its hashed
    // working set + every superseded label round in block storage until
    // driver GC — a 59-query bench accumulated all of them. Only the
    // FINAL labels round may stay persisted (the returned plan reads it).
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Dedup.dedupClustersLsh(t)
    out.write.format("noop").mode("overwrite").save()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 1,
      s"clustering left ${leaked.size} persisted RDDs (expect only final labels): $leaked")
  }

  test("lsh embedding pairs: no duplicates, exact cosines, recall vs brute") {
    val exact = Dedup.embeddingPairs(t).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lshRows = Dedup.embeddingPairsLsh(t).collect()
    val lsh = lshRows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lshRows.length == lsh.size, "first-agreeing-table emission must not duplicate")
    // every surfaced pair is a true pair with the exact cosine
    lsh.foreach { case (k, c) => assert(exact.get(k).contains(c), s"pair $k") }
    val recall = lsh.keySet.intersect(exact.keySet).size.toDouble / exact.size
    info(s"embed-lsh recall vs exact = $recall (exact=${exact.size})")
    assert(recall >= 0.5)
  }

  test("embed lsh clustering refines the brute-force clustering") {
    // LSH emits only verified true edges, so same-LSH-cluster implies
    // same-brute-cluster (containment); recall < 1 may split clusters
    // but must never merge unrelated vectors
    val brute = Dedup.connectedComponents(
        t.embeddings.select(org.apache.spark.sql.functions.col("vec_id").as("doc_id")),
        Dedup.embeddingPairs(t).select("id_a", "id_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Dedup.embedClustersLsh(t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lsh.keySet == brute.keySet)
    // containment: two vectors sharing an LSH cluster share a brute one
    lsh.groupBy(_._2).values.foreach { members =>
      val bruteLabels = members.keys.map(brute).toSet
      assert(bruteLabels.size == 1, s"LSH cluster spans brute clusters: $members")
    }
    assert(lsh.values.toSet.size >= brute.values.toSet.size)
    assert(brute.values.toSet.size < brute.size, "fixture has no clusters")
  }

  test("sizedLshBits: integer occupancy rule, known anchors") {
    // smallest b >= 1 with n <= 32*2^b — the values the benched sized
    // queries (and their DuckDB oracle replay) derive at each SF
    assert(Dedup.sizedLshBits(1L) === 1)
    assert(Dedup.sizedLshBits(64L) === 1)
    assert(Dedup.sizedLshBits(65L) === 2)
    assert(Dedup.sizedLshBits(500L) === 4) // the sf0.01 correctness gate
    assert(Dedup.sizedLshBits(2000L) === 6) // sf0.1: coincides with fixed 6
    assert(Dedup.sizedLshBits(2049L) === 7)
    assert(Dedup.sizedLshBits(20000L) === 10) // target/sf1
    assert(Dedup.sizedLshBits(200000L) === 13) // target/sf10
  }

  test("sizedShufflePartitions: session floor, byte scaling, conf target") {
    val floor = spark.sessionState.conf.numShufflePartitions // 4 here
    // empty / non-checkpointed inputs size to the session width — the
    // at-bench-SF invariant that keeps the driver's numbers comparable
    assert(Dedup.sizedShufflePartitions(spark, 0L) === floor)
    assert(Dedup.sizedShufflePartitions(spark, 1L) === floor)
    // 100 target-sized chunks ask for ~100 reducers
    assert(Dedup.sizedShufflePartitions(spark, 2L * 1024 * 1024 * 100) === 101)
    // production raises the target (guide §2.2's 128 MB-1 GB partitions)
    spark.conf.set("spark.graft.shuffle.targetPartitionBytes",
      (256L * 1024 * 1024).toString)
    try assert(Dedup.sizedShufflePartitions(spark, 2L * 1024 * 1024 * 100) === floor)
    finally spark.conf.unset("spark.graft.shuffle.targetPartitionBytes")
    // runaway input hits the 32768 cap, not an int overflow
    assert(Dedup.sizedShufflePartitions(spark, Long.MaxValue) === 32768)
  }

  test("withInitialPartitions pins the AQE width inside the block only") {
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val before = spark.conf.getOption(key)
    Dedup.withInitialPartitions(spark, 17) {
      assert(spark.conf.get(key) === "17")
      // nesting: the inner value wins, then the outer is restored
      Dedup.withInitialPartitions(spark, 5) {
        assert(spark.conf.get(key) === "5")
      }
      assert(spark.conf.get(key) === "17")
    }
    assert(spark.conf.getOption(key) === before)
    spark.conf.set(key, "9")
    try {
      Dedup.withInitialPartitions(spark, 17)(assert(spark.conf.get(key) === "17"))
      assert(spark.conf.get(key) === "9")
    } finally spark.conf.unset(key)
  }

  test("connected components labels are invariant to the sized round width") {
    import spark.implicits._
    val nodes = (1L to 10L).toDF("doc_id").union(Seq(99L).toDF("doc_id"))
    val pairs = (1L until 10L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    def run() = Dedup.connectedComponents(nodes, pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = run()
    // an 8-byte target forces the loop's width far above the session's 4
    // (the 9 pairs pack into 144 bytes: 19 partitions) — partitioning is
    // the ONLY thing that may change
    spark.conf.set("spark.graft.shuffle.targetPartitionBytes", "8")
    try assert(run() == base)
    finally spark.conf.unset("spark.graft.shuffle.targetPartitionBytes")
  }

  test("sized LSH pairs contain the fixed-width pairs (prefix buckets)") {
    // hyperplane j is width-independent, so a b-bit bucket is the low
    // b bits of the 6-bit bucket: narrower tables collide strictly
    // more, and every emitted pair is exact-verified either way —
    // sizing DOWN (small corpora) can only add true pairs
    val fixed = Dedup.embeddingPairsLsh(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sized = Dedup.embeddingPairsLshSized(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Dedup.sizedLshBits(t.embeddings.count()) < 6,
      "spec fixture should exercise the sized-down branch")
    assert(fixed.subsetOf(sized),
      s"fixed-width pairs missing from sized: ${(fixed -- sized).take(5)}")
  }

  test("embedding near-dup pairs are symmetric-safe and above threshold") {
    val rows = Dedup.embeddingPairs(t).collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getDouble(2) >= 0.4 - 1e-9))
  }

  test("paragraph dedup strips planted cross-document boilerplate, keeps first occurrence") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val header = "LICENSE: do what thou wilt"
    val footer = "generated by a site builder"
    val docs = Seq(
      // doc 1: header + unique body + footer — the FIRST occurrences all keep
      (1L, s"$header\n\nthe first document body\n\n$footer"),
      // doc 2: same boilerplate around a different body — both strip
      (2L, s"$header\n\nan entirely different body\n\n$footer"),
      // doc 3: footer only, plus a paragraph repeated WITHIN the doc —
      // the in-document repeat strips too (global first occurrence)
      (3L, s"twice told tale\n\ntwice told tale\n\n$footer"),
      // doc 4: pure boilerplate — reassembles to the empty string
      (4L, s"$header\n\n$footer"),
      // doc 5: untouched, and blank-line normalization (extra blank
      // lines, surrounding whitespace) must not split or dirty it
      (5L, "a clean document\n\n\n  \n\nwith two paragraphs")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs,
        Dedup.blankLineParas(col("text")), "\n\n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 0L, s"$header\n\nthe first document body\n\n$footer"),
      (2L, 1L, 2L, "an entirely different body"),
      (3L, 1L, 2L, "twice told tale"),
      (4L, 0L, 2L, ""),
      (5L, 2L, 0L, "a clean document\n\nwith two paragraphs")))
  }

  test("paragraph dedup word-block form: no-drop docs round-trip; exchanges carry no text") {
    import org.apache.spark.sql.functions._
    val out = Dedup.dedupParagraphsBlocks(t)
    // every undropped document reassembles to its original text exactly
    val diff = out.filter(col("n_dropped") === 0L).as("o")
      .join(t.documents.as("d"), Seq("doc_id"))
      .filter(col("o.text") =!= col("d.text"))
    assert(diff.count() == 0, "no-drop reassembly is not an identity")
    // totals are conserved: kept + dropped = total paragraphs
    val Array(kept, dropped) = out
      .agg(sum("n_kept"), sum("n_dropped")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val paras = t.documents
      .select(explode(Dedup.wordBlockParas(col("text"), 8)).as("p")).count()
    assert(kept + dropped == paras, s"$kept + $dropped != $paras")
    // exchange discipline: the election and drop-list plan moves hashes
    // and ids only — document/paragraph text never enters an exchange
    // (execute `out` first so AQE's final plan — broadcast of the small
    // drop side — is what's inspected, not the initial estimate)
    out.collect()
    val planned = out.queryExecution.executedPlan.toString
    val exchanges = planned.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("para#") && !exchanges.contains("text#"),
      s"an exchange carries paragraph text:\n$exchanges")
  }

  test("boilerplate removal drops every copy at the doc threshold, keeps choruses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val footer = "generated by a site builder"
    val docs = Seq(
      // footer appears in 3 distinct docs -> ALL copies drop (doc 1's too)
      (1L, s"first document body\n\n$footer"),
      (2L, s"second document body\n\n$footer"),
      // doc 3 carries the footer twice; both copies drop
      (3L, s"$footer\n\nthird body\n\n$footer"),
      // a chorus repeated 3x WITHIN one doc only: 1 distinct doc < 3,
      // so in-document repetition alone never strips (unlike D8)
      (4L, "sing the chorus\n\nsing the chorus\n\nsing the chorus"),
      // a paragraph shared by only TWO docs stays everywhere
      (5L, "shared by just two\n\nunique five"),
      (6L, "shared by just two\n\nunique six")
    ).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplate(docs,
        Dedup.blankLineParas(col("text")), "\n\n", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 1L, 1L, "first document body"),
      (2L, 1L, 1L, "second document body"),
      (3L, 1L, 2L, "third body"),
      (4L, 3L, 0L, "sing the chorus\n\nsing the chorus\n\nsing the chorus"),
      (5L, 2L, 0L, "shared by just two\n\nunique five"),
      (6L, 2L, 0L, "shared by just two\n\nunique six")))
  }

  test("boilerplate removal block form: conservation, monotone vs D8, no text in exchanges") {
    import org.apache.spark.sql.functions._
    val out = Dedup.removeBoilerplateBlocks(t)
    // kept + dropped = total blocks
    val Array(kept, dropped) = out
      .agg(sum("n_kept"), sum("n_dropped")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val paras = t.documents
      .select(explode(Dedup.wordBlockParas(col("text"), 8)).as("p")).count()
    assert(kept + dropped == paras, s"$kept + $dropped != $paras")
    // every block D8b drops belongs to a >1-copy group, so D8 (keep
    // first) always drops STRICTLY fewer occurrences than D8b removes
    // for threshold <= 2; at threshold 3 the relation is: a dropped D8b
    // group of c copies across >=3 docs loses c, where D8 loses c-1 —
    // hence total D8b drops >= total D8 drops restricted to those
    // groups. The cheap corpus-level check: D8b never KEEPS fewer
    // blocks than it would at threshold 2 (monotone in the threshold)
    val out2 = Dedup.removeBoilerplateBlocks(t, minDocs = 2)
      .agg(sum("n_kept")).collect()(0).getLong(0)
    assert(kept >= out2, s"threshold monotonicity violated: $kept < $out2")
    // exchange discipline (final adaptive plan)
    out.collect()
    val planned = out.queryExecution.executedPlan.toString
    val exchanges = planned.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("para#") && !exchanges.contains("text#"),
      s"an exchange carries paragraph text:\n$exchanges")
  }

  test("snapshot diff classifies added/removed/changed/unchanged; no text in exchanges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val old = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val neu = Seq((1L, "alpha"), (2L, "beta CHANGED"), (4L, "delta")).toDF("doc_id", "text")
    val got = Dedup.snapshotDiffOf(old, neu).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    // identical snapshots diff to all-unchanged (identity)
    val same = Dedup.snapshotDiffOf(old, old).collect().map(_.getString(1))
    assert(same.forall(_ == "unchanged") && same.length == 3)
    // the exchange discipline: the full-outer join carries content
    // hashes, never the text column
    val q = Dedup.snapshotDiff(t)
    q.collect()
    val exchanges = q.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text#"),
      s"snapshot diff shuffles document text:\n$exchanges")
  }

  test("incremental clustering equals full recompute, incl. a fresh doc merging two settled clusters") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // token universe: w1..w42. a={w1..w39, w41}, b={w1..w39, w42},
    // f={w1..w40}: j(f,a)=j(f,b)=39/41≈0.951 >= 0.95 but
    // j(a,b)=38/42≈0.905 < 0.95 — the fresh doc (id 15, %8==7) BRIDGES
    // two settled singletons that a settled-only pass keeps apart
    def txt(idx: Seq[Int]) = idx.map(i => s"w$i").mkString(" ")
    val a = txt((1 to 39) :+ 41)
    val b = txt((1 to 39) :+ 42)
    val f = txt(1 to 40)
    val docs = Seq(
      (1L, a), (2L, a),            // settled cluster {1,2}
      (3L, b), (4L, b),            // settled cluster {3,4}
      (5L, "completely different text about nothing shared"),
      (15L, f)                     // fresh bridge
    ).toDF("doc_id", "text")
    val isFresh = pmod(col("doc_id"), lit(8L)) === 7L
    val inc = Dedup.dedupClustersIncrementalOf(docs, isFresh).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // full recompute over the same corpus (brute exact edges — no LSH
    // recall caveat in the equality claim)
    val full = Dedup.connectedComponents(docs.select(col("doc_id")),
        Dedup.jaccardEdgesBetween(docs, docs, 0.95)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, s"incremental $inc != full $full")
    // and the merge actually happened: 1,2,3,4,15 share one cluster
    assert(Seq(2L, 3L, 4L, 15L).forall(id => inc(id) == inc(1L)))
    assert(inc(5L) == 5L)
  }

  test("indexed incremental clustering (D10 deploy shape) equals the full LSH recompute") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("d10idx").toString
    // same bridge fixture as the exact-tier test: fresh 15 merges the
    // two settled clusters through j≈0.951 edges
    def txt(idx: Seq[Int]) = idx.map(i => s"w$i").mkString(" ")
    val a = txt((1 to 39) :+ 41)
    val b = txt((1 to 39) :+ 42)
    val f = txt(1 to 40)
    val docs = Seq(
      (1L, a), (2L, a), (3L, b), (4L, b),
      (5L, "completely different text about nothing shared"),
      (15L, f)).toDF("doc_id", "text")
    val isFresh = pmod(col("doc_id"), lit(8L)) === 7L
    val settled = docs.filter(!isFresh)
    TextIndex.build(settled, dir)
    val settledLabels = Dedup.clusterDocsLsh(settled)
    val inc = Dedup.dedupClustersIncrementalIndexed(
        docs, isFresh, settledLabels, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the equality claim is vs the full LSH recompute — BY CONSTRUCTION
    // (settled-only clustering + fresh index-probe candidates partition
    // the full candidate set), not by band recall
    val full = Dedup.clusterDocsLsh(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, s"indexed incremental $inc != full LSH $full")
    assert(Seq(2L, 3L, 4L, 15L).forall(id => inc(id) == inc(1L)),
      s"fresh bridge did not merge the settled clusters: $inc")
    // and on the real corpus: the %8 split against the sf0.001 documents
    val cdir = java.nio.file.Files.createTempDirectory("d10idx_corpus").toString
    val corpusFresh = pmod(col("doc_id"), lit(8L)) === 7L
    val corpusSettled = t.documents.filter(!corpusFresh)
    TextIndex.build(corpusSettled, cdir)
    val corpusInc = Dedup.dedupClustersIncrementalIndexed(t.documents,
        corpusFresh, Dedup.clusterDocsLsh(corpusSettled), cdir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val corpusFull = Dedup.clusterDocsLsh(t.documents).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(corpusInc == corpusFull)
  }

  test("span coverage: planted cross-doc / within-doc spans, interval union, no text in exchanges") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "a b c d e f g h"),   // shares [a b c d e] with doc 2
      (2L, "x x a b c d e y"),   // the shared span sits at offset 2
      (3L, "p q r s t u v w"),   // no duplicated 5-gram
      (4L, "m m m m m m"),       // within-doc repeat: spans at 0 and 1
      (5L, "s t u")              // shorter than k — zero grams
    ).toDF("doc_id", "text")
    val got = Dedup.spanCoverageOf(docs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == Seq(
      (1L, 8L, 5L, 0.625), // [0..4]
      (2L, 8L, 5L, 0.625), // [2..6]
      (3L, 8L, 0L, 0.0),
      (4L, 6L, 6L, 1.0),   // overlapping [0,4] ∪ [1,5] unions, not sums
      (5L, 3L, 0L, 0.0)))
    // the D1 exchange discipline: span census and hit re-partition move
    // (hash, id, offset) rows only — neither the token array nor the
    // span string ever crosses an exchange
    val planned = Dedup.spanCoverageOf(docs, 5).queryExecution
      .executedPlan.toString
    val exchanges = planned.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text#") && !exchanges.contains("w#")
      && !exchanges.contains("col#"),
      s"an exchange carries span text:\n$exchanges")
  }

  test("span removal: first occurrence survives, non-first spans cut, survivors reassemble (D11c)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e one two"),   // first occurrence of the shared span keeps
      (2L, "x x a b c d e y"),     // its copy at offsets 2..6 is cut
      (3L, "p q r s t u v w"),     // untouched
      (4L, "m m m m m m"),         // within-doc repeat [0..4],[1..5]: rn=1 keeps [0..4]; [1..5] cut → m survives at 0..4? no: cut covers 1..5
      (5L, "t u v")                // too short for any span
    ).toDF("doc_id", "text")
    val got = Dedup.spanRemovalOf(docs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == Seq(
      (1L, 7L, 0L, "a b c d e one two"),
      (2L, 8L, 5L, "x x y"),
      (3L, 8L, 0L, "p q r s t u v w"),
      // within-doc: span [0..4] is the global first, span [1..5] is cut
      // → tokens 1..5 removed, only token 0 survives
      (4L, 6L, 5L, "m"),
      (5L, 3L, 0L, "t u v")))
    // token conservation: n_tokens - n_removed == tokens in the output
    got.foreach { case (id, n, rem, text) =>
      val kept = text.split(" ").count(_.nonEmpty).toLong
      assert(n - rem == kept, s"doc $id conservation")
    }
    // exchange discipline: census + drop lists move hashes, ids, and
    // int intervals only — token arrays and text never shuffle
    val planned = Dedup.spanRemovalOf(docs, 5).queryExecution
      .executedPlan.toString
    val exchanges = planned.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text#") && !exchanges.contains("w#")
      && !exchanges.contains("col#"),
      s"an exchange carries span text:\n$exchanges")
  }

  test("span removal on the corpus: conservation + coverage-consistency vs D11 (D11c)") {
    val cov = Dedup.spanCoverage(t).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rem = Dedup.spanRemoval(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rem.length == cov.size)
    rem.foreach { case (id, n, nRem, text) =>
      val (nCov, dupToks) = cov(id)
      assert(n == nCov, s"doc $id token count")
      // the cut removes only non-first hits, so it removes AT MOST the
      // duplicated coverage, and a doc with zero coverage loses nothing
      assert(nRem <= dupToks, s"doc $id removed > covered")
      assert(dupToks > 0L || nRem == 0L, s"doc $id removed without coverage")
      assert(n - nRem == text.split(" ").count(_.nonEmpty).toLong,
        s"doc $id conservation")
    }
    // the corpus must actually exercise the cut
    assert(rem.exists(_._3 > 0L), "no document had any span removed")
  }

  test("dedup savings census conserves totals; hash+rollup exchanges carry no text (D12)") {
    val out = Dedup.dedupSavings(t)
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    // conservation: per-source kept <= docs, tokens_kept <= total, and
    // the global kept count equals the number of D1 clusters
    rows.foreach { case (s, nd, nk, tt, tk, pm) =>
      assert(nk <= nd && tk <= tt, s"source $s over-counts")
      assert(pm == (tt - tk) * 1000 / tt, s"source $s permille")
    }
    assert(rows.map(_._2).sum == t.documents.count())
    assert(rows.map(_._3).sum == Dedup.dedupExact(t).count(),
      "global keeper count must equal the D1 cluster count")
    out.collect()
    val exchanges = out.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Exchange")).mkString("\n")
    assert(!exchanges.contains("text#"),
      s"an exchange carries document text:\n$exchanges")
  }

  test("dedup-eval census: planted candidate/truth sets hit every branch exactly (D13)") {
    import spark.implicits._
    // truth {A,B,C}, candidates {A,B,X,Y}: 2 hits, 1 miss (C — the
    // invisible-in-production case), 2 false candidates
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val cand = Seq((1L, 2L), (3L, 4L), (7L, 8L), (9L, 10L))
      .toDF("id_a", "id_b")
    val got = Dedup.dedupEvalOf(cand, truth).collect()(0)
    assert((got.getLong(0), got.getLong(1), got.getLong(2),
      got.getLong(3), got.getLong(4)) ==
      ((4L, 3L, 2L, 2L * 1000 / 4, 2L * 1000 / 3)), got.toString)
    // empty candidate set: zero precision by convention, zero recall
    val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val z = Dedup.dedupEvalOf(none, truth).collect()(0)
    assert((z.getLong(0), z.getLong(2), z.getLong(3), z.getLong(4)) ==
      ((0L, 0L, 0L, 0L)), z.toString)
    // the fixture-corpus census: LSH banding is recall-oriented by
    // design — it must find most true pairs
    val full = Dedup.dedupEval(t).collect()(0)
    assert(full.getLong(4) >= 900,
      s"minhash banding recall ${full.getLong(4)} permille < 900")
    // the deploy form: the same census on the F18 hash slice — a
    // strict subset of the full census's pairs, same metric bounds
    val sampled = Dedup.dedupEvalSampled(t).collect()(0)
    assert(sampled.getLong(0) <= full.getLong(0) &&
      sampled.getLong(1) <= full.getLong(1), s"slice exceeded full: $sampled")
    assert(sampled.getLong(4) >= 0 && sampled.getLong(4) <= 1000)
  }
}
