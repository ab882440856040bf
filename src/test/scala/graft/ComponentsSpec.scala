package graft

import graft.operators.Dedup

/** Connected-components label propagation on adversarial graph shapes the
  * LSH fixture data never produces.
  */
class ComponentsSpec extends SparkSuiteBase {
  import spark.implicits._

  private def components(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("ingest capstone equals the recomposition of its oracled stages") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.01"
    val batch = Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0)
    val canonIds = batch.groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val dups = Dedup.queries("dedup_incremental")(spark, sf)
      .select(col("doc_new").as("doc_id"))
    val splits = graft.operators.Curation.queries("txt_split_assign")(spark, sf)
      .select("doc_id", "split")
    val expected = batch
      .join(canonIds, Seq("doc_id"), "left_semi")
      .join(dups, Seq("doc_id"), "left_anti")
      .filter(col("n_chars") >= 100)
      .join(splits, "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("total_chars"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = Dedup.queries("pipe_ingest_e2e")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
    assert(got.keySet == Set("train", "val", "test"))
    // the cross-corpus stage is live: at least one batch doc was dropped
    assert(Dedup.queries("dedup_incremental")(spark, sf).count() > 0)
  }

  test("derived artifacts rebuild when the source fixture changes (staleness contract)") {
    val dir = tmpDir("graft_stale")
    val base = Seq(
      (10L, "alpha beta gamma delta epsilon zeta", "web"),  // new batch (id % 10 == 0)
      (21L, "one two three four five six seven", "web"),    // corpus
      (32L, "totally different words here now indeed", "web"))
    base.toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // first touch builds the corpus signature/hash artifacts for this
    // fixture: no corpus doc matches the new batch → empty
    assert(Dedup.queries("dedup_incremental")(spark, dir).collect().isEmpty)
    // the corpus grows: a new corpus doc duplicates the batch doc's text.
    // If the persisted artifacts were read stale, doc 41 would be
    // invisible to the band join and the duplicate would be missed.
    (base :+ (41L, "alpha beta gamma delta epsilon zeta", "web"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r2 = Dedup.queries("dedup_incremental")(spark, dir).collect()
    assert(r2.exists(r => r.getLong(0) == 10L && r.getLong(1) == 41L),
      "regenerated fixture must invalidate and rebuild the corpus artifacts")
  }

  test("derived artifacts of DIFFERENT source dirs coexist (concurrent-session isolation)") {
    // two sessions working different scale-factor dirs must never prune
    // each other's live artifacts — superseded-generation pruning is
    // scoped by the path tag to the SAME source dir
    def mkDir(ids: Seq[Long]): String = {
      val dir = tmpDir("graft_iso")
      ids.map(i => (i, s"unique words for doc number $i entirely", "web"))
        .toDF("doc_id", "text", "source")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val dirA = mkDir(Seq(10L, 21L, 32L))
    val dirB = mkDir(Seq(10L, 43L, 54L))
    assert(Dedup.queries("dedup_incremental")(spark, dirA).collect() != null)
    def sigDirs = graft.operators.Artifacts.published("corpus_minhash_sigs").toSet
    val afterA = sigDirs
    assert(afterA.nonEmpty)
    // building dir B's artifact must leave dir A's on disk
    assert(Dedup.queries("dedup_incremental")(spark, dirB).collect() != null)
    assert(afterA.subsetOf(sigDirs),
      "a different source dir's build must not prune this dir's artifact")
  }

  test("dedup_band_tuning replays the S-curve arithmetic and is monotone in bands") {
    val sf = "/root/testdata/sf0.01"
    val sims = Dedup.queries("dedup_prefix_join")(spark, sf).collect()
      .map(_.getDouble(2))
    // same multiplication chains as the query (IEEE-exact, no pow)
    def p6(s: Double, cfg: (Int, Int)): Long = cfg match {
      case (8, 1) => val t1 = 1 - s; val t2 = t1 * t1; val t4 = t2 * t2
        math.round((1 - t4 * t4) * 1000000)
      case (4, 2) => val u1 = 1 - s * s; val u2 = u1 * u1
        math.round((1 - u2 * u2) * 1000000)
      case (2, 4) => val v1 = 1 - (s * s) * (s * s)
        math.round((1 - v1 * v1) * 1000000)
    }
    val got = Dedup.queries("dedup_band_tuning")(spark, sf).collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    for (cfg <- Seq((8, 1), (4, 2), (2, 4))) {
      val caught = sims.map(p6(_, cfg)).sum
      assert(got(cfg) == ((sims.length.toLong, caught,
        caught / (sims.length.toLong * 10000L))),
        s"config $cfg must equal the sequential replay")
    }
    // more bands at the same signature budget can only raise the curve
    assert(got((8, 1))._2 >= got((4, 2))._2 && got((4, 2))._2 >= got((2, 4))._2)
  }

  test("dedup_lsh_recall is consistent with its two underlying pair pipelines") {
    val sf = "/root/testdata/sf0.01"
    val row = Dedup.queries("dedup_lsh_recall")(spark, sf).collect().head
    val (ne, nb, nm, r100) = (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(nb == ne - nm, "banded-verified must be a subset of the exact truth")
    assert(r100 == 100L * nb / math.max(ne, 1L))
    assert(ne == Dedup.queries("dedup_prefix_join")(spark, sf).count(),
      "ground-truth count must equal the exact prefix join")
    assert(ne > 0)
  }

  test("dedup_prefix_join is exact: equals brute-force all-pairs Jaccard at both SFs") {
    for (sf <- Seq(sf0001, "/root/testdata/sf0.01")) {
      val sets = Tables.documents(spark, sf).select("doc_id", "text").collect()
        .map { r =>
          val w = r.getString(1).split(" ", -1)
          val sh =
            if (w.length >= 3)
              (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
            else Set.empty[String]
          r.getLong(0) -> sh
        }.filter(_._2.nonEmpty).sortBy(_._1)
      def r6(x: Double): Double = math.round(x * 1e6) / 1e6
      val expected = (for {
        i <- sets.indices
        j <- (i + 1) until sets.length
        inter = (sets(i)._2 & sets(j)._2).size
        jac = r6(inter.toDouble / (sets(i)._2.size + sets(j)._2.size - inter))
        if jac >= 0.5
      } yield (sets(i)._1, sets(j)._1, jac)).toSet
      val got = Dedup.queries("dedup_prefix_join")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected,
        s"prefix filtering must have zero false negatives/positives at $sf")
    }
    // non-degenerate: the sf0.01 fixture has cross-corpus near-dups >= 0.5
    assert(Dedup.queries("dedup_prefix_join")(spark, "/root/testdata/sf0.01").count() > 0)
  }

  test("dedup_winnow_pairs equals a sequential winnowing replay") {
    val sf = "/root/testdata/sf0.01"
    def h60(str: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(str.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    // sequential winnowing: word 5-gram hashes, keep each window-of-4's min
    val fps: Map[Long, Set[Long]] = Tables.documents(spark, sf)
      .select("doc_id", "text").collect().map { r =>
        val words = r.getString(1).split(" ", -1) // Spark split keeps trailing empties
        val sel =
          if (words.length < 8) Set.empty[Long]
          else {
            val hs = (0 to words.length - 5).map(i => h60(words.slice(i, i + 5).mkString(" ")))
            (3 until hs.length).map(j => hs.slice(j - 3, j + 1).min).toSet
          }
        r.getLong(0) -> sel
      }.toMap
    val byFp = fps.toSeq.flatMap { case (d, s) => s.map(_ -> d) }
      .groupBy(_._1).map { case (fp, l) => fp -> l.map(_._2).toSet }
    val rare = byFp.filter { case (_, ds) => ds.size >= 2 && ds.size <= 50 }
    val counts = collection.mutable.Map.empty[(Long, Long), Long]
    rare.values.foreach { ds =>
      for (a <- ds; b <- ds if a < b) counts((a, b)) = counts.getOrElse((a, b), 0L) + 1L
    }
    val expected = counts.filter(_._2 >= 2).map { case ((a, b), n) =>
      (a, b) -> ((n, (100L * n) / math.min(fps(a).size, fps(b).size)))
    }.toMap
    val got = Dedup.queries("dedup_winnow_pairs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == expected, "winnow pair report must equal the sequential replay")
    // fixture is non-degenerate: the planted near-dups share selected spans
    assert(got.nonEmpty)
  }

  test("dedup_kcore: 4 fixed rounds reach the peeling fixpoint and match a sequential replay") {
    val sf = "/root/testdata/sf0.01"
    val edges0 = Dedup.queries("dedup_minhash_pairs")(spark, sf)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    var edges = edges0
    var rounds = 0
    var changed = true
    while (changed) {
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val keep = deg.filter(_._2 >= 2).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      changed = next != edges
      if (changed) rounds += 1
      edges = next
    }
    assert(rounds <= 4, s"fixture needs $rounds peeling rounds, query runs only 4")
    val expected = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = Dedup.queries("dedup_kcore")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, "2-core must equal peeling run to convergence")
    assert(got.nonEmpty && got.values.forall(_ >= 2), "2-core degrees must all be >= 2")
    // peeling actually removed something: the core is a strict subgraph
    assert(got.size < edges0.flatMap(e => Seq(e._1, e._2)).size)
  }

  test("long chain collapses to one component labeled by its minimum") {
    // 0-1-2-...-29: diameter 29, worst case for per-round propagation
    val chain = (0L until 29L).map(i => (i, i + 1))
    val got = components(chain)
    assert(got.size == 30)
    assert(got.values.toSet == Set(0L))
  }

  test("pointer jumping converges a 30-node chain in O(log diameter) rounds") {
    import graft.operators.Dedup
    val chain = (0L until 29L).map(i => (i, i + 1))
    val (labels, rounds) =
      Dedup.connectedComponentsWithRounds(chain.toDF("doc_a", "doc_b"))
    assert(labels.collect().map(_.getLong(1)).toSet == Set(0L))
    // neighbor-min + per-round path-halving: distance-to-min shrinks
    // superlinearly — 6 rounds for diameter 29 (includes the final
    // zero-change convergence round); plain propagation needs 29.
    assert(rounds <= 6, s"expected <= 6 rounds for a 30-node chain, took $rounds")
  }

  test("disjoint cliques, a star, and an isolated edge keep separate labels") {
    val edges =
      // clique on {10,11,12}
      Seq((10L, 11L), (10L, 12L), (11L, 12L)) ++
        // star centered at 20
        Seq((20L, 21L), (20L, 22L), (20L, 23L)) ++
        // bridge merging 30-chain into the star's component
        Seq((23L, 30L), (30L, 31L)) ++
        // isolated edge
        Seq((40L, 41L))
    val got = components(edges)
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L))
    assert(Seq(20L, 21L, 22L, 23L, 30L, 31L).forall(got(_) == 20L))
    assert(Seq(40L, 41L).forall(got(_) == 40L))
  }

  test("empty edge list yields empty labels") {
    assert(components(Seq.empty).isEmpty)
  }

  private def starComponents(edges: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val (labels, rounds) =
      Dedup.connectedComponentsStarsWithRounds(edges.toDF("doc_a", "doc_b"))
    (labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  test("large-star/small-star labels equal label propagation on every shape") {
    val shapes: Seq[(String, Seq[(Long, Long)])] = Seq(
      "chain-30" -> (0L until 29L).map(i => (i, i + 1)),
      "clique+star+bridge+edge" -> (
        Seq((10L, 11L), (10L, 12L), (11L, 12L)) ++
          Seq((20L, 21L), (20L, 22L), (20L, 23L)) ++
          Seq((23L, 30L), (30L, 31L)) ++
          Seq((40L, 41L))),
      "binary-tree-31" -> (1L until 16L).flatMap(i => Seq((i, 2 * i), (i, 2 * i + 1))),
      // deterministic pseudo-random graph: 60 nodes, 45 LCG edges
      "random-60" -> (0L until 45L).map { i =>
        val a = (i * 1103515245L + 12345L) % 60L
        val b = (i * 69069L + 1L) % 60L
        (math.min(a, b), math.max(a, b) + (if (a == b) 1L else 0L))
      })
    shapes.foreach { case (name, edges) =>
      val (stars, rounds) = starComponents(edges)
      assert(stars == components(edges), s"label mismatch on $name")
      assert(rounds <= 8, s"$name took $rounds star rounds")
    }
  }

  test("star rounds contract a 30-chain within the O(log^2 n) bound") {
    val chain = (0L until 29L).map(i => (i, i + 1))
    val (labels, rounds) = starComponents(chain)
    assert(labels.values.toSet == Set(0L) && labels.size == 30)
    // alternation halves chain height per pass; 6 incl. the stability round
    assert(rounds <= 6, s"expected <= 6 star rounds for a 30-node chain, took $rounds")
  }

  test("degree-rank orientation bounds hub out-degree and keeps the triangle count exact") {
    import org.apache.spark.sql.functions._
    // planted hub: node 0 has the LOWEST id and degree 40 — under raw-id
    // orientation all 40 edges stay outgoing (out-degree 40, wedge join
    // fan-out 40²). Under (degree, id) rank every spoke (degree 1) outranks
    // nothing, so each hub edge flips spoke→hub and the hub's out-degree is
    // 0. Plus one genuine triangle on {100, 101, 102} to pin the count.
    val edges = (1L to 40L).map(sp => (0L, sp)) ++
      Seq((100L, 101L), (100L, 102L), (101L, 102L))
    val or = Dedup.orientByDegree(edges.toDF("doc_a", "doc_b")).cache()
    val maxOut = or.groupBy(col("src")).count()
      .agg(max(col("count"))).head.getLong(0)
    assert(maxOut <= 2,
      s"degree-rank orientation must bound out-degree (hub would be 40 under id order), got $maxOut")
    val tri = or.as("e1")
      .join(or.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst_r") < col("e2.dst_r"))
      .select(col("e1.dst").as("u"), col("e2.dst").as("v"))
      .join(or.as("e3"), col("e3.src") === col("u") && col("e3.dst") === col("v"))
      .count()
    assert(tri == 1L, s"expected exactly the planted triangle, counted $tri")
    or.unpersist()
  }

  test("reliable checkpoint mode matches local mode labels and round count") {
    // chain + clique + isolated edge: same labels and convergence speed
    // whether rounds cut lineage with localCheckpoint (bench/single-box)
    // or reliable checkpoint() (cluster mode, survives executor loss)
    val edges = (0L until 9L).map(i => (i, i + 1)) ++
      Seq((20L, 21L), (20L, 22L), (21L, 22L), (40L, 41L))
    val (localLabels, localRounds) =
      Dedup.connectedComponentsWithRounds(edges.toDF("doc_a", "doc_b"))
    val (reliableLabels, reliableRounds) =
      Dedup.connectedComponentsWithRounds(
        edges.toDF("doc_a", "doc_b"), reliable = true)
    val l = localLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rl = reliableLabels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(l == rl)
    assert(localRounds == reliableRounds)
    assert((0L to 9L).forall(rl(_) == 0L))
    assert(Seq(20L, 21L, 22L).forall(rl(_) == 20L))
    assert(rl(40L) == 40L && rl(41L) == 40L)
  }

  test("integer PageRank matches the hand-computed path-graph iterations") {
    // path 1-2-3, three exact iterations (r scaled by 10^6, damping 0.85):
    //   r1 = (575000, 1850000, 575000)
    //   r2 = (936250, 1127500, 936250)
    //   r3 = (629187, 1741625, 629187)   — r3(1) hits the DIV truncation
    //        case: 85*563750 = 47918750, DIV 100 = 479187 (not .5-rounded)
    val got = Dedup.integerPageRank(Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b"), 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 629187L, 2L -> 1741625L, 3L -> 629187L))
  }

  test("integer PageRank is partition-independent and matches a sequential reference") {
    // hub + clique + chain: mixed degrees exercise the DIV-by-degree paths
    val edges = (1L to 10L).map(i => (0L, i)) ++
      Seq((20L, 21L), (20L, 22L), (21L, 22L)) ++
      (30L until 33L).map(i => (i, i + 1))
    // sequential reference in plain Scala — same integer update rule;
    // equality proves the distributed form is partition-order independent
    // (integer sums commute; nothing is float)
    def refPr(es: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
      val adj = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      val deg = adj.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      var r = deg.keys.map(_ -> 1000000L).toMap
      for (_ <- 1 to iters)
        r = adj.groupBy(_._2).view.mapValues(
          _.map { case (s, _) => r(s) / deg(s) }.sum)
          .toMap.map { case (k, v) => k -> (150000L + 85L * v / 100L) }
      r
    }
    val expected = refPr(edges, 3)
    for (parts <- Seq(1, 7)) {
      val got = Dedup.integerPageRank(
          edges.toDF("doc_a", "doc_b").repartition(parts), 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"mismatch at $parts partitions")
    }
    // the hub out-ranks its spokes and the chain interior its endpoints
    assert(expected(0L) > expected(1L))
    assert(expected(31L) > expected(30L))
  }

  test("integer PageRank reliable checkpoint mode matches local mode exactly") {
    val edges = (1L to 6L).map(i => (0L, i)) ++ Seq((5L, 6L), (10L, 11L))
    def run(reliable: Boolean) =
      Dedup.integerPageRank(edges.toDF("doc_a", "doc_b"), 3, reliable)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(reliable = true) == run(reliable = false))
  }

  test("centrality keepers are the (rank DESC, id ASC) argmax of their cluster") {
    // cross-query consistency on the fixture: dedup_keeper_centrality must
    // agree with recomputing the argmax from dedup_clusters (membership)
    // and dedup_pagerank (centrality) — three independently-oracled queries
    val labels = Dedup.queries("dedup_clusters")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val ranks = Dedup.queries("dedup_pagerank")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byCluster = labels.groupBy(_._2)
    val keepers = Dedup.queries("dedup_keeper_centrality")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(keepers.nonEmpty)
    assert(keepers.map(_._1).toSet == byCluster.keySet)
    keepers.foreach { case (cl, size, keeperId, keeperRank) =>
      val members = byCluster(cl).map(_._1)
      assert(size == members.length.toLong, s"cluster $cl size")
      val expected = members.minBy(id => (-ranks(id), id))
      assert(keeperId == expected, s"cluster $cl keeper")
      assert(keeperRank == ranks(keeperId), s"cluster $cl keeper rank")
    }
  }
}
