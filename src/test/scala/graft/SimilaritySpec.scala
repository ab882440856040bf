package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.functions._

/** Blocking-strategy properties of the similarity module: the near-dup pair
  * query blocks on a CONTENT-derived key (SRP code), which must preserve
  * recall on planted near-duplicates that a row-id shard key provably loses.
  */
class SimilaritySpec extends SparkSuiteBase {
  import spark.implicits._

  test("SRP-code blocking recovers cross-shard near-dup pairs that row-id sharding misses") {
    GraftExtensions.ensureRegistered(spark)
    // deterministic 64-d vectors; ids 1..8 double as the hyperplanes (the
    // same convention sim_pairs_block uses), 10..21 are bases, each with an
    // exact duplicate at id+21 — so every planted pair crosses a `% 16`
    // shard boundary (21 % 16 != 0).
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(j => math.sin(seed * 64.0 + j).toFloat)
    val planes = (1 to 8).map(k => (k.toLong, vec(k)))
    val bases = (10 to 21).map(i => (i.toLong, vec(i)))
    val dups = bases.map { case (id, v) => (id + 21, v) }
    val df = (planes ++ bases ++ dups).toDF("vec_id", "embedding")

    val pl = df.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("k"), col("embedding").as("h_emb"))
    val codeMap = df.crossJoin(broadcast(pl))
      .withColumn("bit",
        when(call_function("graft_dot", col("embedding"), col("h_emb")) > 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(k AS INT) - 1)")).otherwise(lit(0L)))
      .groupBy(col("vec_id")).agg(sum(col("bit")).as("code"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val planted = bases.map { case (id, _) => (id, id + 21) }
    val srpRecall = planted.count { case (a, b) => codeMap(a) == codeMap(b) }
    val shardRecall = planted.count { case (a, b) => a % 16 == b % 16 }
    assert(srpRecall == planted.size,
      s"SRP code must collide for identical vectors, got $srpRecall/${planted.size}")
    assert(shardRecall == 0,
      "row-id sharding should miss every cross-shard planted pair — " +
        "if this starts passing the planted ids no longer straddle shards")
  }

  test("literal-plane SRP codes are identical to the crossJoin+groupBy formulation") {
    import graft.operators.Similarity
    // the round-7 shuffle-free coding (planes collected once, inlined as
    // literals) must produce bit-identical codes to the relational
    // formulation it replaced — same planes, same fp dot products
    val planes = Similarity.srpPlanes(spark, sf0001)
    assert(planes.length == 8)
    val e = Tables.embeddings(spark, sf0001)
    val viaLit = e.select(col("vec_id"), Similarity.srpCodeCol(planes).as("code"))
    val pl = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("k"), col("embedding").as("h_emb"))
    val viaJoin = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(pl))
      .withColumn("bit",
        when(call_function("graft_dot", col("embedding"), col("h_emb")) > 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(k AS INT) - 1)")).otherwise(lit(0L)))
      .groupBy(col("vec_id")).agg(sum(col("bit")).as("code"))
    assert(viaLit.exceptAll(viaJoin).count() == 0 &&
      viaJoin.exceptAll(viaLit).count() == 0,
      "literal-projection SRP codes diverge from the crossJoin+groupBy codes")
  }

  test("semantic dedup clusters equal the transitive closure of the blocked pair list") {
    import graft.operators.Similarity
    val sf001 = "/root/testdata/sf0.01"
    val pairs = Similarity.queries("sim_pairs_block")(spark, sf001)
      .select(col("vec_a"), col("vec_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // union-find closure with min-root union: root == component minimum,
    // the same fixpoint the distributed label propagation converges to
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val res = Similarity.queries("sim_semantic_dedup")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(res.length == Tables.embeddings(spark, sf001).count())
    res.foreach { case (v, c, keep) =>
      assert(c == find(v), s"vec $v: cluster $c != closure ${find(v)}")
      assert(keep == (v == c), s"vec $v: keep flag inconsistent")
    }
    assert(pairs.nonEmpty && res.exists { case (v, c, _) => v != c },
      "fixture produced no semantic dup clusters — test is degenerate")
  }

  test("threshold sweep: counts monotone in tau, agree with sim_pairs_block at 0.25") {
    import graft.operators.Similarity
    val rows = Similarity.queries("sim_threshold_sweep")(spark, "/root/testdata/sf0.01")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq(10L, 25L, 50L, 75L))
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._2 >= hi._2 && lo._3 >= hi._3,
          s"counts must not grow as tau tightens: $lo -> $hi")
      case _ =>
    }
    assert(rows.head._2 > 0, "widest cut should surface candidate pairs")
    val at25 = rows.find(_._1 == 25L).get._2
    val pairsBlock =
      Similarity.queries("sim_pairs_block")(spark, "/root/testdata/sf0.01").count()
    assert(at25 == pairsBlock,
      "sweep at the production cut must count exactly sim_pairs_block's pairs")
  }

  test("pipe_ann_e2e equals a window-rank recomputation over exact scores") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.01"
    val e = Tables.embeddings(spark, sf)
    val qs = e.filter(col("vec_id").isin(0L, 9L, 10L))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("cos_sim"), col("vec_id"))
    val expected = e.filter(col("vec_id") > 10).crossJoin(broadcast(qs))
      .withColumn("cos_sim", round(Similarity.hofCosine("embedding", "q_emb"), 6))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("doc_id"), col("cos_sim"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val got = Similarity.queries("pipe_ann_e2e")(spark, sf)
      .select("query_id", "rank", "doc_id", "cos_sim")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected)
    assert(got.size == 15, "3 queries x top-5")
  }

  test("pipe_hybrid_rrf equals an independent window-rank RRF recomputation") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, sf)
    val e = Tables.embeddings(spark, sf)
    // lexical ranks via window over the integer tf-idf score
    val terms = Seq("dup", "spark", "window")
    val tf = terms.zipWithIndex.map { case (t, i) =>
      expr(s"CAST(size(filter(split(text, ' '), x -> x = '$t')) AS BIGINT)").as(s"tf$i")
    }
    val lex = docs.filter(col("doc_id") =!= 0).select(col("doc_id") +: tf: _*)
    val st = lex.agg(count(lit(1)).as("n"),
      terms.indices.map(i => sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    val score = terms.indices.map(i =>
      col(s"tf$i") * expr(s"(n + 1) * CAST(1000000 AS BIGINT) DIV (df$i + 1)")).reduce(_ + _)
    val lw = org.apache.spark.sql.expressions.Window
      .orderBy(desc("lex_score"), col("doc_id"))
    val lrank = lex.crossJoin(broadcast(st)).withColumn("lex_score", score)
      .filter(col("lex_score") > 0)
      .withColumn("rank_lex", row_number().over(lw).cast("bigint"))
      .filter(col("rank_lex") <= 20).select("doc_id", "rank_lex")
    // vector ranks via window over the rounded cosine
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val vw = org.apache.spark.sql.expressions.Window
      .orderBy(desc("cos_sim"), col("vec_id"))
    val vrank = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .withColumn("cos_sim", round(Similarity.hofCosine("embedding", "q_emb"), 6))
      .withColumn("rank_vec", row_number().over(vw).cast("bigint"))
      .filter(col("rank_vec") <= 20)
      .select(col("vec_id").as("doc_id"), col("rank_vec"))
    val expected = lrank.join(vrank, Seq("doc_id"), "full")
      .withColumn("rrf_x1e6",
        coalesce(expr("CAST(1000000 AS BIGINT) DIV (60 + rank_lex)"), lit(0L))
          + coalesce(expr("CAST(1000000 AS BIGINT) DIV (60 + rank_vec)"), lit(0L)))
      .orderBy(desc("rrf_x1e6"), col("doc_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val gotRows = Similarity.queries("pipe_hybrid_rrf")(spark, sf).collect()
    val got = gotRows.map(r => (r.getLong(0), r.getLong(3))).toSet
    assert(got == expected)
    assert(gotRows.length == 10)
    // fusion is genuinely hybrid on this fixture: at least one winner per side
    assert(gotRows.exists(_.getLong(1) > 0), "no lexical-ranked winner")
    assert(gotRows.exists(_.getLong(2) > 0), "no vector-ranked winner")
  }

  test("sim_centroid_drift equals a sequential Scala replay; assignment counts conserve") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.01"
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = (1L to 8L).map(k => k -> all(k).map(_.toDouble)).toMap
    val assign = all.map { case (id, v) =>
      val vd = v.map(_.toDouble)
      id -> (1L to 8L).map(k => (k, cos(vd, cents(k)))).maxBy { case (k, c) => (c, -k) }._1
    }
    val expected = (1L to 8L).flatMap { cell =>
      val members = assign.collect { case (id, c) if c == cell => all(id) }.toSeq
      if (members.isEmpty) None else {
        val n = members.size.toLong
        val dims = members.head.length
        val mean = Array.tabulate(dims) { i =>
          val s = members.map(m => math.floor(m(i).toDouble * 1000000.0).toLong).sum
          // integer DIV truncates toward zero (Spark DIV / DuckDB //)
          (s / n).toDouble
        }
        val drift = BigDecimal(1.0 - cos(mean, cents(cell)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        Some(cell -> (n, drift))
      }
    }.toMap
    val got = Similarity.queries("sim_centroid_drift")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toMap
    assert(got.keySet == expected.keySet)
    assert(got.values.map(_._1).sum == all.size.toLong, "every vector assigned exactly once")
    expected.foreach { case (cell, (n, drift)) =>
      val (gn, gd, gr) = got(cell)
      assert(gn == n, s"cell $cell count")
      assert(math.abs(gd - drift) < 1e-9, s"cell $cell drift: $gd vs $drift")
      assert(gr == (gd > 0.05), s"cell $cell retrain flag")
      assert(gd >= 0.0 && gd <= 2.0, s"cell $cell drift bounds")
    }
  }

  test("multiprobe SRP: exact top-10 over the hamming<=1 candidate set, recall >= single probe") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.01"
    val e = Tables.embeddings(spark, sf)
    val planes = Similarity.srpPlanes(spark, sf)
    val coded = e.select(col("vec_id"), col("embedding"),
      Similarity.srpCodeCol(planes).as("code"))
    val qCode = coded.filter(col("vec_id") === 0).select("code")
      .collect().head.getLong(0)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    // independent recomputation: exact cosine over every vector whose code
    // is within hamming distance 1 of the query's 8-bit code
    val expected = coded.filter(col("vec_id") =!= 0)
      .filter(expr(s"bit_count(code ^ $qCode) <= 1"))
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", round(Similarity.hofCosine("embedding", "q_emb"), 6))
      .select(col("vec_id"), col("cos_sim"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, cs) => (-cs, id) }.take(10).toSeq
    val got = Similarity.queries("sim_topk_srp_multiprobe")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == expected, "multiprobe must be the exact top-10 of the 9-bucket probe set")
    // widening probes can only add candidates: the exact-match bucket is a
    // strict subset of the 9-probe pool, so recall is monotone in probes
    val singleCand = coded.filter(col("vec_id") =!= 0)
      .filter(col("code") === qCode)
      .collect().map(_.getLong(0)).toSet
    val multiCand = coded.filter(col("vec_id") =!= 0)
      .filter(expr(s"bit_count(code ^ $qCode) <= 1"))
      .collect().map(_.getLong(0)).toSet
    assert(singleCand.subsetOf(multiCand) && multiCand.nonEmpty)
  }

  test("sim_ivf_ingest: batch-only assignment matches the brute-force argmax cell") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.01"
    val e = Tables.embeddings(spark, sf)
    val cent = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("k"), col("embedding").as("c_emb"))
    // independent argmax: score every batch vector against all 8 centroids
    // with the portable HOF cosine, pick (cs DESC, k ASC) per vector
    val expected = e.filter(col("vec_id") % 10 === 0 && col("vec_id") =!= 0)
      .crossJoin(broadcast(cent))
      .withColumn("cs", Similarity.hofCosine("embedding", "c_emb"))
      .collect().map(r => (r.getLong(0), r.getLong(r.fieldIndex("k")),
        r.getDouble(r.fieldIndex("cs"))))
      .groupBy(_._1).map { case (v, rows) =>
        v -> rows.minBy { case (_, k, cs) => (-cs, k) }._2
      }
    val got = Similarity.queries("sim_ivf_ingest")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected, "frozen-centroid ingest assignment must be the exact argmax")
    // work scales with the ingest: output covers exactly the batch ids
    assert(got.keySet.forall(id => id % 10 == 0 && id != 0) && got.nonEmpty)
    assert(got.values.toSet.subsetOf((1L to 8L).toSet))
  }

  test("sim_topk_mmr equals an independent greedy replay over Scala-computed cosines") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.01"
    val rows = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    // same sequential left-fold order as the HOF/native cosine
    def dot(a: Array[Double], b: Array[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def cos6(a: Array[Double], b: Array[Double]): Long =
      math.round(1000000.0 * (dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))))
    val q = rows(0L)
    val short = rows.toSeq.filter(_._1 != 0L)
      .map { case (v, emb) => (v, cos6(emb, q)) }
      .sortBy { case (v, rel) => (-rel, v) }.take(20)
    var selected = Vector.empty[(Long, Long, Long, Long)]
    var remaining = short.toVector
    for (rank <- 1L to 10L) {
      val pick = remaining.map { case (v, rel) =>
        val mmr =
          if (selected.isEmpty) 700L * rel
          else 700L * rel - 300L * selected.map(sv => cos6(rows(v), rows(sv._2))).max
        (v, rel, mmr)
      }.minBy { case (v, _, m) => (-m, v) }
      selected :+= ((rank, pick._1, pick._2, pick._3))
      remaining = remaining.filterNot(_._1 == pick._1)
    }
    val got = Similarity.queries("sim_topk_mmr")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toVector
    assert(got == selected, "MMR ranking must equal the independent greedy replay")
    // rank 1 is the pure-relevance argmax; later picks carry a diversity
    // term bounded by |300·sim6| (the max-sim can be negative — an
    // anti-similar candidate gets a bonus, which is MMR working as spec'd)
    assert(got.head._4 == 700L * got.head._3)
    assert(got.tail.forall(t => math.abs(t._4 - 700L * t._3) <= 300L * 1000000L))
    assert(got.map(_._2).distinct.size == 10)
  }

  test("pq rerank: results are the exact-cosine top-10 of the ADC shortlist") {
    import graft.operators.Similarity
    val sf = "/root/testdata/sf0.01"
    val e = Tables.embeddings(spark, sf)
    // rebuild the 50-id shortlist independently: pure-ADC ordering extended
    // past sim_topk_pq's LIMIT 10 via the registered query's own engine is
    // not public, so recompute exact cosine for ALL vectors and check the
    // rerank output against the top-10 of the ids it actually returned plus
    // the containment property: rerank ordering == exact cosine ordering.
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val exact = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .withColumn("cos_sim", round(Similarity.hofCosine("embedding", "q_emb"), 6))
      .select(col("vec_id"), col("cos_sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = Similarity.queries("sim_topk_pq_rerank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.length == 10)
    // scores are the exact cosine, not the ADC approximation
    got.foreach { case (id, cs) => assert(cs == exact(id), s"vec $id score") }
    // ordering is (cos DESC, id ASC) — the rerank contract
    assert(got.sortBy { case (id, cs) => (-cs, id) }.toSeq == got.toSeq)
    // the ADC shortlist recovers part of the true top-10 on this fixture
    // (PQ@8-centroids is deliberately coarse; rerank restores exact order
    // WITHIN the shortlist — recall depth is the tuning knob)
    val trueTop = exact.toSeq.sortBy { case (id, cs) => (-cs, id) }.take(10).map(_._1).toSet
    assert(got.map(_._1).count(trueTop) >= 3)
  }

  test("sim_eval_retrieval equals an independent window-rank recomputation") {
    import graft.operators.Similarity
    import org.apache.spark.sql.expressions.Window
    val sf = "/root/testdata/sf0.01"
    val e = Tables.embeddings(spark, sf)
    val cent = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("k"), col("embedding").as("c_emb"))
    val byVec = Window.partitionBy(col("vec_id")).orderBy(desc("cs"), col("k"))
    val cells = e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cent))
      .withColumn("cs", Similarity.hofCosine("embedding", "c_emb"))
      .withColumn("rn", row_number().over(byVec)).filter(col("rn") === 1)
      .select(col("vec_id"), col("k").as("cell"))
    val qs = e.join(cells, "vec_id").filter(col("vec_id").isin(0L, 9L, 10L))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cell").as("q_cell"))
    val scored = e.join(cells, "vec_id").filter(col("vec_id") > 10)
      .crossJoin(broadcast(qs))
      .withColumn("cos_sim", round(Similarity.hofCosine("embedding", "q_emb"), 6))
    val wq = Window.partitionBy(col("query_id")).orderBy(desc("cos_sim"), col("vec_id"))
    def topIds(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] = df
      .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 5)
      .select(col("query_id"), col("vec_id"), col("rn"))
      .collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq }
    val exact = topIds(scored)
    val approx = topIds(scored.filter(col("cell") === col("q_cell")))
    val got = Similarity.queries("sim_eval_retrieval")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == Set(0L, 9L, 10L))
    got.foreach { case (q, (nExact, nOverlap, recall, rr)) =>
      val ex = exact(q); val ap = approx.getOrElse(q, Seq.empty)
      assert(nExact == ex.size.toLong, s"q$q n_exact")
      assert(nOverlap == ap.count(ex.toSet).toLong, s"q$q overlap")
      assert(recall == nOverlap * 100 / nExact, s"q$q recall")
      val rank1 = ap.indexOf(ex.head) + 1
      assert(rr == (if (rank1 == 0) 0L else 1000L / rank1), s"q$q rr")
    }
    // the fixture exercises both the healthy path and the nprobe=1 miss
    assert(got.values.exists(_._4 == 1000L) && got.values.exists(_._3 == 0L))
  }

  test("semantic capstone equals the recomposition of its oracled stages") {
    import graft.operators.{Curation, Similarity}
    val sf001 = "/root/testdata/sf0.01"
    val keepIds = Similarity.queries("sim_semantic_dedup")(spark, sf001)
      .filter(col("keep")).select(col("vec_id").as("doc_id"))
    val splits = Curation.queries("txt_split_assign")(spark, sf001)
      .select("doc_id", "split")
    val expected = Tables.documents(spark, sf001)
      .join(keepIds, Seq("doc_id"), "left_semi")
      .filter(col("n_chars") >= 100)
      .join(splits, "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("total_chars"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val got = Similarity.queries("pipe_semantic_e2e")(spark, sf001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
    assert(got.keySet == Set("train", "val", "test"))
  }

  test("recall audit: bounds hold and the sf0.01 sample is non-degenerate") {
    import graft.operators.Similarity
    val row = Similarity.queries("sim_recall_report")(spark, "/root/testdata/sf0.01").head
    val (nSample, nTrue, nCaught, recall) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    assert(nSample > 0)
    // a non-degenerate audit: ground truth exists in the audit band, and
    // blocking catches a strict subset (it can only lose pairs, not invent)
    assert(nTrue > 0, "audit band produced no ground-truth pairs — widen it")
    assert(nCaught <= nTrue)
    assert(recall == (if (nTrue > 0) 10000 * nCaught / nTrue else 10000L))
    assert(recall >= 0 && recall <= 10000)
  }

  test("srpPlanes fails loud on a re-keyed export missing the plane convention") {
    import graft.operators.Similarity
    val dir = tmpDir("rekeyed")
    Tables.embeddings(spark, sf0001).filter(col("vec_id") >= 100)
      .write.parquet(dir + "/embeddings.parquet")
    val ex = intercept[IllegalArgumentException] { Similarity.srpPlanes(spark, dir) }
    assert(ex.getMessage.contains("hyperplanes"),
      s"expected the plane-convention guard to fire, got: ${ex.getMessage}")
  }

  test("int8 quantization: codes bounded, reconstruction error within half a step") {
    val rows = SparkEntry.queries("sim_quantize_int8")(spark, sf0001).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (scale, qMin, qMax, maxErr) =
        (r.getDouble(1), r.getLong(3), r.getLong(4), r.getDouble(5))
      // floor(x·127/scale + 0.5) with |x| <= scale keeps codes in [-127, 127]
      assert(qMin >= -127L && qMax <= 127L, s"codes out of range: $r")
      // symmetric quantization error bound: half a quantization step
      assert(maxErr <= scale / 127.0 / 2.0 + 1e-6, s"error above half-step: $r")
    }
  }

  test("PQ-ADC: codebook vectors reconstruct to zero distance from themselves") {
    // a codebook vector's subspace codes are its own k (its L2 to itself is
    // 0), so querying WITH a codebook vector must put that vector's own
    // ADC sum at exactly the query's dtab diagonal — and the top-k must be
    // deterministic under repartitioning
    val out1 = SparkEntry.queries("sim_topk_pq")(spark, sf0001).collect()
    assert(out1.length == 10)
    // deterministic under a different input partitioning: re-run with a
    // different shuffle.partitions setting
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val out2 = SparkEntry.queries("sim_topk_pq")(spark, sf0001).collect()
      assert(out1.map(_.toString).toSeq == out2.map(_.toString).toSeq,
        "PQ top-k changed under repartitioning — a fold or sum is order-dependent")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // ADC distances are non-negative and non-decreasing in rank order
    val dists = out1.map(_.getDouble(2)).toSeq
    assert(dists.forall(_ >= 0.0))
    assert(dists == dists.sorted)
  }

  test("sim_topk_pq_artifact: the persisted-codes serving path returns exactly the inline result") {
    val inline = SparkEntry.queries("sim_topk_pq")(spark, sf0001).collect().map(_.toSeq).toSeq
    val served = SparkEntry.queries("sim_topk_pq_artifact")(spark, sf0001).collect().map(_.toSeq).toSeq
    assert(served == inline)
    // the codes table genuinely exists as a lake artifact on disk
    val store = graft.operators.Artifacts
    val tables = store.published("pq_codes")
    assert(tables.nonEmpty, "pq_codes artifact missing from the derived lake")
    assert(tables.forall(t =>
      new java.io.File(store.wh.tablePath(t), "_SUCCESS").exists()))
  }

  test("sim_topk_ivfpq equals a Scala replay: cell probe, then ADC over only that cell's codes") {
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2).toLong))
    // same fp ops in the same order as graft_cosine (sequential folds)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val seeds = (1 to 8).map(k => k -> emb.find(_._1 == k).get._2).toMap
    def cellOf(v: Array[Double]): Int =
      (1 to 8).minBy(k => (-cos(v, seeds(k)), k))
    val qv = emb.find(_._1 == 0L).get._2
    val qCell = cellOf(qv)
    def sub(v: Array[Double], m: Int): Array[Double] = v.slice(m * 16, m * 16 + 16)
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val dtab = (for (m <- 0 to 3; k <- 1 to 8)
      yield (m, k) -> l2(sub(qv, m), sub(seeds(k), m))).toMap
    val expected = emb.filter(e => e._1 != 0L && cellOf(e._2) == qCell)
      .map { case (id, v, label) =>
        val adc = (0 to 3).map { m =>
          dtab((m, (1 to 8).minBy(k => (l2(sub(v, m), sub(seeds(k), m)), k))))
        }.sum
        val rounded = BigDecimal(adc)
          .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
        (id, label, rounded)
      }.sortBy { case (id, _, a) => (a, id) }.take(10).toSeq
    val got = SparkEntry.queries("sim_topk_ivfpq")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getDouble(2))).toSeq
    assert(got == expected)
    // the probe genuinely pruned: the cell holds fewer vectors than the lake
    assert(emb.count(e => e._1 != 0L && cellOf(e._2) == qCell) < emb.length - 1)
    assert(got.nonEmpty)
  }

  test("sim_pq_train equals a sequential Scala replay of the per-subspace Lloyd loop") {
    // independent replay: same micro-quantization, same argmin-L2 with
    // k-tiebreak, same exact-integer centroid means (truncating division),
    // same empty-cell carry — any divergence in assignment order, division
    // semantics, or update wiring breaks the comparison
    val emb = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong).toArray)
      .sortBy(_._1)
    val expected = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
    for (m <- 0 until 4) {
      val subs = emb.map { case (id, q) => id -> q.slice(m * 16, m * 16 + 16) }
      val byId = subs.toMap
      var cent: Map[Int, Array[Long]] = (1 to 8).map(k => k -> byId(k.toLong)).toMap
      def l2(a: Array[Long], b: Array[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      def assign(c: Map[Int, Array[Long]]): Map[Long, Int] =
        subs.map { case (id, sv) => id -> (1 to 8).minBy(k => (l2(sv, c(k)), k)) }.toMap
      for (_ <- 1 to 2) {
        val a = assign(cent)
        val grouped = subs.groupBy { case (id, _) => a(id) }
        cent = (1 to 8).map { k =>
          grouped.get(k) match {
            case Some(rows) =>
              // Scala Long / truncates toward zero — the Spark DIV contract
              k -> Array.tabulate(16)(j => rows.map(_._2(j)).sum / rows.length)
            case None => k -> cent(k) // empty cell keeps its centroid
          }
        }.toMap
      }
      val counts = assign(cent).groupBy(_._2).map { case (k, g) => k -> g.size.toLong }
      for (k <- 1 to 8)
        expected += ((m.toLong, k.toLong, counts.getOrElse(k, 0L),
          cent(k).sum, cent(k).map(math.abs).sum))
    }
    val got = SparkEntry.queries("sim_pq_train")(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == expected.toSeq)
    // population conserves: every subspace assigns every vector exactly once
    got.groupBy(_._1).foreach { case (m, rows) =>
      assert(rows.map(_._3).sum == emb.length, s"subspace $m lost vectors")
    }
    // non-degenerate training: centroids actually moved off at least one seed
    assert(got.exists { case (mm, k, _, cSum, _) =>
      val seed = emb.find(_._1 == k).get._2.slice(mm.toInt * 16, mm.toInt * 16 + 16)
      cSum != seed.sum
    }, "no centroid moved — the update rounds did nothing")
  }
}
