package graft.operators

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over the `embeddings`
  * table (`embedding ARRAY<FLOAT>[64]`).
  *
  * Cosine similarity runs as graft's native fused expression
  * ([[graft.plans.CosineSimilarity]]) — a sequential left-to-right
  * double-precision fold, bit-identical to both the higher-order-function
  * form ([[hofCosine]]) and DuckDB's list_reduce, keeping the oracle exact;
  * outputs are still rounded to 6 decimals as belt-and-braces. Every element
  * is widened to DOUBLE *before* multiplying so all engines run the same fp
  * ops.
  *
  * Scale design (billions of vectors):
  *  - brute-force top-k: the query vector is broadcast; the scan is
  *    embarrassingly parallel; orderBy+limit plans TakeOrderedAndProject
  *    (per-partition heap of k, no global sort).
  *  - bucketed (IVF-style): a coarse quantizer key (here `label`, standing in
  *    for a centroid assignment) prunes the scan to one bucket — at scale the
  *    table is written partitioned by that key, so partition pruning skips
  *    the other buckets' files entirely.
  *  - blocked near-dup pairs: the quadratic pair space is bounded by
  *    CONTENT-derived blocking keys (label × SRP code) — a similarity-
  *    preserving key, so near-duplicates collide; the same shape as
  *    verifying LSH candidates.
  */
object Similarity extends QueryModule {

  /** SRP hyperplane set (the vectors at vec_ids 1..8, by convention),
    * collected ONCE per (session, dataset) and memoized. Two birds:
    *
    *  - the guard: a re-keyed export with no vec_ids 1..8 fails loud here
    *    (`require`) instead of silently emptying a plane join downstream;
    *  - the plan: 8 × 64 floats is dimension-table-sized state, so the
    *    planes are inlined as array literals and SRP coding becomes a
    *    narrow per-row projection — no 8× crossJoin row blow-up, no
    *    per-vector groupBy shuffle, no join-back of codes. (Round 6 paid
    *    exactly those three stages plus a separate validation count job;
    *    that was the sim_pairs_block 0.54 s → 1.38 s bench regression.)
    *
    * The collect is one pruned 8-row scan on first touch per dataset —
    * the same bounded-dimension pattern as broadcasting a PQ codebook.
    */
  private val planesCache =
    scala.collection.mutable.Map[(SparkSession, String), Seq[Array[Float]]]()
  private[graft] def srpPlanes(s: SparkSession, d: String): Seq[Array[Float]] =
    planesCache.synchronized {
      planesCache.getOrElseUpdate((s, d), {
        val rows = Tables.embeddings(s, d)
          .filter(col("vec_id").between(1, 8))
          .select(col("vec_id"), col("embedding"))
          .collect()
        require(rows.length == 8,
          s"sim_pairs_block: expected 8 SRP hyperplanes (vec_ids 1..8), found ${rows.length} — " +
            "supply the plane set explicitly for re-keyed data")
        rows.sortBy(_.getAs[Number](0).longValue())
          .map(_.getSeq[Float](1).toArray).toSeq
      })
    }

  /** 8-bit SRP code of `embedding` as a single codegen'd projection over the
    * literal plane set: bit i−1 set iff embedding · plane_i > 0 (identical
    * bit convention — and identical fp dot products — to the former
    * crossJoin+groupBy formulation, so codes and the oracle are unchanged).
    */
  private[graft] def srpCodeCol(planes: Seq[Array[Float]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(call_function("graft_dot", col("embedding"),
        typedlit(p.toSeq)) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Blocked near-duplicate candidate pairs with the exact cosine verified —
    * the shared engine behind `sim_pairs_block` (reports the pairs) and
    * `sim_semantic_dedup` (clusters them). Precondition (shared with
    * sim_topk_srp / sim_topk_ivf): vec_ids 1..8 exist and serve as the
    * deterministic hyperplane set — [[srpPlanes]] enforces it loudly
    * (memoized per (session, dataset)) and hands back the planes as
    * literals, so coding is a narrow projection: the only shuffle here is
    * the (label, code) self-join.
    */
  private def blockedDupPairs(s: SparkSession, d: String,
      minCos: Double = 0.25): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(s)
    val planes = srpPlanes(s, d)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        srpCodeCol(planes).as("code"), col("embedding"))
    val a = e.as("a")
    val b = e.as("b")
    a.join(b,
        col("a.label") === col("b.label") &&
          col("a.code") === col("b.code") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos_sim", round(cosine(s, "a.embedding", "b.embedding"), 6))
      .filter(col("cos_sim") >= minCos)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.label").as("label"), col("cos_sim"))
  }

  /** Sequential double dot-product of two float vectors (HOF form — kept as
    * the portable reference implementation; VectorExpressionSpec asserts the
    * native expression below is bit-identical to it).
    */
  def hofDot(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")

  def hofCosine(a: String, b: String): Column =
    hofDot(a, b) / (sqrt(hofDot(a, a)) * sqrt(hofDot(b, b)))

  /** Hot-path cosine: graft's native fused one-pass expression
    * ([[graft.plans.CosineSimilarity]]) — same fp ops in the same order as
    * [[hofCosine]], so the DuckDB oracle is unaffected, but allocation-free
    * inside whole-stage codegen.
    */
  private def cosine(s: SparkSession, a: String, b: String): Column = {
    graft.plans.GraftExtensions.ensureRegistered(s)
    call_function("graft_cosine", col(a), col(b))
  }

  /** Frozen-centroid cell assignment as a NARROW literal projection — the
    * streaming-safe twin of sim_ivf_ingest's broadcast-join argmax: the
    * bounded centroid set is inlined as literal arrays (the PQ
    * literal-codebook precedent), so assignment is |K| codegen'd cosines +
    * an `array_min` argmin per row — no join, no window, no shuffle, legal
    * in a streaming projection and cheaper at any scale (no K× row
    * explosion). Tiebreak matches the batch form exactly: max cosine,
    * then smaller centroid id (struct ordering on (-cos, k)). Returns the
    * (cell, cs) columns to attach to a frame carrying `embCol`.
    */
  private[graft] def cellAssignExpr(s: SparkSession,
      cent: Seq[(Long, Seq[Float])], embCol: String = "embedding"): (Column, Column) =
    cellAssignLit(s, cent.map { case (k, e) => k -> typedLit(e) }, embCol)

  /** [[cellAssignExpr]] over TRAINED (double-valued) centroid literals —
    * the k-means path's centroids are exact BIGINT element sums cast to
    * double (cosine is scale-invariant, so the un-normalized sum points
    * the same direction the mean would).
    */
  private def cellAssignExprTrained(s: SparkSession,
      cent: Seq[(Long, Seq[Double])], embCol: String = "embedding"): (Column, Column) =
    cellAssignLit(s, cent.map { case (k, e) => k -> typedLit(e) }, embCol)

  private def cellAssignLit(s: SparkSession,
      cent: Seq[(Long, Column)], embCol: String): (Column, Column) = {
    graft.plans.GraftExtensions.ensureRegistered(s)
    require(cent.nonEmpty, "cellAssignExpr: empty centroid set")
    val cands = array(cent.map { case (k, embLit) =>
      struct(
        (lit(0.0) - call_function("graft_cosine", col(embCol), embLit))
          .as("neg"),
        lit(k).as("k"))
    }: _*)
    val best = array_min(cands)
    (best.getField("k").as("cell"), (lit(0.0) - best.getField("neg")).as("cs"))
  }

  /** DuckDB equivalent of [[hofDot]] — list_reduce is also a sequential fold.
    * Index-based (range + list extract) because DuckDB 1.0's list_zip yields
    * unnamed structs whose fields can't be extracted by name.
    */
  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (acc, v) -> acc + v)"

  private def duckCosine(a: String, b: String): String =
    s"${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)}))"

  /** A REAL streaming-maintained semantic-dedup'd embedding lake: the
    * [[graft.streaming.StreamRunner.semanticPublishBatch]] ingest body
    * replayed over three deterministic `embeddings` slices
    * (vec_id % 3 = 1, 2, 0 — in that order) with the dataset's own
    * vec_id 1..8 hyperplanes frozen at build time, under
    * [[StreamedFixture]]'s locked atomic publish. The lake (one table,
    * `(code, ingest_batch)`-partitioned) is what `sim_semdedup_serve`
    * reads.
    */
  /** The canonical three-slice semantic ingest replay shared by the
    * plain and HYBRID lake fixtures — one copy, so the hybrid variant
    * provably replays "the SAME three sliced ingest batches" its shared
    * oracle assumes. `afterBatch` fires after each batch publishes (the
    * hybrid's mid-stream fold+vacuum hook).
    */
  private def replaySlicedSemanticIngest(
      s: SparkSession, d: String,
      wh: graft.pipeline.Warehouse, scratch: String,
      afterBatch: Int => Unit = _ => ()): Unit = {
    val planes = srpPlanes(s, d)
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding"))
    Seq(col("vec_id") % 3 === 1, col("vec_id") % 3 === 2,
        col("vec_id") % 3 === 0).zipWithIndex.foreach { case (cond, i) =>
      graft.streaming.StreamRunner.semanticPublishBatch(
        e.filter(cond), i.toLong, planes, wh, scratch, _ => None, 0.25)
      afterBatch(i)
    }
  }

  /** The dataset's frozen coarse-quantizer centroid set (vec_id 1..8's
    * own embeddings — the IVF ladder's convention), as the literal rows
    * [[cellAssignExpr]] inlines. Bounded 8-row collect.
    */
  private def frozenCentroids(s: SparkSession, d: String): Seq[(Long, Seq[Float])] =
    Tables.embeddings(s, d)
      .filter(col("vec_id").between(1, 8))
      .select(col("vec_id"), col("embedding"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
      .sortBy(_._1).toSeq

  private val trainedCentMemo =
    new scala.collection.concurrent.TrieMap[String, Seq[(Long, Seq[Double])]]()

  /** k-GROWTH RULE for the trained coarse quantizer: k ≈ √N rounded
    * DOWN to a power of two, clamped to [8, 64]. The r17 panel showed
    * k=8 over ~500 survivors too coarse for a 1-2 probe budget (29%
    * recall@10 at nprobe=1); √N keeps per-cell occupancy ≈ cell count
    * (the classical IVF balance), the power-of-two floor keeps the
    * chosen k stable under small lake growth, and the clamp bounds both
    * the training bill (k centroid cosines per row per Lloyd round) and
    * the probe fan-out. At sf0.01 (≈490 survivors) this picks 16; at
    * sf0.1 (≈1960) it picks 32.
    */
  private[graft] def chooseK(n: Long): Int =
    math.min(64, math.max(8,
      Integer.highestOneBit(math.max(1, math.sqrt(n.toDouble).toInt))))

  /** The TRAINED coarse quantizer for the deduplicated lake's `_cells`
    * generation: 2 Lloyd rounds over the SURVIVORS (the `_serve`
    * snapshot), seeded by the dataset's vec_id 1..8 embeddings —
    * sim_kmeans_cells' exact arithmetic verbatim (micro-quantized BIGINT
    * element sums, cosine assignment with (cs DESC, k) tiebreak), so
    * engine and oracle derive bit-identical centroids. Centroids are
    * exact integer sums cast to double (cosine is scale-invariant).
    * Bounded 8-row collect, memoized per lake path: training runs at
    * MAINTENANCE time with the `_cells` build, and every serve probe
    * reuses the same literal set. At 100 TB each round trains on a
    * corpus sample (the sim_pq_train note) — plan shape unchanged.
    */
  private def trainedCentroids(s: SparkSession, d: String,
      wh: graft.pipeline.Warehouse, p: String,
      k: Int = 8): Seq[(Long, Seq[Double])] =
    // keyed on (path, current `_serve` VERSION, k): a re-folded lake
    // whose `_cells` rebuilds in the same JVM trains over the NEW
    // survivor set, and a memo keyed on path alone would keep ranking
    // probes with the stale centroids the generation was no longer
    // assigned with (breaking the probe-order-matches-argmax invariant)
    trainedCentMemo.getOrElseUpdate(
      s"${wh.tablePath(p)}@v=${wh.currentVersion(s"${p}_serve").getOrElse(0)}@k=$k", {
      import org.apache.spark.sql.expressions.Window
      graft.plans.GraftExtensions.ensureRegistered(s)
      val micro = "CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)"
      val eInt = wh.readVersion(s, s"${p}_serve")
        .select(col("vec_id"), col("embedding"))
        .withColumn("q", expr(s"transform(embedding, x -> $micro)"))
      var centroids = Tables.embeddings(s, d)
        .filter(col("vec_id").between(1, k))
        .select(col("vec_id").as("k"),
          expr(s"transform(transform(embedding, x -> $micro), " +
            "v -> CAST(v AS DOUBLE))").as("c_emb"))
      val byVec = Window.partitionBy(col("vec_id")).orderBy(desc("cs"), col("k"))
      def assign(cent: DataFrame): DataFrame =
        eInt.crossJoin(broadcast(cent))
          .withColumn("cs",
            call_function("graft_cosine", col("embedding"), col("c_emb")))
          .withColumn("rn", row_number().over(byVec)).filter(col("rn") === 1)
          .select(col("vec_id"), col("k").as("cell"), col("q"))
      for (_ <- 1 to 2) {
        centroids = assign(centroids)
          .select(col("cell"), posexplode(col("q")))
          .groupBy(col("cell"), col("pos")).agg(sum(col("col")).as("cv"))
          .groupBy(col("cell"))
          .agg(sort_array(collect_list(struct(col("pos"), col("cv")))).as("arr"))
          .select(col("cell").as("k"),
            expr("transform(arr, s -> CAST(s.cv AS DOUBLE))").as("c_emb"))
      }
      centroids.select(col("k"), col("c_emb"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
        .sortBy(_._1).toSeq
    })

  /** The query vector's top-`nprobe` coarse cells under the frozen
    * centroid set, as LITERAL ids (a bounded 1-row collect — the ledger
    * idiom): `array_sort` over the same `(−cos, k)` candidate structs
    * [[cellAssignExpr]] minimizes, so probe ORDER matches the lake's
    * argmax assignment and tiebreak exactly. The literals make the
    * `_cells` probe an `isin` PARTITION filter — nprobe directories
    * read, never the lake.
    */
  private def queryProbeCells(s: SparkSession, d: String, nprobe: Int): Seq[Long] =
    probeCellsLit(s, d,
      frozenCentroids(s, d).map { case (k, e) => k -> typedLit(e) }, nprobe)

  /** [[queryProbeCells]] against the TRAINED centroid set. */
  private def queryProbeCellsTrained(s: SparkSession, d: String,
      cent: Seq[(Long, Seq[Double])], nprobe: Int): Seq[Long] =
    probeCellsLit(s, d, cent.map { case (k, e) => k -> typedLit(e) }, nprobe)

  private def probeCellsLit(s: SparkSession, d: String,
      cent: Seq[(Long, Column)], nprobe: Int): Seq[Long] = {
    graft.plans.GraftExtensions.ensureRegistered(s)
    val cands = array(cent.map { case (k, embLit) =>
      struct(
        (lit(0.0) - call_function("graft_cosine", col("embedding"),
          embLit)).as("neg"),
        lit(k).as("k"))
    }: _*)
    Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(transform(slice(array_sort(cands), 1, nprobe),
        x => x.getField("k")).as("cells"))
      .collect()(0).getSeq[Long](0).toSeq
  }

  /** Top-k over the deduplicated `_cells` generation, probing the
    * query's top-`nprobe` cells — shared by the nprobe=1 and nprobe=2
    * serves and the recall report. Probes rank against the TRAINED
    * centroid set the `_cells` generation was assigned with
    * ([[trainedCentroids]] — probe order must match the lake's argmax
    * or the partition filter reads the wrong directories).
    */
  private def semdedupTopkIvf(s: SparkSession, d: String, nprobe: Int): DataFrame =
    serveTop10(semdedupTopkIvfCand(s, d, nprobe))

  /** The scored probe-read candidates behind [[semdedupTopkIvf]], tagged
    * with `probe_rank` = the 1-based rank of the matching probe cell
    * (probe order is the trained argmax ranking, and the top-1 probe is a
    * PREFIX of the top-2 list by construction — array_sort + slice). The
    * recall ladder evaluates this ONCE at its widest nprobe and derives
    * every narrower branch as `probe_rank <= np`, instead of re-running
    * the probe scan + scoring pass per branch (guide §1.2 — remove
    * passes). The serve twins still call it at their own nprobe, where
    * the rank tag is pruned away by Catalyst (plan unchanged).
    */
  private def semdedupTopkIvfCand(s: SparkSession, d: String,
      nprobe: Int): DataFrame = {
    val p = SemanticLakeFixture.cells(s, d)
    val probes = queryProbeCellsTrained(s, d,
      trainedCentroids(s, d, SemanticLakeFixture.wh, p), nprobe)
    val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    SemanticLakeFixture.wh.readVersion(s, s"${p}_cells")
      .filter(col("cell").isin(probes: _*) && col("vec_id") =!= 0)
      .withColumn("probe_rank", probeRank(probes))
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
      .select(col("vec_id"), col("label"), col("cos_sim"), col("probe_rank"))
  }

  /** 1-based rank of `cell` within the literal probe list (rows are
    * pre-filtered to the list, so the fallthrough branch is unreachable —
    * it exists to keep the expression total).
    */
  private def probeRank(probes: Seq[Long]): Column =
    probes.zipWithIndex.foldRight(lit(probes.size + 1): Column) {
      case ((c, i), acc) => when(col("cell") === lit(c), lit(i + 1)).otherwise(acc)
    }

  /** The shared serve tail: exact top-10 by (cos_sim DESC, vec_id) over a
    * scored candidate frame — TakeOrderedAndProject, never a global sort.
    */
  private def serveTop10(cand: DataFrame): DataFrame =
    cand.select(col("vec_id"), col("label"), col("cos_sim"))
      .orderBy(desc("cos_sim"), col("vec_id"))
      .limit(10)

  /** The recall ladder shared by the four `sim_semdedup_recall*` queries:
    * per nprobe ∈ {1, 2}, |serve top-10 ∩ brute top-10|, where `cand` is
    * the CACHED rank-tagged candidate set evaluated once at nprobe = 2 —
    * the nprobe = 1 branch is exactly `probe_rank <= 1` (the top-1 probe
    * is a prefix of the top-2 list), so one probe read + one scoring pass
    * feeds both branches instead of one per branch (guide §1.2).
    */
  private def recallLadder(brute: DataFrame, cand: DataFrame): DataFrame =
    Seq(1, 2).map { np =>
      cand.filter(col("probe_rank") <= np)
        .orderBy(desc("cos_sim"), col("vec_id")).limit(10)
        .select(col("vec_id"))
        .join(brute, Seq("vec_id"), "left_semi")
        .agg(count(lit(1)).cast("bigint").as("n_hit"))
        .select(lit(np.toLong).as("nprobe"), lit(10L).as("k"),
          col("n_hit"), expr("n_hit * 100 DIV 10").as("recall_pct"))
    }.reduce(_ unionByName _).orderBy(col("nprobe"))

  /** The FRESH indexed serve body — pinned `_cells` generation ∪ the
    * live tail above the persisted fold watermark, cell-assigned on the
    * fly by the same frozen projection the (mid-stream, deliberately
    * stale) cells build used — shared by the nprobe=1 and nprobe=2
    * twins. Tail rows cost one narrow assignment each; only probe-cell
    * matches survive; the watermark is a sidecar read (no snapshot
    * scan). Built on the HYBRID fixture, so batch 2 is reachable ONLY
    * through the tail — a serve that forgot the tail or double-read the
    * overlap flips the whole-survivor oracle.
    */
  private def semdedupTopkIvfFresh(s: SparkSession, d: String,
      nprobe: Int): DataFrame =
    serveTop10(semdedupTopkIvfFreshCand(s, d, nprobe))

  /** [[semdedupTopkIvfCand]]'s rank-tagged candidate form over the FRESH
    * snapshot∪tail serve — one probe read + one tail assignment shared by
    * every nprobe branch of the recall ladder.
    */
  private def semdedupTopkIvfFreshCand(s: SparkSession, d: String,
      nprobe: Int): DataFrame = {
    val p = SemanticLakeHybridFixture.cells(s, d)
    val wh = SemanticLakeHybridFixture.wh
    val probes = queryProbeCells(s, d, nprobe)
    val thru = graft.streaming.StreamRunner.lakeThru(
      s, wh, s"${p}_serve", wh.currentVersion(s"${p}_serve").get)
    val (cellCol, _) = cellAssignExpr(s, frozenCentroids(s, d))
    val snapCells = wh.readVersion(s, s"${p}_cells")
      .filter(col("cell").isin(probes: _*))
      .select(col("vec_id"), col("label"), col("embedding"),
        probeRank(probes).as("probe_rank"))
    val tailCells = wh.read(s, p)
      .filter(col("ingest_batch") > thru)
      .select(col("vec_id"), col("label"), col("embedding"), cellCol)
      .filter(col("cell").isin(probes: _*))
      .select(col("vec_id"), col("label"), col("embedding"),
        probeRank(probes).as("probe_rank"))
    val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    snapCells.unionByName(tailCells)
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
      .select(col("vec_id"), col("label"), col("cos_sim"), col("probe_rank"))
  }

  /** The RETRAINED fresh serve — [[semdedupTopkIvfFresh]]'s shape over
    * [[SemanticLakeRetrainFixture]], where `_cells` was rebuilt at
    * FULL-FOLD time with a quantizer trained on the folded survivors
    * and the sidecar records the quantizer id. The serve selects the
    * assignment set BY THAT ID (never by guessing from fixture
    * identity): probe ranking and the on-the-fly tail assignment must
    * both use the exact set the pinned generation was assigned with, or
    * the partition filter reads the wrong directories. Batch 2 is
    * reachable only through the tail (the lake is fully vacuumed
    * mid-stream), so a serve that forgot the tail — or assigned it with
    * the frozen set — flips the oracle, which re-derives training over
    * exactly the mid-stream survivor population (`prev`).
    */
  private def semdedupTopkIvfRetrained(s: SparkSession, d: String,
      nprobe: Int): DataFrame =
    serveTop10(semdedupTopkIvfRetrainedCand(s, d, nprobe))

  /** [[semdedupTopkIvfCand]]'s rank-tagged candidate form over the
    * RETRAINED fresh serve — one probe read + one tail assignment shared
    * by every nprobe branch of the recall ladder.
    */
  private def semdedupTopkIvfRetrainedCand(s: SparkSession, d: String,
      nprobe: Int): DataFrame = {
    val p = SemanticLakeRetrainFixture.build(s, d)
    val wh = SemanticLakeRetrainFixture.wh
    val cv = wh.currentVersion(s"${p}_cells").getOrElse(
      throw new IllegalStateException(s"no _cells generation for $p"))
    val quantizer = wh.versionMeta(s"${p}_cells", cv)
      .getOrElse("quantizer", "frozen")
    val (probes, cellCol) = quantizer match {
      case "trained8" =>
        val cent = trainedCentroids(s, d, wh, p)
        (queryProbeCellsTrained(s, d, cent, nprobe),
          cellAssignExprTrained(s, cent)._1)
      case _ =>
        (queryProbeCells(s, d, nprobe),
          cellAssignExpr(s, frozenCentroids(s, d))._1)
    }
    val thru = graft.streaming.StreamRunner.lakeThru(
      s, wh, s"${p}_serve", wh.currentVersion(s"${p}_serve").get)
    val snapCells = wh.readVersion(s, s"${p}_cells")
      .filter(col("cell").isin(probes: _*))
      .select(col("vec_id"), col("label"), col("embedding"),
        probeRank(probes).as("probe_rank"))
    val tailCells = wh.read(s, p)
      .filter(col("ingest_batch") > thru)
      .select(col("vec_id"), col("label"), col("embedding"), cellCol)
      .filter(col("cell").isin(probes: _*))
      .select(col("vec_id"), col("label"), col("embedding"),
        probeRank(probes).as("probe_rank"))
    val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    snapCells.unionByName(tailCells)
      .filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
      .select(col("vec_id"), col("label"), col("cos_sim"), col("probe_rank"))
  }

  /** Top-k over the K-SCALED trained cells generation
    * ([[SemanticLakeFixture.cellsAutoK]] — k = [[chooseK]](survivors)
    * instead of the fixed seed 8): the same literal-probe
    * partition-filter plan as [[semdedupTopkIvf]], but the quantizer
    * has √N-scaled resolution, which is what lifts panel recall at a
    * 1-2 probe budget (the r17 "k fixed at 8" gap — SCALE.md's
    * k×nprobe table). k comes from the generation's sidecar, never
    * re-derived at serve time.
    */
  private def semdedupTopkIvfAutoK(s: SparkSession, d: String,
      nprobe: Int): DataFrame =
    serveTop10(semdedupTopkIvfAutoKCand(s, d, nprobe))

  /** [[semdedupTopkIvfCand]]'s rank-tagged candidate form over the
    * K-SCALED `_cellsk` generation — one probe read shared by every
    * nprobe branch of the recall ladder.
    */
  private def semdedupTopkIvfAutoKCand(s: SparkSession, d: String,
      nprobe: Int): DataFrame = {
    val p = SemanticLakeFixture.cellsAutoK(s, d)
    val wh = SemanticLakeFixture.wh
    val cv = wh.currentVersion(s"${p}_cellsk").getOrElse(
      throw new IllegalStateException(s"no _cellsk generation for $p"))
    val k = wh.versionMeta(s"${p}_cellsk", cv)
      .getOrElse("quantizer", "trained8").stripPrefix("trained").toInt
    val cent = trainedCentroids(s, d, wh, p, k)
    val probes = queryProbeCellsTrained(s, d, cent, nprobe)
    val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    wh.readVersion(s, s"${p}_cellsk")
      .filter(col("cell").isin(probes: _*) && col("vec_id") =!= 0)
      .withColumn("probe_rank", probeRank(probes))
      .crossJoin(broadcast(q))
      .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
      .select(col("vec_id"), col("label"), col("cos_sim"), col("probe_rank"))
  }

  /** The MEASUREMENT panel behind the k-growth rule (SCALE.md's
    * k×nprobe table — a maintenance-time eval, not a serve): for every
    * quantizer width in `ks`, train on the deduplicated lake's
    * survivors, assign them, and measure the capped 16-query panel's
    * brute-top-10 hit count at each probe width in `nprobes`. The
    * sim_semdedup_recall_panel shape generalized from {frozen,trained8}
    * × {1,2} to arbitrary k × nprobe; same capped panel (the r17 "%k
    * slice grows with the lake" lesson), same |lake|×16 broadcast
    * score set, reused across every (k, nprobe) combination.
    */
  private[graft] def quantizerKPanel(s: SparkSession, d: String,
      ks: Seq[Int], nprobes: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import s.implicits._
    val p = SemanticLakeFixture.compact(s, d)
    val wh = SemanticLakeFixture.wh
    val lake = wh.readVersion(s, s"${p}_serve")
      .select(col("vec_id"), col("embedding"))
    val qs = lake.filter(col("vec_id") % 37 === 0)
      .orderBy(col("vec_id")).limit(16)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
    val sc = lake.crossJoin(broadcast(qs))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cs", round(cosine(s, "embedding", "q_emb"), 6))
      .select(col("qid"), col("vec_id"), col("cs"))
      .cache()
    try {
      val byQ = Window.partitionBy(col("qid"))
        .orderBy(desc("cs"), col("vec_id"))
      val brute = sc.withColumn("rn", row_number().over(byQ))
        .filter(col("rn") <= 10).select(col("qid"), col("vec_id"))
      val nTotal = brute.agg(count(lit(1)).cast("bigint").as("n_total"))
      graft.plans.GraftExtensions.ensureRegistered(s)
      val maxProbe = nprobes.max
      ks.map { kq =>
        val cent = trainedCentroids(s, d, wh, p, kq)
        val cells = lake.select(col("vec_id"),
          cellAssignExprTrained(s, cent)._1)
        val centDf = cent.toDF("k", "c_emb")
        val byQc = Window.partitionBy(col("qid"))
          .orderBy(desc("qcs"), col("k"))
        val qcells = qs.crossJoin(broadcast(centDf))
          .withColumn("qcs",
            call_function("graft_cosine", col("q_emb"), col("c_emb")))
          .withColumn("crn", row_number().over(byQc))
          .filter(col("crn") <= maxProbe)
          .select(col("qid"), col("k").as("q_cell"), col("crn"))
        nprobes.map { np =>
          val iv = sc.join(cells, Seq("vec_id"))
            .join(qcells.filter(col("crn") <= np), Seq("qid"))
            .filter(col("cell") === col("q_cell"))
            .select(col("qid"), col("vec_id"), col("cs"))
            .withColumn("rn", row_number().over(byQ))
            .filter(col("rn") <= 10)
            .select(col("qid"), col("vec_id"))
          iv.join(brute, Seq("qid", "vec_id"), "left_semi")
            .agg(count(lit(1)).cast("bigint").as("n_hit"))
            .crossJoin(nTotal)
            .select(lit(kq.toLong).as("quantizer_k"),
              lit(np.toLong).as("nprobe"), col("n_hit"), col("n_total"))
        }.reduce(_ unionByName _)
      }.reduce(_ unionByName _)
        .orderBy(col("quantizer_k"), col("nprobe"))
        .localCheckpoint()
    } finally sc.unpersist(): Unit
  }

  private[graft] object SemanticLakeFixture extends StreamedFixture(
    "sl", Seq(""), layout = "v1",
    extraPruneSuffixes = Seq("_serve", "_cells", "_cellsk")) {
    override protected def sourceTable: String = "embeddings"
    override protected def buildScratch(
        s: SparkSession, d: String, scratch: String): Unit =
      replaySlicedSemanticIngest(s, d, wh, scratch)

    /** Build (if needed), then COMPACT the lake's per-batch fragments
      * into the versioned code-partitioned `_serve` snapshot once per
      * JVM ([[graft.streaming.StreamRunner.compactSemantic]] under the
      * shared [[StreamedFixture.compactOnce]] memo; retention pruned to
      * the last two). Returns the table prefix.
      */
    def compact(s: SparkSession, d: String): String = {
      val p = build(s, d)
      compactOnce(p) {
        graft.streaming.StreamRunner.compactSemantic(s, wh, p)
        wh.pruneVersions(s"${p}_serve", keep = 2)
        wh.currentVersion(s"${p}_serve").isDefined
      }
      p
    }

    /** Compact (if needed), then CELL-ASSIGN the deduplicated survivors
      * against a coarse quantizer TRAINED ON THE SURVIVORS
      * ([[trainedCentroids]] — 2 Lloyd rounds from the frozen seeds; the
      * frozen first-8 convention under-fit the survivor geometry and
      * cost single-probe recall) and publish them as a versioned
      * CELL-partitioned `_cells` generation — the IVF serving layout
      * composed over the SemDeDup'd lake, so indexed top-k probes read
      * one cell directory of SURVIVORS instead of scanning every row
      * (sim_semdedup_topk_ivf). Training + one narrow literal-centroid
      * projection over the snapshot, paid at maintenance time, never at
      * serve time. Deliberately a FULL rebuild per fold, not an
      * incremental cells write: the incremental READ form already
      * exists — the `_fresh` serves compose the pinned generation with
      * an on-the-fly-assigned tail, which is exactly "cells of the
      * un-rebuilt suffix" — so a persisted cells delta would buy
      * nothing the tail assignment doesn't, while the rebuild itself
      * is one narrow projection at fold cadence (and retraining, when
      * it happens, invalidates every prior assignment anyway).
      */
    def cells(s: SparkSession, d: String): String = {
      val p = compact(s, d)
      compactOnce(s"$p@cells")(writeCellsGeneration(s, d, wh, p,
        cellAssignExprTrained(s, trainedCentroids(s, d, wh, p))._1))
      p
    }

    /** The K-SCALED cells generation: `_cellsk`, trained at
      * k = [[chooseK]](|survivors|) (16 at sf0.01, 32 at sf0.1) with
      * the chosen quantizer id in the sidecar, so the serve can never
      * disagree with the generation about k after the lake grows
      * across a √N boundary. Kept SEPARATE from the fixed-k=8 `_cells`
      * so the existing pinned serves and their oracles stay untouched.
      */
    def cellsAutoK(s: SparkSession, d: String): String = {
      val p = compact(s, d)
      compactOnce(s"$p@cellsk") {
        val k = chooseK(wh.readVersion(s, s"${p}_serve").count())
        writeCellsGeneration(s, d, wh, p,
          cellAssignExprTrained(s, trainedCentroids(s, d, wh, p, k))._1,
          suffix = "_cellsk", meta = Map("quantizer" -> s"trained$k"))
      }
      p
    }
  }

  /** The HYBRID-serve variant of [[SemanticLakeFixture]]: the SAME three
    * sliced ingest batches, but the lake is compacted AND fully vacuumed
    * MID-STREAM (after batch 1, before batch 2 — the
    * CorpusStatsVacuumFixture discipline applied to the semantic lake),
    * so batch 2's cross-lake match join can only find batches 0–1's
    * vectors through the snapshot ([[graft.streaming.StreamRunner
    * .hybridLakeRead]]'s ingest side) and the snapshot+tail serve's tail
    * partition is LOAD-BEARING. A watermark off-by-one, a vacuum that
    * deletes too much, or an ingest still reading the live lake all flip
    * the shared from-scratch replay oracle.
    */
  private[graft] object SemanticLakeHybridFixture extends StreamedFixture(
    "slh", Seq("", "_serve"), layout = "v1",
    extraPruneSuffixes = Seq("_cells")) {
    override protected def sourceTable: String = "embeddings"
    override protected def buildScratch(
        s: SparkSession, d: String, scratch: String): Unit =
      replaySlicedSemanticIngest(s, d, wh, scratch, afterBatch = i =>
        if (i == 1) {
          graft.streaming.StreamRunner.compactSemantic(s, wh, scratch)
          graft.streaming.StreamRunner.gcLake(s, wh, scratch,
            s"${scratch}_serve", slackGenerations = 0): Unit
        })

    /** `_cells` built from the MID-STREAM `_serve` snapshot (batches
      * 0–1 only) — deliberately STALE, so the fresh indexed serve's
      * on-the-fly tail assignment is load-bearing
      * (sim_semdedup_topk_ivf_fresh). Assignment keeps the FROZEN
      * quantizer: a mid-stream cells build reuses the previous/seed
      * centroid set — retraining belongs to the full-fold maintenance
      * pass (the plain fixture's [[SemanticLakeFixture.cells]]), and the
      * fresh serve's on-the-fly tail assignment must match whatever set
      * the pinned generation used.
      */
    def cells(s: SparkSession, d: String): String = {
      val p = build(s, d)
      compactOnce(s"$p@cells")(writeCellsGeneration(s, d, wh, p,
        cellAssignExpr(s, frozenCentroids(s, d))._1))
      p
    }
  }

  /** The RETRAIN-AT-FULL-FOLD variant: the same three sliced batches,
    * but after batch 1 the lake FULLY folds (tail empty — the retrain
    * window the maintenance policy waits for, since retraining
    * invalidates every prior assignment and an on-the-fly tail must
    * share the pinned generation's quantizer), the quantizer RETRAINS
    * on the folded survivors, `_cells` rebuilds with the trained
    * assignment, the quantizer id lands in the generation's sidecar,
    * and the folded fragments vacuum. Batch 2 then ingests normally, so
    * at read time the retrained generation serves with a live tail the
    * fresh serve must assign WITH THE TRAINED SET — selected by the
    * sidecar id, never by guessing (sim_semdedup_topk_ivf_rt).
    */
  private[graft] object SemanticLakeRetrainFixture extends StreamedFixture(
    "slr", Seq("", "_serve", "_cells"), layout = "v1") {
    override protected def sourceTable: String = "embeddings"
    override protected def buildScratch(
        s: SparkSession, d: String, scratch: String): Unit =
      replaySlicedSemanticIngest(s, d, wh, scratch, afterBatch = i =>
        if (i == 1) {
          graft.streaming.StreamRunner.compactSemantic(s, wh, scratch)
          writeCellsGeneration(s, d, wh, scratch,
            cellAssignExprTrained(s,
              trainedCentroids(s, d, wh, scratch))._1,
            meta = Map("quantizer" -> "trained8"))
          graft.streaming.StreamRunner.gcLake(s, wh, scratch,
            s"${scratch}_serve", slackGenerations = 0): Unit
        })
  }

  /** The shared `_cells`-generation write (run once per JVM per prefix
    * under each fixture's compactOnce memo): the lake's `_serve`
    * snapshot cell-assigned by the caller's quantizer projection and
    * published as a versioned cell-partitioned generation. Returns
    * whether a committed generation exists (the compactOnce contract).
    */
  private def writeCellsGeneration(s: SparkSession, d: String,
      wh: graft.pipeline.Warehouse, p: String, cellCol: Column,
      suffix: String = "_cells",
      meta: Map[String, String] = Map.empty): Boolean = {
    wh.versionedWrite(
      wh.readVersion(s, s"${p}_serve")
        .select(col("vec_id"), col("label"), col("embedding"), cellCol)
        .repartition(col("cell")),
      s"$p$suffix", Seq("cell"), meta)
    wh.pruneVersions(s"$p$suffix", keep = 2)
    wh.currentVersion(s"$p$suffix").isDefined
  }

  /** A REAL streaming-maintained IVF lake:
    * [[graft.streaming.StreamRunner.ivfPublishBatch]] replayed over
    * three `embeddings` slices (vec_id % 3 = 1, 2, 0) with the
    * dataset's own vec_id 1..8 embeddings as the FROZEN centroid set —
    * assignment through the streaming-legal [[cellAssignExpr]]
    * projection, publish through the staged-readback gate into the
    * `(cell, ingest_batch)` layout — then COMPACTED
    * ([[graft.streaming.StreamRunner.compactIvf]]) into one
    * cell-partitioned versioned generation. `sim_ivf_lake_compacted`
    * serves the snapshot; its oracle re-derives every vector's argmax
    * cell from scratch, so the compactor altering, dropping, or
    * double-publishing any row flips the hash.
    */
  /** The canonical three-slice IVF ingest replay shared by the plain
    * and HYBRID lake fixtures (the semantic replay's convention).
    */
  private def replaySlicedIvfIngest(
      s: SparkSession, d: String,
      wh: graft.pipeline.Warehouse, scratch: String,
      afterBatch: Int => Unit = _ => ()): Unit = {
    val (cellCol, csCol) = cellAssignExpr(s, frozenCentroids(s, d))
    val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      .select(col("vec_id"), col("embedding"), cellCol, csCol)
    Seq(col("vec_id") % 3 === 1, col("vec_id") % 3 === 2,
        col("vec_id") % 3 === 0).zipWithIndex.foreach { case (cond, i) =>
      graft.streaming.StreamRunner.ivfPublishBatch(
        e.filter(cond), i.toLong, wh, scratch, _ => None)
      afterBatch(i)
    }
  }

  private[graft] object IvfLakeFixture extends StreamedFixture(
    "il", Seq(""), layout = "v1",
    extraPruneSuffixes = Seq("_serve")) {
    override protected def sourceTable: String = "embeddings"
    override protected def buildScratch(
        s: SparkSession, d: String, scratch: String): Unit =
      replaySlicedIvfIngest(s, d, wh, scratch)

    /** Build (if needed), then compact once per JVM; returns the prefix. */
    def compact(s: SparkSession, d: String): String = {
      val p = build(s, d)
      compactOnce(p) {
        graft.streaming.StreamRunner.compactIvf(s, wh, p)
        wh.pruneVersions(s"${p}_serve", keep = 2)
        wh.currentVersion(s"${p}_serve").isDefined
      }
      p
    }
  }

  /** The HYBRID-serve IVF variant: same three slices, compacted and
    * fully vacuumed after batch 1, so the serve's tail partition (batch
    * 2) is load-bearing and batches 0–1 exist only in the snapshot.
    */
  private[graft] object IvfLakeHybridFixture extends StreamedFixture(
    "ilh", Seq("", "_serve"), layout = "v1") {
    override protected def sourceTable: String = "embeddings"
    override protected def buildScratch(
        s: SparkSession, d: String, scratch: String): Unit =
      replaySlicedIvfIngest(s, d, wh, scratch, afterBatch = i =>
        if (i == 1) {
          graft.streaming.StreamRunner.compactIvf(s, wh, scratch)
          graft.streaming.StreamRunner.gcLake(s, wh, scratch,
            s"${scratch}_serve", slackGenerations = 0): Unit
        })
  }

  /** The oracle-facing projection of the semantic lake, shared by the
    * live (`sim_semdedup_serve`) and compacted (`sim_semdedup_compacted`)
    * reads — identical output shape is the point: both hash against the
    * same from-scratch replay.
    */
  private def semanticLakeProjection(lake: DataFrame): DataFrame =
    lake.select(col("vec_id"), col("label"),
        col("code").cast("bigint").as("code"),
        col("ingest_batch").cast("bigint").as("ingest_batch"))
      .orderBy(col("vec_id"))

  /** The persisted 16-dim prefix-slice index (the Matryoshka artifact)
    * shared by the direct serve and the rerank form: built once per
    * corpus fingerprint, read back as a parquet scan.
    */
  private def m16Slices(s: SparkSession, d: String): DataFrame =
    Artifacts.table(s, d, "embeddings", "m16_slices")(
      Tables.embeddings(s, d).select(col("vec_id"), col("label"),
        expr("slice(embedding, 1, 16)").as("m16")))

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- brute-force cosine top-k against one query vector ----
    "sim_topk_brute" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
        .select(col("vec_id"), col("label"), col("cos_sim"))
        .orderBy(desc("cos_sim"), col("vec_id"))
        .limit(10)
    }),

    // ---- IVF-style: prune to the query's coarse bucket, then top-k ----
    "sim_topk_bucketed" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("label").as("q_label"))
      e.filter(col("vec_id") =!= 0)
        .join(broadcast(q), col("label") === col("q_label"))
        .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
        .select(col("vec_id"), col("label"), col("cos_sim"))
        .orderBy(desc("cos_sim"), col("vec_id"))
        .limit(10)
    }),

    // ---- IVF with a real coarse quantizer: assign every vector to its
    // nearest of 8 centroids (argmax cosine, centroid-id tiebreak), then
    // search only the query's cell. At scale the lake is written
    // partitioned by cell, so the non-query cells are never read; the
    // centroid set is tiny and broadcast. ----
    "sim_topk_ivf" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cells = ivfCells(s, d)
      val qCell = cells.filter(col("vec_id") === 0).select(col("cell").as("q_cell"))
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      e.join(cells, "vec_id")
        .join(broadcast(qCell), col("cell") === col("q_cell"))
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
        .select(col("vec_id"), col("cell"), col("cos_sim"))
        .orderBy(desc("cos_sim"), col("vec_id"))
        .limit(10)
    }),

    // ---- k-means coarse-quantizer TRAINING (2 Lloyd rounds), fully
    // deterministic: centroids are integer-quantized element sums
    // (floor(x·1e6) per element, summed as BIGINT — order-independent and
    // exact, unlike double means) and cosine is scale-invariant, so the
    // un-normalized integer centroid points the same direction the mean
    // would. Assignment = argmax cosine with centroid-id tiebreak. At scale
    // each round is one broadcast of K centroid arrays + one (cell, j)
    // aggregation — the standard distributed Lloyd shape. ----
    "sim_kmeans_cells" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      graft.plans.GraftExtensions.ensureRegistered(s)
      val eInt = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
        .withColumn("q",
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"))
      var centroids = eInt.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("k"), expr("transform(q, v -> CAST(v AS DOUBLE))").as("c_emb"))
      val byVec = Window.partitionBy(col("vec_id")).orderBy(desc("cs"), col("k"))
      def assign(cent: DataFrame): DataFrame =
        eInt.crossJoin(broadcast(cent))
          .withColumn("cs", call_function("graft_cosine", col("embedding"), col("c_emb")))
          .withColumn("rn", row_number().over(byVec)).filter(col("rn") === 1)
          .select(col("vec_id"), col("k").as("cell"), col("q"))
      for (_ <- 1 to 2) {
        centroids = assign(centroids)
          .select(col("cell"), posexplode(col("q")))
          .groupBy(col("cell"), col("pos")).agg(sum(col("col")).as("cv"))
          .groupBy(col("cell"))
          .agg(sort_array(collect_list(struct(col("pos"), col("cv")))).as("arr"))
          .select(col("cell").as("k"),
            expr("transform(arr, s -> CAST(s.cv AS DOUBLE))").as("c_emb"))
      }
      assign(centroids)
        .select(col("vec_id"), col("cell"))
        .orderBy(col("vec_id"))
    }),

    // ---- PQ codebook TRAINING (2 Lloyd rounds per subspace) — the PQ
    // twin of sim_kmeans_cells, closing the trainable-index story for the
    // codes-only ADC path: sim_topk_pq/sim_topk_pq_rerank encode against
    // FROZEN seed codebooks; this query trains them in place. Subvectors
    // are micro-quantized BIGINTs (floor(x·1e6)), so centroid updates are
    // exact integer means (Σ DIV n — order-independent) and L2² distances
    // are exact BIGINT sequential folds; assignment ties break to the
    // smaller code. Empty cells keep their previous centroid (the
    // standard Lloyd detail), spelled identically in the oracle's LEFT
    // JOIN + coalesce. Plan shape (driver-controlled iteration, the
    // txt_bpe_train precedent): the 32-entry codebook lives as BOUNDED
    // driver state inlined as literals — assignment is a narrow
    // codegen'd projection (32 exact L2 folds + argmin per row, NO
    // per-vector exchange) and each round's only shuffle is the
    // (m,k,pos) partial-agg'd centroid update, 4·8·16 = 512 rows per
    // mapper regardless of corpus size; the per-round collect is those
    // same ≤512 rows (the PQ-codebook/SRP-planes bounded-state class).
    // Alternatives measured at sf1 and rejected: window row_number over
    // the candidate join shuffles every (vector × centroid) row (24 MB);
    // groupBy(vec,m,sv)+min(struct) still shuffles one signature row per
    // vector (31 MB). This form shuffles 0.02 MB. At 100 TB: train each
    // round on a corpus sample (cell statistics converge long before a
    // full pass), plan shape unchanged. Output: per (m,k) cell the
    // assigned population and exact centroid digests (Σμ, Σ|μ|). ----
    "sim_pq_train" -> ((s, d) => {
      val sub = Tables.embeddings(s, d)
        .select(col("vec_id"), expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
          .as("q"))
        .select(col("vec_id"), explode(array((0 to 3).map(lit): _*)).as("m"), col("q"))
        .select(col("vec_id"), col("m"), expr("slice(q, m * 16 + 1, 16)").as("sv"))
        .cache()
      // seed codebook: the 8 deterministic seed vectors' subvectors
      // (one bounded 32-row collect)
      var cent: Map[(Int, Int), Array[Long]] =
        sub.filter(col("vec_id").between(1, 8)).collect().map { r =>
          (r.getInt(1), r.getLong(0).toInt) -> r.getSeq[Long](2).toArray
        }.toMap
      // argmin code for this row's subspace against the literal codebook:
      // exact BIGINT folds, array_min on (dd, k) structs ties to smaller k
      def codeCol(c: Map[(Int, Int), Array[Long]]): Column = {
        def dd(cv: Array[Long]) =
          s"aggregate(zip_with(sv, array(${cv.mkString("L, ")}L), " +
            "(x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
        val branches = (0 to 3).map { m =>
          val cands = (1 to 8).map(k => s"struct(${dd(c((m, k)))} AS dd, $k AS k)")
          s"WHEN m = $m THEN array_min(array(${cands.mkString(", ")})).k"
        }
        expr(s"CASE ${branches.mkString(" ")} END")
      }
      // try/finally: the cache exists for the two training passes; once
      // the loop is done (or dies) the cached subvector partitions are
      // released so a long-lived session doesn't leak them until LRU
      // eviction. The final assignment below re-reads the narrow source
      // once, uncached — cheap, and it keeps the returned plan the
      // spec-pinned literal-codebook projection (no driver-side tables).
      try {
        for (_ <- 1 to 2) {
          val fresh = sub.withColumn("k", codeCol(cent))
            .select(col("m"), col("k"), posexplode(col("sv")))
            .groupBy(col("m"), col("k"), col("pos"))
            .agg(expr("sum(col) DIV count(1)").as("mu"))
            .collect()
            .groupBy(r => (r.getInt(0), r.getInt(1)))
            .map { case (key, rows) =>
              key -> rows.sortBy(_.getInt(2)).map(_.getLong(3)).toArray
            }
          cent = cent.map { case (key, old) => key -> fresh.getOrElse(key, old) }
        }
      } finally sub.unpersist()
      val counts = sub.withColumn("k", codeCol(cent))
        .groupBy(col("m"), col("k")).agg(count(lit(1)).as("n_assigned"))
        .select(col("m").cast("bigint").as("m"), col("k").cast("bigint").as("k"),
          col("n_assigned"))
      val centDigest = s.createDataFrame(cent.toSeq.map { case ((m, k), cv) =>
        (m.toLong, k.toLong, cv.sum, cv.map(math.abs).sum)
      }).toDF("m", "k", "c_sum", "c_l1")
      centDigest.join(counts, Seq("m", "k"), "left")
        .select(col("m"), col("k"),
          coalesce(col("n_assigned"), lit(0L)).cast("bigint").as("n_assigned"),
          col("c_sum"), col("c_l1"))
        .orderBy(col("m"), col("k"))
    }),

    // ---- IVF centroid-drift report: the RETRAIN signal that closes the
    // index-maintenance loop (sim_ivf_ingest assigns new data to frozen
    // centroids; sim_eval_retrieval measures the recall cost; this query
    // says when to pay for retraining). Every vector is assigned to its
    // frozen centroid (broadcast argmax, the sim_topk_ivf shape), each
    // cell's FRESH centroid is recomputed as the exact integer-micro-unit
    // element mean (order-independent BIGINT sums — the sim_kmeans_cells
    // quantization), and drift = 1 − cosine(frozen, fresh), the
    // scale-invariant angular move. Per-dim sums partial-agg to
    // |cells|×|dims| rows per mapper; everything after the one
    // aggregation is a K-row report. Retrain flag at drift > 0.05. ----
    "sim_centroid_drift" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      graft.plans.GraftExtensions.ensureRegistered(s)
      val e = Tables.embeddings(s, d)
      val cent = e.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("k"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("c_emb"))
      val byVec = Window.partitionBy(col("vec_id")).orderBy(desc("cs"), col("k"))
      val assigned = e.crossJoin(broadcast(cent))
        .withColumn("cs", call_function("graft_cosine", col("embedding"), col("c_emb")))
        .withColumn("rn", row_number().over(byVec)).filter(col("rn") === 1)
        .select(col("vec_id"), col("k").as("cell"),
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
            .as("q"))
      val newCent = assigned.select(col("cell"), posexplode(col("q")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col")).as("sv"), count(lit(1)).as("n"))
        .withColumn("mu", expr("sv DIV n"))
        .groupBy(col("cell"))
        .agg(max(col("n")).cast("bigint").as("n_assigned"),
          sort_array(collect_list(struct(col("pos"), col("mu")))).as("arr"))
        .select(col("cell"), col("n_assigned"),
          expr("transform(arr, s -> CAST(s.mu AS DOUBLE))").as("m_emb"))
      newCent.join(broadcast(cent), col("cell") === col("k"))
        .withColumn("drift",
          round(lit(1.0) - call_function("graft_cosine", col("m_emb"), col("c_emb")), 6))
        .select(col("cell"), col("n_assigned"), col("drift"),
          (col("drift") > 0.05).as("retrain"))
        .orderBy(col("cell"))
    }),

    // ---- SRP-LSH (random-hyperplane) bucketing for cosine: each vector's
    // 8-bit code = sign bits of its dot products with 8 fixed hyperplanes
    // (vectors 1..8 as the deterministic stand-in for sampled gaussians).
    // Vectors sharing the query's code are the candidate set — cosine-LSH
    // guarantees collision probability 1 - angle/π per bit. At scale the
    // lake is partitioned/bucketed by code, so a probe reads one bucket. ----
    "sim_topk_srp" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      val e = Tables.embeddings(s, d)
      val planes = e.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("k"), col("embedding").as("h_emb"))
      val coded = e.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(planes))
        .withColumn("bit",
          when(call_function("graft_dot", col("embedding"), col("h_emb")) > 0,
            expr("shiftleft(CAST(1 AS BIGINT), CAST(k AS INT) - 1)")).otherwise(lit(0L)))
        .groupBy(col("vec_id")).agg(sum(col("bit")).as("code"))
      val qCode = coded.filter(col("vec_id") === 0).select(col("code").as("q_code"))
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      e.join(coded, "vec_id")
        .join(broadcast(qCode), col("code") === col("q_code"))
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
        .select(col("vec_id"), col("code"), col("cos_sim"))
        .orderBy(desc("cos_sim"), col("vec_id"))
        .limit(10)
    }),

    // ---- multi-probe SRP retrieval: the standard fix for the
    // single-bucket recall misses sim_eval_retrieval measures — probe the
    // query's code AND its 8 hamming-1 neighbors (9 literal codes,
    // broadcast), so near neighbors that landed one sign-bit away are
    // recovered without touching the other 247 buckets. Candidates join
    // one of 9 distinct codes (no dup rows possible); coding itself is
    // the literal-planes narrow projection. At 100 TB with the lake
    // partitioned by code, this reads 9 partitions instead of 1 — the
    // probe count is the recall/latency knob, same role as IVF nprobe. ----
    "sim_topk_srp_multiprobe" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      val planes = srpPlanes(s, d)
      val e = Tables.embeddings(s, d)
      val coded = e.select(col("vec_id"), col("embedding"),
        srpCodeCol(planes).as("code"))
      val probes = coded.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"), col("code").as("qc"))
        .select(col("q_emb"),
          explode(array(col("qc") +: (0 until 8).map(i =>
            col("qc").bitwiseXOR(lit(1L << i))): _*)).as("probe"))
      coded.filter(col("vec_id") =!= 0)
        .join(broadcast(probes), col("code") === col("probe"))
        .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
        .select(col("vec_id"), col("code"), col("cos_sim"))
        .orderBy(desc("cos_sim"), col("vec_id"))
        .limit(10)
    }),

    // ---- incremental IVF index maintenance: assign ONLY today's ingest
    // batch (vec_id % 10 = 0, the dedup_incremental convention) to the
    // FROZEN centroid set — the daily operation that keeps a partitioned
    // ANN lake current without retraining or touching resident vectors.
    // Work scales with the INGEST: the 8 centroids broadcast, each batch
    // vector scores 8 bounded candidates, and the argmax window runs over
    // 8 rows per vector. At 100 TB the output is appended into the
    // cell-partitioned lake layout sim_topk_ivf's cell pruning reads. ----
    "sim_ivf_ingest" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d)
      val cent = e.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("k"), col("embedding").as("c_emb"))
      val batch = e.filter(col("vec_id") % 10 === 0 && col("vec_id") =!= 0)
        .select(col("vec_id"), col("embedding"))
      val byVec = Window.partitionBy(col("vec_id")).orderBy(desc("cs"), col("k"))
      batch.crossJoin(broadcast(cent))
        .withColumn("cs", cosine(s, "embedding", "c_emb"))
        .withColumn("rn", row_number().over(byVec))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("k").as("cell"),
          round(col("cs"), 6).as("cos_sim"))
        .orderBy(col("vec_id"))
    }),

    // ---- MMR (maximal marginal relevance) diversified top-k: re-rank the
    // exact-cosine shortlist so results are relevant AND mutually distinct
    // — the retrieval answer to near-duplicate result lists (a RAG system
    // that returns 10 copies of the same boilerplate answered nothing).
    // All arithmetic in exact micro-units (round(cos·10⁶) BIGINT), so the
    // greedy argmax chain hashes identically on both engines: step 1 picks
    // max relevance; step i scores every remaining candidate
    // 700·rel − 300·max(sim to selected) and picks the max (tie → smaller
    // id). The greedy runs on BOUNDED state — the 20-row shortlist and its
    // 380 pairwise sims, constant in corpus size (the PQ-codebook /
    // srpPlanes precedent): the corpus-sized work is exactly one scored
    // scan + TakeOrdered(20), and the re-rank window never grows with the
    // lake. Oracle = the same 10 argmax steps as chained CTEs. ----
    "sim_topk_mmr" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      val short = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"), col("embedding"),
          round(cosine(s, "embedding", "q_emb") * 1000000).cast("long").as("rel6"))
        .orderBy(desc("rel6"), col("vec_id")).limit(20)
        .cache()
      val rels = short.select(col("vec_id"), col("rel6")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val sims = short.as("a").crossJoin(short.as("b"))
        .filter(col("a.vec_id") =!= col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
          round(cosine(s, "a.embedding", "b.embedding") * 1000000).cast("long").as("sim6"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      var selected = Vector.empty[(Long, Long, Long, Long)] // rank, id, rel6, mmr6
      var remaining = rels.toVector
      for (rank <- 1L to 10L) {
        val pick = remaining.map { case (v, rel) =>
          val mmr =
            if (selected.isEmpty) 700L * rel
            else 700L * rel - 300L * selected.map(sv => sims((v, sv._2))).max
          (v, rel, mmr)
        }.minBy { case (v, _, m) => (-m, v) }
        selected :+= ((rank, pick._1, pick._2, pick._3))
        remaining = remaining.filterNot(_._1 == pick._1)
      }
      import s.implicits._
      selected.toDF("mmr_rank", "vec_id", "rel_x1e6", "mmr_x1e6")
        .orderBy(col("mmr_rank"))
    }),

    // ---- blocked near-duplicate pairs (embedding-cosine dedup). The block
    // key is the CONTENT-derived SRP code (random-hyperplane sign bits, the
    // same 8-bit code sim_topk_srp buckets on) × label — similar vectors
    // collide on it with probability (1 - angle/π)^8, so blocking preserves
    // recall on near-duplicates. The previous key (vec_id % 16) was a row-id
    // shard: ~15/16 of genuine near-dup pairs landed in different shards and
    // were never compared. SimilaritySpec pins the recall win on a planted
    // near-dup set.
    // Scale law: the 2^8 code space is CONSTANT, so bucket occupancy — and
    // the within-bucket quadratic verify — grows linearly with the corpus
    // (measured: 2.9× at 10× data even under --grow-blocks, SCALE.md). The
    // at-scale remedy is growing the PLANE COUNT with the corpus (16 planes
    // → 65k buckets, 24 → 16M): code space should track corpus size so
    // per-bucket membership stays bounded — the same knob IVF turns via
    // k (cell count), at one extra sign-bit column per added plane. ----
    "sim_pairs_block" -> ((s, d) =>
      blockedDupPairs(s, d).orderBy(col("vec_a"), col("vec_b"))),

    // ---- SemDeDup-style semantic dedup over the embedding lake: the
    // blocked cosine-verified near-dup pairs above become an undirected
    // duplicate graph, connected components (Dedup's pointer-jumping
    // min-label propagation — O(log diameter) rounds of hash joins)
    // collapse transitively-linked vectors into one semantic cluster, and
    // the cluster minimum is kept as the canonical representative. This is
    // the embedding twin of dedup_keep_canonical: the materialization a
    // training pipeline filters on when pruning semantically redundant
    // documents (Abbas et al., "SemDeDup", 2023 — pairs over a blocked
    // candidate space, never all-pairs). Scale shape: pair generation is
    // the (label, code) equi-join; each CC round shuffles (node, label)
    // pairs; the final labels join back to the lake row-for-row. ----
    "sim_semantic_dedup" -> ((s, d) => {
      val pairs = blockedDupPairs(s, d)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      val labels = Dedup.connectedComponents(pairs)
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
      Tables.embeddings(s, d).select(col("vec_id"), col("label"))
        .join(labels, Seq("vec_id"), "left")
        .select(col("vec_id"), col("label"),
          coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"))
        .withColumn("keep", col("vec_id") === col("cluster_id"))
        .orderBy(col("vec_id"))
    }),

    // ---- STREAMING SemDeDup: the semantic-dedup'd embedding LAKE a
    // continuous ingest maintains
    // ([[graft.streaming.StreamRunner.semanticIngestToWarehouse]] — SRP
    // coding over frozen planes, within-batch exact collapse, cross-lake
    // (label, code)-blocked cosine drop, gated publish into a
    // code-partitioned lake). The fixture replays the REAL ingest body
    // over three vec_id % 3 slices; the oracle replays the whole sliced
    // ingest from scratch — per-batch exact canon, then the block-join
    // drop against the accumulated survivors — so a replay double-drop,
    // a missed cross-batch semantic dup, or a code drift all flip rows.
    // Scale: the serve is one lake scan; ingest cost per batch is one
    // coding pass + a code-pruned asymmetric join (see the sink's
    // scaladoc). ----
    "sim_semdedup_serve" -> ((s, d) => {
      val p = SemanticLakeFixture.build(s, d)
      semanticLakeProjection(SemanticLakeFixture.wh.read(s, p))
    }),

    // ---- the COMPACTED semantic lake: per-(code, batch) fragments
    // rewritten as ONE code-partitioned versioned generation
    // ([[graft.streaming.StreamRunner.compactSemantic]] — rows pass
    // through unchanged, block-pruned reads survive the rewrite) and the
    // same projection served from the pinned snapshot. The oracle is the
    // SAME from-scratch sliced-ingest replay as sim_semdedup_serve —
    // compacted == live == from-scratch is the layout-only-rewrite
    // proof. ----
    "sim_semdedup_compacted" -> ((s, d) => {
      val p = SemanticLakeFixture.compact(s, d)
      semanticLakeProjection(
        SemanticLakeFixture.wh.readVersion(s, s"${p}_serve"))
    }),

    // ---- top-k retrieval over the DEDUPLICATED lake — the user-facing
    // read of a SemDeDup'd embedding store: brute cosine top-10 for the
    // query vector against the compacted semantic lake, so results are
    // relevant AND free of the near-duplicates the ingest dropped
    // (sim_topk_brute over raw embeddings returns dup clusters; this
    // can't). The oracle composes the survivor replay with the same
    // scored top-k, so an over- or under-deduplicated lake changes
    // which neighbors exist and flips the hash. ----
    "sim_semdedup_topk" -> ((s, d) => {
      val p = SemanticLakeFixture.compact(s, d)
      val q = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      SemanticLakeFixture.wh.readVersion(s, s"${p}_serve")
        .filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
        .select(col("vec_id"), col("label"), col("cos_sim"))
        .orderBy(desc("cos_sim"), col("vec_id"))
        .limit(10)
    }),

    // ---- the streamed IVF lake, compacted and served: three sliced
    // ingest batches assigned against the frozen 8-centroid set, the
    // (cell, ingest_batch) fragments rewritten as one cell-partitioned
    // generation (compactBlockedLake's `cell` instantiation), the
    // snapshot read back pinned. The oracle re-derives every argmax
    // assignment AND each row's batch id from scratch — sim_ivf_ingest's
    // arithmetic over the whole lake. ----
    "sim_ivf_lake_compacted" -> ((s, d) => {
      val p = IvfLakeFixture.compact(s, d)
      IvfLakeFixture.wh.readVersion(s, s"${p}_serve")
        .select(col("vec_id"), col("cell").cast("bigint").as("cell"),
          round(col("cs"), 6).as("cos_sim"),
          col("ingest_batch").cast("bigint").as("ingest_batch"))
        .orderBy(col("vec_id"))
    }),

    // ---- the HYBRID semantic-lake serve: snapshot + live tail — the
    // read shape while ingest keeps running. The fixture compacts AND
    // fully vacuums MID-STREAM (after batch 1 of 3), so batches 0–1
    // exist only inside the pinned generation, batch 2 only in the live
    // tail, and batch 2's own ingest-time match join had to find its
    // cross-lake dups through the snapshot. The oracle is the SAME
    // whole-ingest replay as sim_semdedup_serve — fresh rows visible
    // through the tail, vacuumed rows through the snapshot, no loss and
    // no double count across the fold boundary. ----
    "sim_semdedup_hybrid" -> ((s, d) => {
      val p = SemanticLakeHybridFixture.build(s, d)
      semanticLakeProjection(graft.streaming.StreamRunner.hybridLakeRead(
        s, SemanticLakeHybridFixture.wh, p, s"${p}_serve"))
    }),

    // ---- the HYBRID IVF-lake serve: same snapshot+tail contract over
    // the cell-partitioned lake (compact + full vacuum after batch 1,
    // batch 2 through the tail); oracle = the sim_ivf_lake_compacted
    // from-scratch re-derivation, verbatim. ----
    "sim_ivf_lake_hybrid" -> ((s, d) => {
      val p = IvfLakeHybridFixture.build(s, d)
      graft.streaming.StreamRunner.hybridLakeRead(
          s, IvfLakeHybridFixture.wh, p, s"${p}_serve")
        .select(col("vec_id"), col("cell").cast("bigint").as("cell"),
          round(col("cs"), 6).as("cos_sim"),
          col("ingest_batch").cast("bigint").as("ingest_batch"))
        .orderBy(col("vec_id"))
    }),

    // ---- INDEXED top-k over the DEDUPLICATED lake: the IVF serving
    // layout composed over the SemDeDup survivors — the compacted lake
    // cell-assigned against the frozen 8-centroid set and published as a
    // cell-partitioned `_cells` generation (maintenance-time work), so
    // the serve probes ONE cell directory of survivors: the query's cell
    // comes from the same literal-centroid argmax (a bounded 1-row
    // collect, the ledger idiom) and lands as a LITERAL partition filter.
    // sim_semdedup_topk is the brute full-scan twin; this is the 100 TB
    // read shape. The oracle composes the survivor replay with the same
    // cell assignment and pruned top-k. ----
    "sim_semdedup_topk_ivf" -> ((s, d) => semdedupTopkIvf(s, d, nprobe = 1)),

    // ---- the MULTIPROBE form: the query's top-2 cells as a 2-literal
    // `isin` partition filter (the sim_topk_srp_multiprobe recall knob
    // applied to the deduplicated lake) — recall recovered from the
    // single-probe split-neighborhood miss at 2× the pruned read, still
    // never a lake scan. ----
    "sim_semdedup_topk_ivf2" -> ((s, d) => semdedupTopkIvf(s, d, nprobe = 2)),

    // ---- the FRESH indexed serve: snapshot-cells + on-the-fly tail —
    // the staleness gap of a pinned `_cells` generation closed the same
    // way the hybrid lake serves close theirs. The probe reads the
    // pinned cell directory (batches folded so far) UNION the live tail
    // partitions above the snapshot watermark, cell-assigned on the fly
    // by the same literal-centroid projection the maintenance job runs —
    // tail rows cost one narrow assignment each, and only probe-cell
    // matches survive the filter. Built on the HYBRID fixture (cells
    // derive from the mid-stream snapshot, batch 2 exists only in the
    // tail), so a serve that forgot the tail OR double-read the overlap
    // flips the oracle — which is sim_semdedup_topk_ivf's whole-survivor
    // re-derivation, verbatim. ----
    "sim_semdedup_topk_ivf_fresh" -> ((s, d) =>
      semdedupTopkIvfFresh(s, d, nprobe = 1)),

    // ---- the MULTIPROBE × FRESH composition — the production reader's
    // shape: the query's top-2 cells as a 2-literal `isin` partition
    // filter over the pinned `_cells` generation, UNION the live tail
    // above the persisted watermark assigned on the fly and filtered to
    // the same two cells. Closes the last staleness × recall gap: _ivf2
    // reads the pinned generation only, _fresh probes one cell — this
    // serves both knobs at once, still never a lake scan. Same
    // whole-survivor oracle as the pinned multiprobe twin. ----
    "sim_semdedup_topk_ivf2_fresh" -> ((s, d) =>
      semdedupTopkIvfFresh(s, d, nprobe = 2)),

    // ---- the recall ladder over the FRESH serves (the hybrid fixture:
    // batch 2 reachable only through the tail): per nprobe ∈ {1, 2},
    // |fresh top-10 ∩ brute top-10| — proves tail rows are REACHABLE at
    // serve time and prices the probe knob on the snapshot∪tail shape.
    // The oracle re-derives all three top-k sets from the survivor
    // replay under the frozen quantizer. ----
    "sim_semdedup_recall_fresh" -> ((s, d) => {
      // cached: the brute top-10 (a <=10-row lake-scan result) feeds BOTH
      // nprobe branches of the union — one brute evaluation, not two;
      // the candidate set likewise evaluates ONCE at nprobe=2 (cached,
      // narrow, probe-bounded) and both branches derive from it
      val brute = queries("sim_semdedup_topk")(s, d).select(col("vec_id")).cache()
      recallLadder(brute, semdedupTopkIvfFreshCand(s, d, 2).cache())
    }),

    // ---- the RETRAINED fresh serves: `_cells` rebuilt at FULL-FOLD
    // time with a survivor-trained quantizer whose id rides the
    // generation's sidecar; the serve selects probe ranking AND the
    // on-the-fly tail assignment by that id. Closes r17's "hybrid/fresh
    // serves never benefit from training" gap: the retrain happens in
    // the one window where it is sound (tail empty — nothing on the fly
    // can disagree with the pinned generation). ----
    "sim_semdedup_topk_ivf_rt" -> ((s, d) =>
      semdedupTopkIvfRetrained(s, d, nprobe = 1)),
    "sim_semdedup_topk_ivf2_rt" -> ((s, d) =>
      semdedupTopkIvfRetrained(s, d, nprobe = 2)),
    // the recall ladder over the retrained serves (the hybrid-shaped
    // fixture: batch 2 reachable only through the trained-assigned tail)
    "sim_semdedup_recall_rt" -> ((s, d) => {
      // one brute evaluation + one nprobe=2 candidate evaluation feed
      // both ladder branches (see sim_semdedup_recall_fresh)
      val brute = queries("sim_semdedup_topk")(s, d).select(col("vec_id")).cache()
      recallLadder(brute, semdedupTopkIvfRetrainedCand(s, d, 2).cache())
    }),

    // ---- the K-SCALED pinned serves: k = chooseK(|survivors|) (√N
    // floored to a power of two — 16 at sf0.01) instead of the fixed
    // seed 8; k rides the generation's sidecar. The k×nprobe panel
    // table in SCALE.md is what justifies the rule. ----
    "sim_semdedup_topk_ivf_autok" -> ((s, d) =>
      semdedupTopkIvfAutoK(s, d, nprobe = 1)),
    "sim_semdedup_topk_ivf2_autok" -> ((s, d) =>
      semdedupTopkIvfAutoK(s, d, nprobe = 2)),
    // the CHOSEN serve configuration from the k×nprobe panel: finer
    // quantizer + probes scaled to hold the read fraction — k=16@4
    // probes reads the same ~1/4 of the lake as k=8@2 but measures
    // 58.6% vs 45.7% panel recall (SCALE.md table)
    "sim_semdedup_topk_ivf4_autok" -> ((s, d) =>
      semdedupTopkIvfAutoK(s, d, nprobe = 4)),
    "sim_semdedup_recall_autok" -> ((s, d) => {
      // one brute evaluation + one nprobe=2 candidate evaluation feed
      // both ladder branches (see sim_semdedup_recall_fresh)
      val brute = queries("sim_semdedup_topk")(s, d).select(col("vec_id")).cache()
      recallLadder(brute, semdedupTopkIvfAutoKCand(s, d, 2).cache())
    }),

    // ---- the recall eval pinning the indexed serves against the brute
    // twin (the dedup_lsh_recall pattern): per nprobe ∈ {1, 2},
    // |IVF top-10 ∩ brute top-10| over the same deduplicated lake.
    // Probe-bounded recall is approximate BY DESIGN (neighbors outside
    // the probed cells are unreachable); these rows make the
    // recall-vs-read trade a MEASURED ladder — under the TRAINED
    // quantizer the vec-0 query reads 4/10@1, 5/10@2 (the frozen set
    // happened to score 5/10@1 on this one neighborhood; single-query
    // recall is a noisy estimator, which is exactly what
    // sim_semdedup_recall_panel exists to settle) — and the oracle
    // re-derives all three top-k sets from the survivor replay
    // INCLUDING the training rounds. ----
    "sim_semdedup_recall" -> ((s, d) => {
      // one brute evaluation + one nprobe=2 candidate evaluation feed
      // both ladder branches (see sim_semdedup_recall_fresh)
      val brute = queries("sim_semdedup_topk")(s, d).select(col("vec_id")).cache()
      recallLadder(brute, semdedupTopkIvfCand(s, d, 2).cache())
    }),

    // ---- the recall PANEL — the A/B that justifies TRAINING the coarse
    // quantizer: single-query recall (sim_semdedup_recall) measures one
    // neighborhood and is noisy, so this eval averages recall at
    // nprobe ∈ {1, 2} over a deterministic panel of survivor queries
    // (vec_id % 37 = 0) under BOTH quantizers — the frozen seed set and
    // the survivors-trained set the `_cells` generation actually uses.
    // Measured at sf0.01: nprobe=1 trained 41/140 vs frozen 31/140
    // brute-top-10 hits (the panel is why the pinned serves train);
    // nprobe=2 trained 64 vs frozen 65 — the second probe closes the
    // frozen set's gap, so training pays off exactly at the cheapest
    // read. Scale shape:
    // the panel is CAPPED at 16 queries (the 16 smallest matching
    // vec_ids — a % slice alone would grow with the lake and take the
    // eval quadratic; measured 17× at 100× data before the cap), so
    // the scored candidate set is |lake| × 16 narrow rows off one
    // broadcast cross join — a maintenance-time eval, never a
    // serve-path read. ----
    "sim_semdedup_recall_panel" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val p = SemanticLakeFixture.cells(s, d)
      val wh = SemanticLakeFixture.wh
      val lake = wh.readVersion(s, s"${p}_serve")
        .select(col("vec_id"), col("embedding"))
      val qs = lake.filter(col("vec_id") % 37 === 0)
        .orderBy(col("vec_id")).limit(16)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
      // cached: the |lake|×16 panel score set feeds the brute ranking AND
      // the fused ladder below — without the cache each consumer re-runs
      // the full lake×panel cosine cross join (the same discipline
      // quantizerKPanel applies). The cached rows are narrow
      // (qid, vec_id, cs).
      val sc = lake.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cs", round(cosine(s, "embedding", "q_emb"), 6))
        .select(col("qid"), col("vec_id"), col("cs"))
        .cache()
      val byQ = Window.partitionBy(col("qid")).orderBy(desc("cs"), col("vec_id"))
      // cached: brute feeds n_total plus the fused ladder's hit flags
      val brute = sc.withColumn("rn", row_number().over(byQ))
        .filter(col("rn") <= 10).select(col("qid"), col("vec_id")).cache()
      val nTotal = brute.agg(count(lit(1)).cast("bigint").as("n_total"))
      graft.plans.GraftExtensions.ensureRegistered(s)
      // ONE fused ladder pipeline for all four (quantizer × nprobe)
      // branches (was: one join+window+semi-join+agg subtree per branch,
      // 4 total): candidate rows from both quantizers union under a tag;
      // ONE window pass computes each row's rank in the nprobe=2
      // candidate set (rn2 — row_number) AND its rank within the crn=1
      // subset (rn1 — a running count of crn=1 rows in the same (cs DESC,
      // vec_id) order, which for a crn=1 row is exactly its row_number in
      // the nprobe=1 candidate set, the crn=1 rows); ONE aggregate then
      // counts brute hits at both probe widths per quantizer
      // (guide §1.2/§2.4 — one pass, shared exchanges).
      def tagged(tag: String, cells: DataFrame,
          cent: DataFrame): (DataFrame, DataFrame) = {
        val byQc = Window.partitionBy(col("qid")).orderBy(desc("qcs"), col("k"))
        val qcells = qs.crossJoin(broadcast(cent))
          .withColumn("qcs",
            call_function("graft_cosine", col("q_emb"), col("c_emb")))
          .withColumn("crn", row_number().over(byQc))
          .filter(col("crn") <= 2)
          .select(lit(tag).as("quantizer"), col("qid"),
            col("k").as("q_cell"), col("crn"))
        (cells.select(lit(tag).as("quantizer"), col("vec_id"), col("cell")),
          qcells)
      }
      import s.implicits._
      val frozenCells = lake.select(col("vec_id"),
        cellAssignExpr(s, frozenCentroids(s, d))._1)
      val frozenCent = frozenCentroids(s, d).toDF("k", "c_emb")
      val trainedCells = wh.readVersion(s, s"${p}_cells")
        .select(col("vec_id"), col("cell").cast("bigint").as("cell"))
      val trainedCent = trainedCentroids(s, d, wh, p).toDF("k", "c_emb")
      val (fc, fq) = tagged("frozen", frozenCells, frozenCent)
      val (tc, tq) = tagged("trained", trainedCells, trainedCent)
      val byQT = Window.partitionBy(col("quantizer"), col("qid"))
        .orderBy(desc("cs"), col("vec_id"))
      val ranked = sc
        .join(fc.unionByName(tc), Seq("vec_id"))
        .join(fq.unionByName(tq), Seq("quantizer", "qid"))
        .filter(col("cell") === col("q_cell"))
        .select(col("quantizer"), col("qid"), col("vec_id"), col("cs"),
          col("crn"))
        .withColumn("rn2", row_number().over(byQT))
        .withColumn("rn1", sum(when(col("crn") === 1, 1).otherwise(0))
          .over(byQT.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      val hits = ranked
        .join(brute.withColumn("__hit", lit(1)), Seq("qid", "vec_id"), "left")
        .groupBy(col("quantizer"))
        .agg(
          sum(when(col("crn") === 1 && col("rn1") <= 10 &&
            col("__hit").isNotNull, 1).otherwise(0)).cast("bigint").as("h1"),
          sum(when(col("rn2") <= 10 && col("__hit").isNotNull, 1)
            .otherwise(0)).cast("bigint").as("h2"))
      // seed both quantizer rows so an empty candidate branch still
      // reports n_hit = 0, exactly as the per-branch global aggregates
      // (which always emitted a row) did
      Seq("frozen", "trained").toDF("quantizer")
        .join(hits, Seq("quantizer"), "left")
        .select(col("quantizer"), explode(array(
          struct(lit(1L).as("nprobe"),
            coalesce(col("h1"), lit(0L)).as("n_hit")),
          struct(lit(2L).as("nprobe"),
            coalesce(col("h2"), lit(0L)).as("n_hit")))).as("r"))
        .select(col("quantizer"), col("r.nprobe").as("nprobe"),
          lit(10L).as("k"), col("r.n_hit").as("n_hit"))
        .crossJoin(nTotal)
        .orderBy(col("quantizer"), col("nprobe"))
    }),

    // ---- the SemDeDup production capstone, fused end-to-end: semantic
    // keeper filter (blocked pairs → components → drop non-canonical
    // cluster members) → quality gate (n_chars ≥ 100) → contamination-safe
    // content-hash split → per-split corpus accounting. The embedding and
    // document lakes share the id space (vec_id = doc_id, the fixture's
    // convention); the drop list is cluster-members-minus-keepers — tiny
    // relative to the lake, so the anti join broadcasts. Catalyst fuses
    // the gate + split + rollup into the scan side; the graph stages are
    // the same checkpointed rounds as sim_semantic_dedup. ----
    "pipe_semantic_e2e" -> ((s, d) => {
      val pairs = blockedDupPairs(s, d)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      val drops = Dedup.connectedComponents(pairs)
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id"))
      // explicit broadcast: the drop list descends from a checkpointed RDD,
      // so Catalyst has no size estimate and would plan a sort-merge anti
      // join that shuffles the LAKE; the list is cluster-members-minus-
      // keepers — dimension-sized by construction
      Tables.documents(s, d)
        .join(broadcast(drops), Seq("doc_id"), "left_anti")
        .filter(col("n_chars") >= 100)
        .withColumn("bucket",
          pmod(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long"),
            lit(100L)))
        .withColumn("split",
          when(col("bucket") < 80, lit("train"))
            .when(col("bucket") < 90, lit("val")).otherwise(lit("test")))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("total_chars"))
        .orderBy(col("split"))
    }),

    // ---- near-dup threshold sweep: pair and affected-doc counts at each
    // candidate cosine cut (0.10/0.25/0.50/0.75) from ONE blocked pair
    // list — the tuning report a curator reads before committing a dedup
    // threshold, instead of re-running the pair join per candidate value.
    // The pair list is the bounded blocked-candidate output; the
    // threshold table is 4 literal rows (broadcast), so the sweep adds
    // two partial-agg'd group-bys over pairs — no new quadratic work at
    // any SF. floor() before the x100 integer cast on BOTH engines
    // (Spark truncates double→int, DuckDB rounds). ----
    "sim_threshold_sweep" -> ((s, d) => {
      import s.implicits._
      val p = blockedDupPairs(s, d, minCos = 0.10)
        .select(col("vec_a"), col("vec_b"),
          floor(col("cos_sim") * 100).cast("bigint").as("cs100"))
      val taus = Seq(10L, 25L, 50L, 75L).toDF("tau_x100")
      val j = p.join(broadcast(taus), col("cs100") >= col("tau_x100"))
      val nPairs = j.groupBy(col("tau_x100"))
        .agg(count(lit(1)).as("n_pairs"))
      val nDocs = j
        .select(col("tau_x100"),
          explode(array(col("vec_a"), col("vec_b"))).as("v"))
        .groupBy(col("tau_x100"))
        .agg(countDistinct(col("v")).as("n_docs"))
      // the per-tau aggregates are ≤4 rows each — keep the recombination
      // joins broadcast so no exchange outlives the two partial-agg'd
      // group-bys
      taus.join(broadcast(nPairs.join(broadcast(nDocs), Seq("tau_x100"))),
          Seq("tau_x100"), "left")
        .select(col("tau_x100"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"))
        .orderBy(col("tau_x100"))
    }),

    // ---- the retrieval capstone: multi-query ANN search joined back to
    // the document lake — "for each query embedding, the 5 nearest
    // documents with their metadata", i.e. the serving-shape output of a
    // RAG / nearest-neighbor-audit pipeline. The 3 query vectors broadcast
    // into one embarrassingly-parallel scored scan; per-query top-k runs
    // as graft_topk (bounded-buffer partial agg — mappers emit ≤k rows
    // per query, no global sort, no SinglePartition window); the 15
    // winners broadcast into the documents join, so the lake is scanned
    // exactly once end-to-end and never shuffled. ----
    "pipe_ann_e2e" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      val e = Tables.embeddings(s, d)
      val qs = e.filter(col("vec_id").isin(0L, 9L, 10L))
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val top = e.filter(col("vec_id") > 10)
        .crossJoin(broadcast(qs))
        .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
        .groupBy(col("query_id"))
        .agg(call_function("graft_topk",
          col("cos_sim"), col("vec_id"), lit(5)).as("top"))
        .select(col("query_id"), posexplode(col("top")))
        .select(col("query_id"), (col("pos") + 1).cast("bigint").as("rank"),
          col("col.id").as("doc_id"), col("col.score").as("cos_sim"))
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .join(broadcast(top), Seq("doc_id"))
        .select(col("query_id"), col("rank"), col("doc_id"), col("cos_sim"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- retrieval-quality eval: MEASURED recall@5 + reciprocal rank of
    // the nprobe=1 IVF-cell retrieval path against exhaustive exact
    // top-5, per query — the continuous-eval report a serving pipeline
    // runs on a sampled query set to catch index-quality drift (the
    // retrieval twin of sim_recall_report's pair-blocking audit). On the
    // fixture it surfaces the classic single-probe failure: one query's
    // true neighbors live in an adjacent cell (recall 0) — exactly the
    // signal that says raise nprobe or retrain centroids. ONE scored
    // scan feeds BOTH rankings: two graft_topk aggregates in one
    // groupBy, the pruned one null-gated on the cell match (the
    // aggregate skips null scores), so the eval costs a single pass and
    // bounded top-k state per query. All outputs are exact integers
    // (x100 / x1000 DIV forms). ----
    "sim_eval_retrieval" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d)
      val cent = e.filter(col("vec_id").between(1, 8))
        .select(col("vec_id").as("k"), col("embedding").as("c_emb"))
      val byVec = Window.partitionBy(col("vec_id")).orderBy(desc("cs"), col("k"))
      val cells = e.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(cent))
        .withColumn("cs", cosine(s, "embedding", "c_emb"))
        .withColumn("rn", row_number().over(byVec))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("k").as("cell"))
      val qs = e.join(cells, "vec_id")
        .filter(col("vec_id").isin(0L, 9L, 10L))
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("cell").as("q_cell"))
      e.join(cells, "vec_id")
        .filter(col("vec_id") > 10)
        .crossJoin(broadcast(qs))
        .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
        .groupBy(col("query_id"))
        .agg(
          call_function("graft_topk",
            col("cos_sim"), col("vec_id"), lit(5)).as("exact_top"),
          call_function("graft_topk",
            when(col("cell") === col("q_cell"), col("cos_sim")),
            col("vec_id"), lit(5)).as("approx_top"))
        .select(col("query_id"),
          expr("transform(exact_top, x -> x.id)").as("exact_ids"),
          expr("transform(approx_top, x -> x.id)").as("approx_ids"))
        .select(col("query_id"),
          size(col("exact_ids")).cast("bigint").as("n_exact"),
          expr("CAST(size(array_intersect(approx_ids, exact_ids)) AS BIGINT)")
            .as("n_overlap"),
          expr("CAST(array_position(approx_ids, try_element_at(exact_ids, 1)) AS BIGINT)")
            .as("rank1"))
        .select(col("query_id"), col("n_exact"), col("n_overlap"),
          expr("n_overlap * 100 div n_exact").as("recall_x100"),
          expr("CAST(CASE WHEN rank1 = 0 THEN 0 ELSE 1000 div rank1 END AS BIGINT)")
            .as("rr_x1000"))
        .orderBy(col("query_id"))
    }),

    // ---- blocking-recall audit: MEASURED recall of the (label × SRP-code)
    // blocking strategy against exhaustive same-label ground truth on a
    // deterministic 10% sample (vec_id % 10 = 0) — the tuning loop for the
    // plane count (more planes → fewer candidates, lower recall). The
    // audit band is cos ≥ 0.10, wider than the 0.25 production threshold,
    // so recall is measured across the borderline region where blocking
    // actually loses pairs. The exhaustive side is quadratic IN THE SAMPLE
    // only (a policy constant, not the lake), and even there it is a label
    // equi-join, never a cartesian. recall_x10000 is integer-exact. ----
    "sim_recall_report" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      val planes = srpPlanes(s, d)
      val sample = Tables.embeddings(s, d).filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"), col("label"),
          srpCodeCol(planes).as("code"), col("embedding"))
      val a = sample.as("a")
      val b = sample.as("b")
      val truth = a.join(b,
          col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos_sim", round(cosine(s, "a.embedding", "b.embedding"), 6))
        .filter(col("cos_sim") >= 0.10)
        .select((col("a.code") === col("b.code")).as("caught"))
      truth.agg(
          count(lit(1)).as("n_true"),
          sum(when(col("caught"), 1L).otherwise(0L)).cast("bigint").as("n_caught"))
        .crossJoin(broadcast(sample.agg(count(lit(1)).as("n_sample"))))
        .select(col("n_sample"), col("n_true"), col("n_caught"),
          expr("CAST(CASE WHEN n_true > 0 THEN (10000 * n_caught) DIV n_true " +
            "ELSE 10000 END AS BIGINT)").as("recall_x10000"))
    }),

    // ---- int8 symmetric quantization of the embedding lake: per vector,
    // scale = max|x| and q_i = floor(x_i·127/scale + 0.5) — the standard
    // 4× shrink before ANN (int8 SIMD distance, quarter the scan bytes).
    // A narrow shuffle-free projection. Portability: max over elements is
    // order-independent and exact; the quantize expression is the same
    // IEEE op sequence on both engines; floor(x + 0.5) instead of round()
    // because half-up vs half-away conventions differ on NEGATIVE halves.
    // The output pins the full quantization via integer-exact digests
    // (q_sum/q_min/q_max) + the reconstruction-error bound, without
    // hash-comparing raw arrays. Zero vectors quantize to all-zero
    // (guarded identically in the oracle) instead of Inf/ANSI-cast crash. ----
    "sim_quantize_int8" -> ((s, d) => {
      Tables.embeddings(s, d)
        .withColumn("scale",
          expr("array_max(transform(embedding, v -> abs(CAST(v AS DOUBLE))))"))
        .withColumn("qv", expr(
          """IF(scale = 0.0D,
            |  transform(embedding, v -> 0L),
            |  transform(embedding, v ->
            |    CAST(floor(CAST(v AS DOUBLE) * CAST(127 AS DOUBLE) / scale + 0.5D) AS BIGINT)))"""
            .stripMargin))
        .select(col("vec_id"),
          round(col("scale"), 6).as("scale_r"),
          expr("aggregate(qv, 0L, (a, v) -> a + v)").as("q_sum"),
          expr("CAST(array_min(qv) AS BIGINT)").as("q_min"),
          expr("CAST(array_max(qv) AS BIGINT)").as("q_max"),
          expr(
            """round(array_max(zip_with(embedding, qv, (x, q) ->
              |  abs(CAST(x AS DOUBLE) - (CAST(q AS DOUBLE) * scale) / CAST(127 AS DOUBLE)))), 6)"""
              .stripMargin).as("max_err"))
        .orderBy(col("vec_id"))
    }),

    // ---- product quantization + asymmetric distance (PQ-ADC): the
    // codes-only ANN scan that completes the ladder (brute → bucketed →
    // IVF → SRP → int8 → PQ). 64 dims split into 4×16-dim subspaces;
    // per subspace the codebook is the 8 deterministic seed vectors'
    // subvectors (vec_ids 1..8 — same convention as IVF's coarse
    // centroids). Encode = argmin L2² per subspace (ties → smaller k);
    // ADC = Σ_m dtab[m][code_m] where dtab is the query's 32-entry
    // distance table. At scale: codes are 4 small ints per vector
    // (persisted once — here computed inline), dtab is a broadcast
    // 32-row lookup, and the scan never touches raw vectors; top-k is
    // TakeOrderedAndProject. Portability: L2² is a sequential
    // zip_with→aggregate fold (bit-identical to list_reduce), and the
    // final 4-term sum is spelled in FIXED m order on both engines —
    // a sum() over collected doubles would be partition-order
    // dependent. ----
    "sim_topk_pq" -> ((s, d) =>
      pqAdcScores(s, d)
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(10)),

    // ---- the SERVING path of PQ: codes are a PERSISTED lake artifact
    // (built once per corpus fingerprint via the Artifacts
    // contract — at 100 TB the ingest batch appends its own code rows),
    // and the probe reads ONLY the codes table: 4 small ints per vector,
    // raw embeddings never opened at query time. sim_topk_pq computes
    // codes inline (the build-time demo); this is what the steady-state
    // query actually scans. Same oracle as sim_topk_pq — the artifact is
    // bit-deterministic. ----
    "sim_topk_pq_artifact" -> ((s, d) => {
      val codes = Artifacts.table(s, d, "embeddings", "pq_codes")(
        pqCodes(s, d))
      pqAdcFrom(s, d, codes)
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(10)
    }),

    // ---- Matryoshka SERVING — the index shrink `sim_matryoshka_eval`
    // exists to justify, actually cashed in: the 16-dim PREFIX SLICE of
    // every embedding is a PERSISTED lake artifact (the
    // sim_topk_pq_artifact precedent: built once per corpus fingerprint,
    // read back as a parquet scan), and the probe serves top-k from the
    // slice table alone — the raw 64-dim vectors are never re-read at
    // query time, a 4× cut in index bytes scanned and shuffled per query.
    // Dim 16 is the eval's knee (recall@10 vs dims row for dim=16);
    // restoring exactness for the tail is the rerank pattern
    // (sim_topk_pq_rerank) applied on top when recall@16 isn't enough.
    // Same fp determinism as sim_topk_brute: float32 slices round-trip
    // parquet losslessly, the fused graft_cosine fold matches DuckDB's
    // list_reduce order, and round(…, 6) + vec_id tiebreak pin the
    // ordering. ----
    "sim_topk_m16" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      val slices = m16Slices(s, d)
      val q = slices.filter(col("vec_id") === 0).select(col("m16").as("q_m16"))
      slices.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos_sim",
          round(call_function("graft_cosine", col("m16"), col("q_m16")), 6))
        .select(col("vec_id"), col("label"), col("cos_sim"))
        .orderBy(desc("cos_sim"), col("vec_id"))
        .limit(10)
    }),

    // ---- the two-stage Matryoshka serve — sim_topk_pq_rerank's pattern
    // on the slice index: stage 1 scans ONLY the persisted 16-dim
    // artifact for a 50-candidate shortlist (¼ the bytes of a full-dim
    // scan), stage 2 point-looks-up full vectors for the 50 survivors
    // (broadcast id semi) and re-ranks with the exact 64-dim cosine —
    // recall lost to truncation is restored on exactly the rows that
    // matter. At 100 TB the full-vector lake is touched for 50 rows per
    // query, never scanned. ----
    "sim_topk_m16_rerank" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      val slices = m16Slices(s, d)
      val q16 = slices.filter(col("vec_id") === 0).select(col("m16").as("q_m16"))
      val shortlist = slices.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q16))
        .withColumn("c16",
          round(call_function("graft_cosine", col("m16"), col("q_m16")), 6))
        .orderBy(desc("c16"), col("vec_id"))
        .limit(50)
        .select(col("vec_id"))
      val e = Tables.embeddings(s, d)
      val qf = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      e.join(broadcast(shortlist), "vec_id")
        .crossJoin(broadcast(qf))
        .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
        .select(col("vec_id"), col("label"), col("cos_sim"))
        .orderBy(desc("cos_sim"), col("vec_id"))
        .limit(10)
    }),

    // ---- IVF + PQ combined — the architecture a production vector store
    // actually runs (coarse quantizer prunes the lake to the probe cell,
    // PQ-ADC scores only that cell's CODES): assignment is the
    // sim_topk_ivf broadcast-argmax shape, then the sim_topk_pq ADC
    // engine runs with its scan base restricted to the query's cell. At
    // 100 TB the lake is partitioned by cell with codes persisted
    // per-partition, so one probe reads one cell's code file and never
    // touches raw vectors — recall is tuned by nprobe (here 1; the
    // multiprobe pattern is sim_topk_srp_multiprobe) and restored by the
    // rerank stage (sim_topk_pq_rerank). ----
    "sim_topk_ivfpq" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val cells = ivfCells(s, d)
      val qCell = cells.filter(col("vec_id") === 0).select(col("cell").as("q_cell"))
      val probe = e.join(cells, "vec_id")
        .join(broadcast(qCell), col("cell") === col("q_cell"))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), col("label"), col("embedding"))
      pqAdcScores(s, d, Some(probe))
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(10)
    }),

    // ---- the production two-stage ANN: PQ-ADC shortlist → exact re-rank.
    // Stage 1 is the codes-only ADC scan (raw vectors never read); stage 2
    // re-ranks ONLY the 50-candidate shortlist with the exact cosine —
    // broadcast the shortlist ids into the vector lake, so full vectors
    // are point-looked-up for 50 rows, not scanned. This is how a 100 TB
    // vector store serves queries: the ADC pass bounds recall loss, the
    // rerank pass restores exact ordering on the survivors; shortlist
    // depth (50 here for a top-10) is the recall/latency knob. ----
    "sim_topk_pq_rerank" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      val shortlist = pqAdcScores(s, d)
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(50)
        .select(col("vec_id"))
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      e.join(broadcast(shortlist), Seq("vec_id"))
        .crossJoin(broadcast(q))
        .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
        .select(col("vec_id"), col("label"), col("cos_sim"))
        .orderBy(desc("cos_sim"), col("vec_id"))
        .limit(10)
    }),

    // ---- hybrid retrieval with Reciprocal Rank Fusion: the production
    // search stack runs a LEXICAL ranker (term-frequency × linear idf,
    // all integer — the txt_tfidf weight family) and a VECTOR ranker
    // (exact cosine vs the query embedding) and fuses the two top-20
    // lists by RRF: score = Σ_side 1e6 DIV (60 + rank). Each side is ONE
    // narrow scan feeding a single-group graft_topk (bounded 20-entry
    // partial-agg state per mapper — no global sort, no vocabulary
    // shuffle: the 3 query terms are counted per doc with an array
    // filter, never an explode). The two 20-row rank lists join/fuse as
    // broadcast locals; the winners (10 rows) broadcast into the
    // documents metadata join. At 100 TB both sides stay two scans +
    // constant-state aggregation; RRF itself touches ≤ 40 rows. k=60 is
    // the standard RRF damping (Cormode/Clarke TREC'09 convention). ----
    "pipe_hybrid_rrf" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      val docs = Tables.documents(s, d)
      // lexical side: tf per doc for the 3 query terms, one projection
      val tfCols = hybridTerms.zipWithIndex.map { case (t, i) =>
        expr(s"CAST(size(filter(split(text, ' '), x -> x = '$t')) AS BIGINT)")
          .as(s"tf$i")
      }
      val lex = docs.filter(col("doc_id") =!= 0)
        .select(col("doc_id") +: tfCols: _*)
      val stats = lex.agg(
        count(lit(1)).as("n"),
        hybridTerms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
      // overflow bound: the idf term is ≤ (n+1)·1e6/2 (df ≥ 1 for any
      // scoring term), so tf × idf stays in Long up to ~1e10 docs; past
      // that, move the multiply to DECIMAL(38,0) exactly as
      // TextAnalysis.txt_vocab_coverage does. Separate exactness bound:
      // graft_topk takes the score as DOUBLE, which is exact only up to
      // 2^53 (~9e15) — at ~1e10 docs the score can exceed that and
      // distinct integer scores would collapse to the same double,
      // silently breaking ties differently from the integer order. At
      // that scale drop the 1e6 idf granularity (score DIV 1e6) before
      // the double cast; ranking is unchanged because the granularity is
      // a common factor.
      val lexScore = hybridTerms.indices.map(i =>
        col(s"tf$i") * expr(s"(n + 1) * CAST(1000000 AS BIGINT) DIV (df$i + 1)"))
        .reduce(_ + _)
      val lrank = lex.crossJoin(broadcast(stats))
        .withColumn("lex_score", lexScore)
        .filter(col("lex_score") > 0)
        .agg(call_function("graft_topk",
          col("lex_score").cast("double"), col("doc_id"), lit(20)).as("top"))
        .select(posexplode(col("top")))
        .select(col("col.id").as("doc_id"),
          (col("pos") + 1).cast("bigint").as("rank_lex"))
      // vector side: exact cosine vs the query embedding (vec 0)
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
      val vrank = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
        .agg(call_function("graft_topk",
          col("cos_sim"), col("vec_id"), lit(20)).as("top"))
        .select(posexplode(col("top")))
        .select(col("col.id").as("doc_id"),
          (col("pos") + 1).cast("bigint").as("rank_vec"))
      val fused = lrank.join(vrank, Seq("doc_id"), "full")
        .withColumn("rrf_x1e6",
          coalesce(expr("CAST(1000000 AS BIGINT) DIV (60 + rank_lex)"), lit(0L))
            + coalesce(expr("CAST(1000000 AS BIGINT) DIV (60 + rank_vec)"), lit(0L)))
        .select(col("doc_id"),
          coalesce(col("rank_lex"), lit(0L)).as("rank_lex"),
          coalesce(col("rank_vec"), lit(0L)).as("rank_vec"),
          col("rrf_x1e6"))
        .orderBy(desc("rrf_x1e6"), col("doc_id"))
        .limit(10)
      docs.select(col("doc_id"), col("lang"), col("source"))
        .join(broadcast(fused), Seq("doc_id"))
        .select(col("doc_id"), col("rank_lex"), col("rank_vec"),
          col("rrf_x1e6"), col("lang"), col("source"))
        .orderBy(desc("rrf_x1e6"), col("doc_id"))
    }),

    // ---- k-NN label classification eval: predict each held-out query
    // vector's label by majority vote of its 5 nearest neighbours (cosine,
    // rounded 6 dp; rank ties → smaller vec_id; vote ties → smaller
    // label — every tiebreak total, so the verdict is oracle-hashable).
    // This is the eval harness a labelled-embedding pipeline runs to
    // validate that its vector space separates classes (and, at serving
    // time, the label-propagation primitive itself). Queries are the FIXED
    // 20 lowest vec_ids — a constant-size probe set, so the scoring join
    // is |corpus|×20 against a broadcast — linear in the lake, never
    // quadratic; per-query state is the bounded top-5 window. At 100 TB
    // the same plan serves with the corpus side pruned by the IVF cell
    // lake (sim_topk_ivf) — brute force here because the eval wants
    // exact neighbours as ground truth. ----
    "sim_knn_classify" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"),
          col("label").as("true_label"))
      val byQ = Window.partitionBy(col("qid"))
        .orderBy(desc("cos_sim"), col("vec_id"))
      val top5 = e.filter(col("vec_id") >= 20)
        .crossJoin(broadcast(q))
        .withColumn("cos_sim", round(cosine(s, "embedding", "q_emb"), 6))
        .withColumn("rn", row_number().over(byQ))
        .filter(col("rn") <= 5)
      val byVote = Window.partitionBy(col("qid"))
        .orderBy(desc("votes"), col("label"))
      top5.groupBy(col("qid"), col("true_label"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("vr", row_number().over(byVote))
        .filter(col("vr") === 1)
        .select(col("qid").as("vec_id"), col("true_label"),
          col("label").as("pred_label"), col("votes"),
          (col("true_label") === col("label")).cast("int").as("correct"))
        .orderBy(col("vec_id"))
    }),

    // ---- margin-based bitext mining (Artetxe & Schwenk 2019, the
    // CCMatrix/LASER parallel-corpus miner): for a bounded batch of
    // source-side vectors (label 0, vec_id < 60 — the "new documents to
    // align" probe set), find each one's best target-side (label 1)
    // neighbour and score it by the DIFFERENCE margin — cos(a,b) minus
    // the mean of both endpoints' top-4 neighbourhoods — which suppresses
    // hub vectors that are everyone's nearest neighbour. All arithmetic
    // in SHIFTED integer micro-units (cos+1 scaled 1e6): sums stay
    // non-negative, so integer division truncates identically on both
    // engines (Spark DIV truncates toward zero, DuckDB // floors — equal
    // only for non-negatives), and the shift cancels exactly in the
    // margin. Scale: the probe batch broadcasts (the knn-classify
    // pattern); the target lake is scanned once per direction and BOTH
    // neighbourhoods are bounded `graft_topk` aggregates — each mapper
    // keeps a 4-row buffer per key and emits ≤ 4 rows into the shuffle
    // (map-side combine), so no task ever sorts a corpus-sized probe
    // partition (the round-10 plan stacked both rank windows and the
    // forward one funnelled |targets| rows through 60 sort tasks). The
    // topk buffer's (score DESC, id ASC) order is exactly the old
    // windows' (css DESC, tgt_id/src_id ASC), so the kept sets — and
    // every oracle hash — are unchanged. At 100 TB the target side
    // prunes by SRP/IVF cell exactly as the ANN ladder serves, brute
    // here because mining wants exact neighbourhoods as ground truth. ----
    // ---- Matryoshka truncation eval (Kusupati et al. 2022, MRL): does
    // the embedding's PREFIX at 8/16/32 dims preserve the full-64-dim
    // neighbourhood? For the 10 fixed probes, recall@10 of each
    // truncated-cosine top-10 against the full-dim top-10 — the
    // measurement that licenses serving truncated vectors (4-8× less
    // index memory and bandwidth) at a known recall cost. One corpus
    // scan computes ALL four cosines (sliced sequential folds, rounded
    // 6 dp — the sim-family determinism convention); all four top-10s
    // are bounded graft_topk aggregates off that single pass (map-side
    // 10-row buffers — no rank window, no second scan); intersections
    // are array HOFs over 10-element lists. At 100 TB the same plan runs
    // over a probe sample with the corpus side pruned by the IVF lake —
    // brute here because the eval wants exact neighbourhoods. ----
    "sim_matryoshka_eval" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
      def cosAt(dim: Int) = round(call_function("graft_cosine",
        expr(s"slice(embedding, 1, $dim)"), expr(s"slice(q_emb, 1, $dim)")), 6)
      val scored = e.filter(col("vec_id") >= 10)
        .crossJoin(broadcast(probes))
        .select(col("qid"), col("vec_id"),
          cosAt(8).as("c8"), cosAt(16).as("c16"),
          cosAt(32).as("c32"), cosAt(64).as("c64"))
      def topk(c: String) =
        call_function("graft_topk", col(c), col("vec_id"), lit(10)).as(s"t$c")
      val tops = scored.groupBy(col("qid"))
        .agg(topk("c8"), topk("c16"), topk("c32"), topk("c64"))
      def hitsAt(dim: Int) = expr(
        s"size(filter(tc$dim, x -> exists(tc64, y -> y.id = x.id)))").cast("long")
      val perQ = tops.select(
        hitsAt(8).as("h8"), hitsAt(16).as("h16"), hitsAt(32).as("h32"),
        expr("size(tc64)").cast("long").as("n64"))
      perQ
        .agg(sum(col("h8")).as("h8"), sum(col("h16")).as("h16"),
          sum(col("h32")).as("h32"), sum(col("n64")).as("n_possible"))
        .select(expr(
          "stack(3, 8L, h8, 16L, h16, 32L, h32) AS (dim, n_hits)"),
          col("n_possible"))
        .select(col("dim"), col("n_hits").cast("bigint").as("n_hits"),
          col("n_possible").cast("bigint").as("n_possible"),
          expr("CAST((n_hits * 100) DIV n_possible AS BIGINT)").as("recall_x100"))
        .orderBy(col("dim"))
    }),

    "sim_bitext_mine" -> ((s, d) => {
      graft.plans.GraftExtensions.ensureRegistered(s)
      val e = Tables.embeddings(s, d)
      val probes = e.filter(col("label") === 0 && col("vec_id") < 60)
        .select(col("vec_id").as("src_id"), col("embedding").as("s_emb"))
      val scored = e.filter(col("label") === 1)
        .select(col("vec_id").as("tgt_id"), col("embedding"))
        .crossJoin(broadcast(probes))
        .withColumn("css",
          round(cosine(s, "embedding", "s_emb") * lit(1000000), 0)
            .cast("long") + lit(1000000L))
        .select(col("src_id"), col("tgt_id"), col("css"))
      // css ≤ 2e6 ≪ 2^53, so the DOUBLE score round-trips exactly and
      // the integer-DIV mean arithmetic is bit-identical to the oracle's
      val nbhdMean = expr(
        "CAST(aggregate(top, 0L, (a, x) -> a + CAST(x.score AS BIGINT))" +
          " DIV size(top) AS BIGINT)")
      val fwd = scored.groupBy(col("src_id"))
        .agg(call_function("graft_topk",
          col("css").cast("double"), col("tgt_id"), lit(4)).as("top"))
        .select(col("src_id"), nbhdMean.as("avgfs"),
          expr("top[0].id").as("tgt_id"),
          expr("CAST(top[0].score AS BIGINT)").as("bests"))
      val bwd = scored.groupBy(col("tgt_id"))
        .agg(call_function("graft_topk",
          col("css").cast("double"), col("src_id"), lit(4)).as("top"))
        .select(col("tgt_id"), nbhdMean.as("avgbs"))
      fwd.join(bwd, "tgt_id")
        .select(col("src_id"), col("tgt_id"),
          (col("bests") - lit(1000000L)).as("cos_x1e6"),
          expr("bests - (avgfs + avgbs) DIV 2").as("margin_x1e6"),
          (expr("bests - (avgfs + avgbs) DIV 2") > 0).as("accepted"))
        .orderBy(col("src_id"))
    }))

  /** Query terms for the hybrid lexical side: one rare corpus word (idf
    * dominates) + two common ones (tf dominates).
    */
  private val hybridTerms = Seq("dup", "spark", "window")

  /** PQ asymmetric-distance scores for every non-query vector: 4×16-dim
    * subspace codebooks (vec_ids 1..8), argmin-L2 encode, 32-entry
    * broadcast query distance table, fixed-m-order 4-term sum — the shared
    * engine behind `sim_topk_pq` (pure ADC top-k) and `sim_topk_pq_rerank`
    * (ADC shortlist → exact re-rank). Portability: L2² is a sequential
    * zip_with→aggregate fold (bit-identical to list_reduce).
    */
  /** Coarse-quantizer cell assignment against the frozen seed centroids
    * (vec_ids 1..8): broadcast argmax cosine, ties → smaller centroid id.
    * Shared by sim_topk_ivf and sim_topk_ivfpq.
    */
  private def ivfCells(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(s, d)
    val cent = e.filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("ck"), col("embedding").as("c_emb"))
    val byVec = Window.partitionBy(col("vec_id")).orderBy(desc("cs"), col("ck"))
    e.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cent))
      .withColumn("cs", cosine(s, "embedding", "c_emb"))
      .withColumn("rn", row_number().over(byVec)).filter(col("rn") === 1)
      .select(col("vec_id"), col("ck").as("cell"))
  }

  private def pqMs = explode(array((0 to 3).map(lit): _*)).as("m")
  private def pqSubv(alias: String) = expr(
    "transform(slice(embedding, m * 16 + 1, 16), x -> CAST(x AS DOUBLE))").as(alias)
  private def pqL2(a: String, b: String) = expr(
    s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0D, (acc, v) -> acc + v)")

  private def pqCodebook(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id").between(1, 8))
      .select(col("vec_id").as("k"), pqMs, col("embedding"))
      .select(col("k"), col("m"), pqSubv("c_sub"))

  /** PQ codes (vec_id, label, m, code) for every vector in `scanBase`
    * (default: the whole lake minus the query) — 4 small ints per vector,
    * the thing a real lake PERSISTS (see sim_topk_pq_artifact).
    */
  private def pqCodes(s: SparkSession, d: String,
      scanBase: Option[DataFrame] = None): DataFrame =
    scanBase.getOrElse(Tables.embeddings(s, d).filter(col("vec_id") =!= 0))
      .select(col("vec_id"), col("label"), pqMs, col("embedding"))
      .select(col("vec_id"), col("label"), col("m"), pqSubv("v_sub"))
      .join(broadcast(pqCodebook(s, d)), "m")
      .withColumn("dd", pqL2("v_sub", "c_sub"))
      .groupBy(col("vec_id"), col("label"), col("m"))
      .agg(min(struct(col("dd"), col("k"))).as("best"))
      .select(col("vec_id"), col("label"), col("m"), col("best.k").as("code"))

  /** ADC over an existing codes frame: the query's 32-entry distance
    * table broadcasts; the scan never touches raw vectors.
    */
  private def pqAdcFrom(s: SparkSession, d: String, codes: DataFrame): DataFrame = {
    val dtab = Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(pqMs, col("embedding"))
      .select(col("m"), pqSubv("q_sub"))
      .join(broadcast(pqCodebook(s, d)), "m")
      .select(col("m").as("t_m"), col("k").as("t_k"),
        pqL2("q_sub", "c_sub").as("dq"))
    codes.join(broadcast(dtab), col("m") === col("t_m") && col("code") === col("t_k"))
      .groupBy(col("vec_id"), col("label"))
      .agg(
        max(when(col("m") === 0, col("dq"))).as("d0"),
        max(when(col("m") === 1, col("dq"))).as("d1"),
        max(when(col("m") === 2, col("dq"))).as("d2"),
        max(when(col("m") === 3, col("dq"))).as("d3"))
      .select(col("vec_id"), col("label"),
        round(col("d0") + col("d1") + col("d2") + col("d3"), 6).as("adc_dist"))
  }

  /** PQ-ADC scores for every vector in `scanBase` (default: the whole
    * lake minus the query) — codebooks and the query distance table
    * always come from the full embeddings convention (seeds 1..8, query
    * 0). `scanBase` lets IVFPQ hand in one coarse cell.
    */
  private def pqAdcScores(s: SparkSession, d: String,
      scanBase: Option[DataFrame] = None): DataFrame =
    pqAdcFrom(s, d, pqCodes(s, d, scanBase))

  /** Shared CTE prefix for the PQ oracle: per-subspace (m ∈ 0..3)
    * double-cast 16-dim slices of codebook (vec_ids 1..8) and data rows.
    */
  private val pqSubs =
    """WITH ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
      |cb AS (
      |  SELECT e.vec_id AS k, ms.m,
      |    list_transform(list_slice(e.embedding, ms.m*16+1, ms.m*16+16),
      |      x -> CAST(x AS DOUBLE)) AS c_sub
      |  FROM embeddings e, ms WHERE e.vec_id BETWEEN 1 AND 8
      |), vs AS (
      |  SELECT e.vec_id, e.label, ms.m,
      |    list_transform(list_slice(e.embedding, ms.m*16+1, ms.m*16+16),
      |      x -> CAST(x AS DOUBLE)) AS v_sub
      |  FROM embeddings e, ms WHERE e.vec_id <> 0
      |), qs AS (
      |  SELECT ms.m,
      |    list_transform(list_slice(e.embedding, ms.m*16+1, ms.m*16+16),
      |      x -> CAST(x AS DOUBLE)) AS q_sub
      |  FROM embeddings e, ms WHERE e.vec_id = 0
      |)""".stripMargin

  private lazy val pqOracleSql: String =
    s"""$pqSubs, enc AS (
       |  SELECT vec_id, label, m, k AS code
       |  FROM (
       |    SELECT vs.vec_id, vs.label, vs.m, cb.k,
       |      ${duckL2("v_sub", "c_sub")} AS dd
       |    FROM vs JOIN cb ON vs.m = cb.m
       |  ) QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, k) = 1
       |), dtab AS (
       |  SELECT qs.m, cb.k, ${duckL2("q_sub", "c_sub")} AS dq
       |  FROM qs JOIN cb ON qs.m = cb.m
       |)
       |SELECT enc.vec_id, enc.label,
       |  round(max(CASE WHEN enc.m = 0 THEN dq END)
       |      + max(CASE WHEN enc.m = 1 THEN dq END)
       |      + max(CASE WHEN enc.m = 2 THEN dq END)
       |      + max(CASE WHEN enc.m = 3 THEN dq END), 6) AS adc_dist
       |FROM enc JOIN dtab ON enc.m = dtab.m AND enc.code = dtab.k
       |GROUP BY enc.vec_id, enc.label
       |ORDER BY adc_dist, enc.vec_id LIMIT 10""".stripMargin

  private def duckL2(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 17), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, v) -> acc + v)"

  /** From-scratch DuckDB replay of [[SemanticLakeFixture]]'s sliced
    * streaming semantic ingest: per-batch exact canon (min vec_id per
    * identical (label, embedding)), then the (label, code)-blocked
    * cosine drop against the ACCUMULATED survivors — sim_pairs_block's
    * arithmetic run asymmetrically per batch. Every round CTE is
    * MATERIALIZED (the dedup_kcore lesson). Shared VERBATIM by
    * `sim_semdedup_serve` (live fragmented lake) and
    * `sim_semdedup_compacted` (pinned `_serve` snapshot) — both must
    * hash-match the same replay.
    */
  /** The CTE chain through `surv` (the lake's survivor set), shared by
    * the full-lake replays and the deduplicated-top-k oracle.
    */
  private def semanticLakeReplayCte: String = {
    def dupRound(batch: String, corpus: String): String =
      s"""  SELECT DISTINCT a.vec_id AS vec_id FROM e a JOIN e b
         |    ON a.label = b.label AND a.code = b.code AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id IN (SELECT vec_id FROM $batch)
         |    AND b.vec_id IN (SELECT vec_id FROM $corpus)
         |    AND round(${duckCosine("a.embedding", "b.embedding")}, 6) >= 0.25""".stripMargin
    s"""WITH planes AS (
       |  SELECT vec_id AS k, embedding AS h_emb FROM embeddings WHERE vec_id BETWEEN 1 AND 8
       |), coded AS (
       |  SELECT e.vec_id,
       |    CAST(SUM(CASE WHEN ${duckDot("e.embedding", "p.h_emb")} > 0
       |             THEN (1 << (p.k - 1)) ELSE 0 END) AS BIGINT) AS code
       |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
       |), e AS MATERIALIZED (
       |  SELECT em.vec_id, em.label, coded.code, em.embedding
       |  FROM embeddings em JOIN coded ON em.vec_id = coded.vec_id
       |), s0 AS MATERIALIZED (
       |  SELECT min(vec_id) AS vec_id FROM e WHERE vec_id % 3 = 1 GROUP BY label, embedding
       |), e1 AS MATERIALIZED (
       |  SELECT min(vec_id) AS vec_id FROM e WHERE vec_id % 3 = 2 GROUP BY label, embedding
       |), d1 AS MATERIALIZED (
       |${dupRound("e1", "s0")}
       |), prev AS MATERIALIZED (
       |  SELECT vec_id FROM s0 UNION ALL
       |  SELECT vec_id FROM e1 WHERE vec_id NOT IN (SELECT vec_id FROM d1)
       |), e2 AS MATERIALIZED (
       |  SELECT min(vec_id) AS vec_id FROM e WHERE vec_id % 3 = 0 GROUP BY label, embedding
       |), d2 AS MATERIALIZED (
       |${dupRound("e2", "prev")}
       |), surv AS MATERIALIZED (
       |  SELECT vec_id FROM prev UNION ALL
       |  SELECT vec_id FROM e2 WHERE vec_id NOT IN (SELECT vec_id FROM d2)
       |)""".stripMargin
  }

  private def semanticLakeReplayOracle: String =
    semanticLakeReplayCte + """
      |SELECT e.vec_id, e.label, e.code,
      |  CAST(CASE e.vec_id % 3 WHEN 1 THEN 0 WHEN 2 THEN 1 ELSE 2 END AS BIGINT)
      |    AS ingest_batch
      |FROM e WHERE e.vec_id IN (SELECT vec_id FROM surv)
      |ORDER BY e.vec_id""".stripMargin

  /** Continuation CTEs for the indexed-over-SemDeDup oracles (appended
    * after [[semanticLakeReplayCte]], continuing its WITH chain): the
    * frozen 8-centroid argmax assignment over every coded vector
    * (sim_topk_ivf's QUALIFY arithmetic), the query's RANKED probe cells
    * (`qrank` — rn ≤ nprobe is each serve's probe set, the same
    * (cs DESC, ck) order [[queryProbeCells]]' array_sort uses), and
    * `ivfk`/`ivfk2` — the nprobe=1/nprobe=2 cell-pruned scored survivor
    * sets. MATERIALIZED where referenced twice (the dedup_kcore
    * CTE-inlining lesson).
    */
  /** The nprobe-pruned scored survivor set over whatever `cells`/`qrank`
    * CTEs precede it — shared by the frozen and trained cell chains.
    */
  private def ivfkCte(name: String, nprobe: Int): String =
    s"""$name AS MATERIALIZED (
       |  SELECT e.vec_id, e.label,
       |    round(${duckCosine("e.embedding", "q.embedding")}, 6) AS cos_sim
       |  FROM e JOIN cells cl ON e.vec_id = cl.vec_id
       |  JOIN (SELECT cell FROM qrank WHERE rn <= $nprobe) qc
       |    ON cl.cell = qc.cell
       |  CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |  WHERE e.vec_id IN (SELECT vec_id FROM surv) AND e.vec_id <> 0
       |)""".stripMargin

  private def semanticCellsCte: String =
    s""", cent AS (
       |  SELECT vec_id AS ck, embedding AS c_emb FROM embeddings
       |  WHERE vec_id BETWEEN 1 AND 8
       |), cells AS MATERIALIZED (
       |  SELECT vec_id, ck AS cell FROM (
       |    SELECT e2.vec_id, c.ck, ${duckCosine("e2.embedding", "c.c_emb")} AS cs
       |    FROM e e2 CROSS JOIN cent c)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, ck) = 1
       |), qrank AS MATERIALIZED (
       |  SELECT ck AS cell, row_number() OVER (ORDER BY cs DESC, ck) AS rn
       |  FROM (
       |    SELECT c.ck, ${duckCosine("q.embedding", "c.c_emb")} AS cs
       |    FROM cent c
       |    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q)
       |), ${ivfkCte("ivfk", 1)},
       |${ivfkCte("ivfk2", 2)}""".stripMargin

  /** The TRAINED twin of [[semanticCellsCte]]: the coarse quantizer is
    * re-derived by the same 2-round Lloyd arithmetic as the engine's
    * [[trainedCentroids]] (sim_kmeans_cells' SQL replica over the
    * SURVIVORS, seeded by vec_id 1..8), then `cells`/`qrank`/`ivfk`/
    * `ivfk2` continue with the trained centroid set — so the indexed
    * serves over the trained `_cells` generation hash against a full
    * from-scratch re-derivation including the training itself.
    */
  private def semanticTrainedCellsCte: String =
    semanticTrainedCellsCteOver("surv", 8)

  /** [[semanticTrainedCellsCte]] generalized: `trainPop` names the CTE
    * holding the TRAINING population (the retrained-at-full-fold serves
    * train over `prev` — the mid-stream survivors — while assignment
    * still covers every survivor), and `k` is the seed/cluster count
    * (the auto-k serves pin [[chooseK]]'s sf0.01 value, 16 — the oracle
    * runs at the verify scale only, so the static SQL can).
    */
  private def semanticTrainedCellsCteOver(trainPop: String, k: Int): String = {
    val micro =
      "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
    def assignCte(centCte: String, name: String) =
      s"""$name AS (
         |  SELECT vec_id, k AS cell, q FROM (
         |    SELECT t.vec_id, c.ck AS k, t.q
         |    FROM eqt t CROSS JOIN $centCte c
         |    QUALIFY row_number() OVER (PARTITION BY t.vec_id
         |      ORDER BY ${duckCosine("t.embedding", "c.c_emb")} DESC, c.ck) = 1)
         |)""".stripMargin
    def updateCte(assignName: String, name: String) =
      s"""$name AS (
         |  SELECT cell AS ck, list(CAST(cv AS DOUBLE) ORDER BY j) AS c_emb FROM (
         |    SELECT cell, i AS j, sum(q[i]) AS cv
         |    FROM $assignName, range(1, 65) t(i) GROUP BY cell, i)
         |  GROUP BY cell
         |)""".stripMargin
    s""", eq AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, $micro AS q
       |  FROM e WHERE e.vec_id IN (SELECT vec_id FROM surv)
       |), eqt AS MATERIALIZED (
       |  SELECT e.vec_id, e.embedding, $micro AS q
       |  FROM e WHERE e.vec_id IN (SELECT vec_id FROM $trainPop)
       |), tc0 AS (
       |  SELECT vec_id AS ck,
       |    list_transform($micro, v -> CAST(v AS DOUBLE)) AS c_emb
       |  FROM embeddings WHERE vec_id BETWEEN 1 AND $k
       |), ${assignCte("tc0", "ta1")}, ${updateCte("ta1", "tc1")},
       |${assignCte("tc1", "ta2")}, ${updateCte("ta2", "tc2")},
       |cells AS MATERIALIZED (
       |  SELECT vec_id, ck AS cell FROM (
       |    SELECT t.vec_id, c.ck, ${duckCosine("t.embedding", "c.c_emb")} AS cs
       |    FROM eq t CROSS JOIN tc2 c)
       |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, ck) = 1
       |), qrank AS MATERIALIZED (
       |  SELECT ck AS cell, row_number() OVER (ORDER BY cs DESC, ck) AS rn
       |  FROM (
       |    SELECT c.ck, ${duckCosine("q.embedding", "c.c_emb")} AS cs
       |    FROM tc2 c
       |    CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q)
       |), ${ivfkCte("ivfk", 1)},
       |${ivfkCte("ivfk2", 2)},
       |${ivfkCte("ivfk4", 4)}""".stripMargin
  }

  /** The recall-ladder SELECT over whatever ivfk/ivfk2 chain precedes
    * it — shared by the pinned (trained) and fresh (frozen) ladders.
    */
  private def semanticRecallSelect: String =
    s""", brutek AS MATERIALIZED (
       |  SELECT e.vec_id,
       |    round(${duckCosine("e.embedding", "q.embedding")}, 6) AS cos_sim
       |  FROM e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
       |  WHERE e.vec_id IN (SELECT vec_id FROM surv) AND e.vec_id <> 0
       |  ORDER BY cos_sim DESC, e.vec_id LIMIT 10
       |), topi1 AS (
       |  SELECT vec_id FROM ivfk ORDER BY cos_sim DESC, vec_id LIMIT 10
       |), topi2 AS (
       |  SELECT vec_id FROM ivfk2 ORDER BY cos_sim DESC, vec_id LIMIT 10
       |), hits AS (
       |  SELECT CAST(1 AS BIGINT) AS nprobe, CAST(count(*) AS BIGINT) AS n_hit
       |  FROM topi1 WHERE vec_id IN (SELECT vec_id FROM brutek)
       |  UNION ALL
       |  SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT)
       |  FROM topi2 WHERE vec_id IN (SELECT vec_id FROM brutek)
       |)
       |SELECT nprobe, CAST(10 AS BIGINT) AS k, n_hit,
       |  CAST(n_hit * 100 // 10 AS BIGINT) AS recall_pct
       |FROM hits ORDER BY nprobe""".stripMargin

  /** From-scratch re-derivation of the streamed IVF lake (every vector's
    * argmax cell + the slice→batch mapping) — shared verbatim by the
    * compacted and hybrid serves.
    */
  private def ivfLakeReplayOracle: String =
    s"""WITH cent AS (
       |  SELECT vec_id AS k, embedding AS c_emb FROM embeddings
       |  WHERE vec_id BETWEEN 1 AND 8
       |), allv AS (
       |  SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0
       |), scored AS (
       |  SELECT v.vec_id, c.k, ${duckCosine("v.embedding", "c.c_emb")} AS cs
       |  FROM allv v CROSS JOIN cent c
       |), ranked AS (
       |  SELECT vec_id, k AS cell, round(cs, 6) AS cos_sim,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, k) AS rn
       |  FROM scored
       |)
       |SELECT vec_id, cell, cos_sim,
       |  CAST(CASE vec_id % 3 WHEN 1 THEN 0 WHEN 2 THEN 1 ELSE 2 END AS BIGINT)
       |    AS ingest_batch
       |FROM ranked WHERE rn = 1
       |ORDER BY vec_id""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "sim_topk_pq" -> pqOracleSql,
    // the artifact query scans the persisted codes table, whose contents
    // are bit-deterministic — the oracle is sim_topk_pq's, unchanged
    "sim_topk_pq_artifact" -> pqOracleSql,
    // IVFPQ: the sim_topk_pq pipeline with enc restricted to the query's
    // coarse cell (the sim_topk_ivf assignment CTEs)
    "sim_topk_ivfpq" ->
      s"""$pqSubs, cent AS (
         |  SELECT vec_id AS ck, embedding AS c_emb FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 8
         |), cells AS (
         |  SELECT vec_id, ck AS cell FROM (
         |    SELECT e.vec_id, c.ck, ${duckCosine("e.embedding", "c.c_emb")} AS cs
         |    FROM embeddings e CROSS JOIN cent c)
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, ck) = 1
         |), qc AS (SELECT cell AS q_cell FROM cells WHERE vec_id = 0),
         |enc AS (
         |  SELECT vec_id, label, m, k AS code
         |  FROM (
         |    SELECT vs.vec_id, vs.label, vs.m, cb.k,
         |      ${duckL2("v_sub", "c_sub")} AS dd
         |    FROM vs
         |    JOIN cells ON vs.vec_id = cells.vec_id
         |    JOIN qc ON cells.cell = qc.q_cell
         |    JOIN cb ON vs.m = cb.m
         |  ) QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, k) = 1
         |), dtab AS (
         |  SELECT qs.m, cb.k, ${duckL2("q_sub", "c_sub")} AS dq
         |  FROM qs JOIN cb ON qs.m = cb.m
         |)
         |SELECT enc.vec_id, enc.label,
         |  round(max(CASE WHEN enc.m = 0 THEN dq END)
         |      + max(CASE WHEN enc.m = 1 THEN dq END)
         |      + max(CASE WHEN enc.m = 2 THEN dq END)
         |      + max(CASE WHEN enc.m = 3 THEN dq END), 6) AS adc_dist
         |FROM enc JOIN dtab ON enc.m = dtab.m AND enc.code = dtab.k
         |GROUP BY enc.vec_id, enc.label
         |ORDER BY adc_dist, enc.vec_id LIMIT 10""".stripMargin,
    "sim_topk_pq_rerank" ->
      s"""$pqSubs, enc AS (
         |  SELECT vec_id, label, m, k AS code
         |  FROM (
         |    SELECT vs.vec_id, vs.label, vs.m, cb.k,
         |      ${duckL2("v_sub", "c_sub")} AS dd
         |    FROM vs JOIN cb ON vs.m = cb.m
         |  ) QUALIFY row_number() OVER (PARTITION BY vec_id, m ORDER BY dd, k) = 1
         |), dtab AS (
         |  SELECT qs.m, cb.k, ${duckL2("q_sub", "c_sub")} AS dq
         |  FROM qs JOIN cb ON qs.m = cb.m
         |), shortlist AS (
         |  SELECT enc.vec_id,
         |    round(max(CASE WHEN enc.m = 0 THEN dq END)
         |        + max(CASE WHEN enc.m = 1 THEN dq END)
         |        + max(CASE WHEN enc.m = 2 THEN dq END)
         |        + max(CASE WHEN enc.m = 3 THEN dq END), 6) AS adc_dist
         |  FROM enc JOIN dtab ON enc.m = dtab.m AND enc.code = dtab.k
         |  GROUP BY enc.vec_id
         |  ORDER BY adc_dist, enc.vec_id LIMIT 50
         |), q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label,
         |  round(${duckCosine("e.embedding", "q.q_emb")}, 6) AS cos_sim
         |FROM embeddings e JOIN shortlist sl ON e.vec_id = sl.vec_id CROSS JOIN q
         |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin,
    "sim_centroid_drift" ->
      s"""WITH cent AS (
         |  SELECT vec_id AS k, embedding AS c_emb FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 8
         |), scored AS (
         |  SELECT e.vec_id, c.k, ${duckCosine("e.embedding", "c.c_emb")} AS cs
         |  FROM embeddings e CROSS JOIN cent c
         |), cells AS (
         |  SELECT vec_id, k AS cell FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, k) = 1
         |), mem AS (
         |  SELECT cells.cell, e.embedding FROM embeddings e
         |  JOIN cells ON e.vec_id = cells.vec_id
         |), dims AS (
         |  SELECT cell, i,
         |    CAST(sum(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT) AS sv,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM mem, UNNEST(range(1, len(embedding) + 1)) AS t(i)
         |  GROUP BY cell, i
         |), newc AS (
         |  SELECT cell, max(n) AS n_assigned,
         |    list(CAST(sv // n AS DOUBLE) ORDER BY i) AS m_emb
         |  FROM dims GROUP BY cell
         |)
         |SELECT nc.cell, CAST(nc.n_assigned AS BIGINT) AS n_assigned,
         |  round(1.0 - ${duckCosine("nc.m_emb", "cent.c_emb")}, 6) AS drift,
         |  round(1.0 - ${duckCosine("nc.m_emb", "cent.c_emb")}, 6) > 0.05 AS retrain
         |FROM newc nc JOIN cent ON nc.cell = cent.k
         |ORDER BY nc.cell""".stripMargin,
    "pipe_hybrid_rrf" ->
      s"""WITH lex AS (
         |  SELECT doc_id,
         |    len(list_filter(string_split(text, ' '), x -> x = '${hybridTerms(0)}')) AS tf0,
         |    len(list_filter(string_split(text, ' '), x -> x = '${hybridTerms(1)}')) AS tf1,
         |    len(list_filter(string_split(text, ' '), x -> x = '${hybridTerms(2)}')) AS tf2
         |  FROM documents WHERE doc_id <> 0
         |), stats AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
         |  FROM lex
         |), lscore AS (
         |  SELECT doc_id,
         |    tf0 * ((n + 1) * 1000000 // (df0 + 1))
         |    + tf1 * ((n + 1) * 1000000 // (df1 + 1))
         |    + tf2 * ((n + 1) * 1000000 // (df2 + 1)) AS lex_score
         |  FROM lex CROSS JOIN stats
         |), lrank AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY lex_score DESC, doc_id) AS rank_lex
         |  FROM lscore WHERE lex_score > 0
         |  QUALIFY rank_lex <= 20
         |), q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0
         |), vrank AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY cos_sim DESC, doc_id) AS rank_vec
         |  FROM (
         |    SELECT e.vec_id AS doc_id,
         |      round(${duckCosine("e.embedding", "q.q_emb")}, 6) AS cos_sim
         |    FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0)
         |  QUALIFY rank_vec <= 20
         |), fused AS (
         |  SELECT doc_id,
         |    CAST(coalesce(rank_lex, 0) AS BIGINT) AS rank_lex,
         |    CAST(coalesce(rank_vec, 0) AS BIGINT) AS rank_vec,
         |    CAST(coalesce(1000000 // (60 + rank_lex), 0)
         |      + coalesce(1000000 // (60 + rank_vec), 0) AS BIGINT) AS rrf_x1e6
         |  FROM lrank FULL JOIN vrank USING (doc_id)
         |  ORDER BY rrf_x1e6 DESC, doc_id LIMIT 10
         |)
         |SELECT f.doc_id, f.rank_lex, f.rank_vec, f.rrf_x1e6, d.lang, d.source
         |FROM fused f JOIN documents d USING (doc_id)
         |ORDER BY f.rrf_x1e6 DESC, f.doc_id""".stripMargin,
    "sim_quantize_int8" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS scale
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id, scale,
        |    CASE WHEN scale = 0 THEN list_transform(embedding, v -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding, v ->
        |           CAST(floor(CAST(v AS DOUBLE) * CAST(127 AS DOUBLE) / scale + 0.5) AS BIGINT))
        |    END AS qv,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xd
        |  FROM s
        |)
        |SELECT vec_id,
        |  round(scale, 6) AS scale_r,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), qv), (a, v) -> a + v) AS q_sum,
        |  CAST(list_min(qv) AS BIGINT) AS q_min,
        |  CAST(list_max(qv) AS BIGINT) AS q_max,
        |  round(list_max(list_transform(range(1, len(qv) + 1), i ->
        |    abs(xd[i] - (CAST(qv[i] AS DOUBLE) * scale) / CAST(127 AS DOUBLE)))), 6) AS max_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "sim_topk_brute" ->
      s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, round(${duckCosine("embedding", "q_emb")}, 6) AS cos_sim
         |FROM embeddings, q WHERE vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    // two-stage replay: the 16-dim shortlist ORDER/LIMIT then the exact
    // full-dim re-rank — same rounding and tiebreaks as the engine
    "sim_topk_m16_rerank" ->
      s"""WITH q16 AS (SELECT embedding[1:16] AS q_emb FROM embeddings WHERE vec_id = 0),
         |sl AS (SELECT vec_id, round(${duckCosine("embedding[1:16]", "q_emb")}, 6) AS c16
         |       FROM embeddings, q16 WHERE vec_id <> 0),
         |short AS (SELECT vec_id FROM sl ORDER BY c16 DESC, vec_id LIMIT 50),
         |qf AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, e.label, round(${duckCosine("e.embedding", "qf.q_emb")}, 6) AS cos_sim
         |FROM embeddings e JOIN short USING (vec_id), qf
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    // slices the raw embeddings directly (the artifact is derived state;
    // the oracle proves the served slice equals the source prefix)
    "sim_topk_m16" ->
      s"""WITH q AS (SELECT embedding[1:16] AS q_emb FROM embeddings WHERE vec_id = 0),
         |sl AS (SELECT vec_id, label, embedding[1:16] AS m16
         |       FROM embeddings WHERE vec_id <> 0)
         |SELECT vec_id, label, round(${duckCosine("m16", "q_emb")}, 6) AS cos_sim
         |FROM sl, q
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "sim_topk_bucketed" ->
      s"""WITH q AS (SELECT embedding AS q_emb, label AS q_label FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, label, round(${duckCosine("embedding", "q_emb")}, 6) AS cos_sim
         |FROM embeddings, q WHERE vec_id <> 0 AND label = q_label
         |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin,
    "sim_topk_ivf" ->
      s"""WITH cent AS (
         |  SELECT vec_id AS k, embedding AS c_emb FROM embeddings WHERE vec_id BETWEEN 1 AND 8
         |), scored AS (
         |  SELECT e.vec_id, c.k, ${duckCosine("e.embedding", "c.c_emb")} AS cs
         |  FROM embeddings e CROSS JOIN cent c
         |), cells AS (
         |  SELECT vec_id, k AS cell FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, k) = 1
         |), qc AS (SELECT cell AS q_cell FROM cells WHERE vec_id = 0),
         |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, cells.cell, round(${duckCosine("e.embedding", "q.q_emb")}, 6) AS cos_sim
         |FROM embeddings e
         |JOIN cells ON e.vec_id = cells.vec_id
         |JOIN qc ON cells.cell = qc.q_cell
         |CROSS JOIN q
         |WHERE e.vec_id <> 0
         |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin,
    "sim_kmeans_cells" -> {
      def assignCte(centCte: String, name: String) =
        s"""$name AS (
           |  SELECT vec_id, k AS cell, q FROM (
           |    SELECT e.vec_id, c.k, e.q
           |    FROM e CROSS JOIN $centCte c
           |    QUALIFY row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${duckCosine("e.embedding", "c.c_emb")} DESC, c.k) = 1)
           |)""".stripMargin
      def updateCte(assignName: String, name: String) =
        s"""$name AS (
           |  SELECT cell AS k, list(CAST(cv AS DOUBLE) ORDER BY j) AS c_emb FROM (
           |    SELECT cell, i AS j, sum(q[i]) AS cv
           |    FROM $assignName, range(1, 65) t(i) GROUP BY cell, i)
           |  GROUP BY cell
           |)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id, embedding,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
         |  FROM embeddings
         |), c0 AS (
         |  SELECT vec_id AS k, list_transform(q, v -> CAST(v AS DOUBLE)) AS c_emb
         |  FROM e WHERE vec_id BETWEEN 1 AND 8
         |), ${assignCte("c0", "a1")}, ${updateCte("a1", "c1")},
         |${assignCte("c1", "a2")}, ${updateCte("a2", "c2")},
         |${assignCte("c2", "af")}
         |SELECT vec_id, cell FROM af ORDER BY vec_id""".stripMargin
    },
    "sim_pq_train" -> {
      // exact BIGINT L2² between 16-dim subvectors — a sequential fold,
      // matching Spark's zip_with→aggregate bit-for-bit (all integers)
      def l2(a: String, b: String) =
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"list_transform(range(1, 17), i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), " +
          "(acc, v) -> acc + v)"
      def assignCte(centCte: String, name: String) =
        s"""$name AS MATERIALIZED (
           |  SELECT vec_id, m, k, sv FROM (
           |    SELECT s.vec_id, s.m, c.k, s.sv
           |    FROM sub s JOIN $centCte c ON s.m = c.m
           |    QUALIFY row_number() OVER (PARTITION BY s.vec_id, s.m
           |      ORDER BY ${l2("s.sv", "c.cv")}, c.k) = 1)
           |)""".stripMargin
      def updateCte(assignName: String, oldCte: String, name: String) =
        s"""$name AS MATERIALIZED (
           |  SELECT o.m, o.k, coalesce(f.fv, o.cv) AS cv
           |  FROM $oldCte o LEFT JOIN (
           |    SELECT m, k, list(mu ORDER BY j) AS fv FROM (
           |      SELECT m, k, i.i AS j,
           |        CAST(sum(sv[i.i]) // count(*) AS BIGINT) AS mu
           |      FROM $assignName, range(1, 17) i(i) GROUP BY m, k, i.i)
           |    GROUP BY m, k) f
           |  ON o.m = f.m AND o.k = f.k
           |)""".stripMargin
      s"""WITH e AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
         |  FROM embeddings
         |), sub AS MATERIALIZED (
         |  SELECT vec_id, m.m AS m, q[m.m * 16 + 1 : m.m * 16 + 16] AS sv
         |  FROM e, range(0, 4) m(m)
         |), c0 AS MATERIALIZED (
         |  SELECT m, CAST(vec_id AS INT) AS k, sv AS cv FROM sub
         |  WHERE vec_id BETWEEN 1 AND 8
         |), ${assignCte("c0", "a1")}, ${updateCte("a1", "c0", "c1")},
         |${assignCte("c1", "a2")}, ${updateCte("a2", "c1", "c2")},
         |${assignCte("c2", "af")},
         |cnt AS (SELECT m, k, count(*) AS n_assigned FROM af GROUP BY m, k)
         |SELECT CAST(c2.m AS BIGINT) AS m, CAST(c2.k AS BIGINT) AS k,
         |  CAST(coalesce(cnt.n_assigned, 0) AS BIGINT) AS n_assigned,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), c2.cv),
         |    (acc, v) -> acc + v) AS BIGINT) AS c_sum,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(c2.cv, v -> abs(v))), (acc, v) -> acc + v) AS BIGINT) AS c_l1
         |FROM c2 LEFT JOIN cnt ON c2.m = cnt.m AND c2.k = cnt.k
         |ORDER BY m, k""".stripMargin
    },
    "sim_topk_srp" ->
      s"""WITH planes AS (
         |  SELECT vec_id AS k, embedding AS h_emb FROM embeddings WHERE vec_id BETWEEN 1 AND 8
         |), coded AS (
         |  SELECT e.vec_id,
         |    CAST(SUM(CASE WHEN ${duckDot("e.embedding", "p.h_emb")} > 0
         |             THEN (1 << (p.k - 1)) ELSE 0 END) AS BIGINT) AS code
         |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
         |), qc AS (SELECT code AS q_code FROM coded WHERE vec_id = 0),
         |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, coded.code, round(${duckCosine("e.embedding", "q.q_emb")}, 6) AS cos_sim
         |FROM embeddings e
         |JOIN coded ON e.vec_id = coded.vec_id
         |JOIN qc ON coded.code = qc.q_code
         |CROSS JOIN q
         |WHERE e.vec_id <> 0
         |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin,
    "sim_topk_srp_multiprobe" ->
      s"""WITH planes AS (
         |  SELECT vec_id AS k, embedding AS h_emb FROM embeddings WHERE vec_id BETWEEN 1 AND 8
         |), coded AS (
         |  SELECT e.vec_id,
         |    CAST(SUM(CASE WHEN ${duckDot("e.embedding", "p.h_emb")} > 0
         |             THEN (1 << (p.k - 1)) ELSE 0 END) AS BIGINT) AS code
         |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
         |), qc AS (SELECT code AS q_code FROM coded WHERE vec_id = 0),
         |probes AS (
         |  SELECT CASE WHEN t.i = -1 THEN qc.q_code
         |              ELSE xor(qc.q_code, CAST(1 AS BIGINT) << t.i) END AS probe
         |  FROM qc, range(-1, 8) t(i)
         |),
         |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id, coded.code, round(${duckCosine("e.embedding", "q.q_emb")}, 6) AS cos_sim
         |FROM embeddings e
         |JOIN coded ON e.vec_id = coded.vec_id
         |JOIN probes ON coded.code = probes.probe
         |CROSS JOIN q
         |WHERE e.vec_id <> 0
         |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin,
    "sim_ivf_ingest" ->
      s"""WITH cent AS (
         |  SELECT vec_id AS k, embedding AS c_emb FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 8
         |), batch AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 10 = 0 AND vec_id <> 0
         |), scored AS (
         |  SELECT b.vec_id, c.k, ${duckCosine("b.embedding", "c.c_emb")} AS cs
         |  FROM batch b CROSS JOIN cent c
         |), ranked AS (
         |  SELECT vec_id, k AS cell, round(cs, 6) AS cos_sim,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, k) AS rn
         |  FROM scored
         |)
         |SELECT vec_id, cell, cos_sim FROM ranked WHERE rn = 1
         |ORDER BY vec_id""".stripMargin,
    "sim_topk_mmr" -> {
      // the 10 greedy argmax steps as chained CTEs — every step's scoring
      // and tie rule mirror the Spark side exactly, in BIGINT micro-units
      // every chained CTE is MATERIALIZED: s_i/sel_i are each referenced
      // 3x by step i+1, and DuckDB's default inlining would re-evaluate
      // the cosine-scored shortlist exponentially across the 10 steps
      val steps = (2 to 10).map { i =>
        s""", s$i AS MATERIALIZED (
           |  SELECT c.vec_id, c.rel6, 700*c.rel6 - 300*max(p.sim6) AS mmr6
           |  FROM sc c JOIN pw p ON p.va = c.vec_id
           |    AND p.vb IN (SELECT vec_id FROM sel${i - 1})
           |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
           |  GROUP BY c.vec_id, c.rel6
           |  ORDER BY mmr6 DESC, c.vec_id LIMIT 1
           |), sel$i AS MATERIALIZED (
           |  SELECT vec_id FROM sel${i - 1} UNION ALL SELECT vec_id FROM s$i
           |)"""
      }.mkString
      val unions = (1 to 10).map { i =>
        s"|SELECT CAST($i AS BIGINT) AS mmr_rank, vec_id, rel6 AS rel_x1e6, mmr6 AS mmr_x1e6 FROM s$i"
      }.mkString("\n", "\n|UNION ALL\n", "\n")
      s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
         |sc AS MATERIALIZED (
         |  SELECT e.vec_id, e.embedding,
         |    CAST(round(1000000 * ${duckCosine("e.embedding", "q.q_emb")}) AS BIGINT) AS rel6
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
         |  ORDER BY rel6 DESC, e.vec_id LIMIT 20
         |),
         |pw AS MATERIALIZED (
         |  SELECT a.vec_id AS va, b.vec_id AS vb,
         |    CAST(round(1000000 * ${duckCosine("a.embedding", "b.embedding")}) AS BIGINT) AS sim6
         |  FROM sc a JOIN sc b ON a.vec_id <> b.vec_id
         |),
         |s1 AS MATERIALIZED (SELECT vec_id, rel6, 700*rel6 AS mmr6 FROM sc ORDER BY rel6 DESC, vec_id LIMIT 1),
         |sel1 AS MATERIALIZED (SELECT vec_id FROM s1)$steps
         |SELECT * FROM ($unions)
         |ORDER BY mmr_rank""".stripMargin
    },
    "sim_pairs_block" ->
      s"""WITH planes AS (
         |  SELECT vec_id AS k, embedding AS h_emb FROM embeddings WHERE vec_id BETWEEN 1 AND 8
         |), coded AS (
         |  SELECT e.vec_id,
         |    CAST(SUM(CASE WHEN ${duckDot("e.embedding", "p.h_emb")} > 0
         |             THEN (1 << (p.k - 1)) ELSE 0 END) AS BIGINT) AS code
         |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
         |), e AS (
         |  SELECT em.vec_id, em.label, coded.code, em.embedding
         |  FROM embeddings em JOIN coded ON em.vec_id = coded.vec_id
         |)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
         |  round(${duckCosine("a.embedding", "b.embedding")}, 6) AS cos_sim
         |FROM e a JOIN e b
         |  ON a.label = b.label AND a.code = b.code AND a.vec_id < b.vec_id
         |WHERE round(${duckCosine("a.embedding", "b.embedding")}, 6) >= 0.25
         |ORDER BY vec_a, vec_b""".stripMargin,
    // from-scratch replay of the WHOLE sliced streaming semantic ingest,
    // shared verbatim by the live and compacted serves — and by the
    // hybrid serve: the same replay proves no loss and no double count
    // across the mid-stream fold+vacuum boundary
    "sim_semdedup_serve" -> semanticLakeReplayOracle,
    "sim_semdedup_compacted" -> semanticLakeReplayOracle,
    "sim_semdedup_hybrid" -> semanticLakeReplayOracle,
    // survivor replay composed with the scored top-k — the retrieval
    // answer over the deduplicated lake
    "sim_semdedup_topk" ->
      (semanticLakeReplayCte + s""", scored AS (
        |  SELECT e.vec_id, e.label,
        |    round(${duckCosine("e.embedding", "q.embedding")}, 6) AS cos_sim
        |  FROM e CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
        |  WHERE e.vec_id IN (SELECT vec_id FROM surv) AND e.vec_id <> 0
        |)
        |SELECT vec_id, label, cos_sim FROM scored
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    // survivor replay + the TRAINED-quantizer re-derivation (2 Lloyd
    // rounds over the survivors, the engine's maintenance-time training)
    // + the query-cell-pruned top-k — the indexed serve re-derived end
    // to end INCLUDING the training
    "sim_semdedup_topk_ivf" ->
      (semanticLakeReplayCte + semanticTrainedCellsCte + s"""
        |SELECT vec_id, label, cos_sim FROM ivfk
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    // the top-2-cells multiprobe form, same trained re-derivation
    "sim_semdedup_topk_ivf2" ->
      (semanticLakeReplayCte + semanticTrainedCellsCte + s"""
        |SELECT vec_id, label, cos_sim FROM ivfk2
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    // the fresh (snapshot-cells ∪ on-the-fly tail) serves must return
    // the SAME rows as a fully-compacted indexed serve under the FROZEN
    // quantizer (the mid-stream cells build's set) — the whole-survivor
    // re-derivation is reused verbatim; a forgotten tail or a
    // double-read overlap flips it
    "sim_semdedup_topk_ivf_fresh" ->
      (semanticLakeReplayCte + semanticCellsCte + s"""
        |SELECT vec_id, label, cos_sim FROM ivfk
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    "sim_semdedup_topk_ivf2_fresh" ->
      (semanticLakeReplayCte + semanticCellsCte + s"""
        |SELECT vec_id, label, cos_sim FROM ivfk2
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    // all three top-k sets re-derived, intersected per nprobe — the
    // measured recall-vs-read ladder over the TRAINED pinned serves
    "sim_semdedup_recall" ->
      (semanticLakeReplayCte + semanticTrainedCellsCte + semanticRecallSelect),
    // the same ladder over the FRESH (frozen-quantizer) serves
    "sim_semdedup_recall_fresh" ->
      (semanticLakeReplayCte + semanticCellsCte + semanticRecallSelect),
    // the RETRAINED serves: training re-derived over exactly the
    // MID-STREAM survivor population (`prev` — batches 0-1, what the
    // full fold saw), assignment over every survivor including the
    // tail's — a serve that assigned the tail with the frozen set, or
    // probed with the wrong ranking, flips these
    "sim_semdedup_topk_ivf_rt" ->
      (semanticLakeReplayCte + semanticTrainedCellsCteOver("prev", 8) + s"""
        |SELECT vec_id, label, cos_sim FROM ivfk
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    "sim_semdedup_topk_ivf2_rt" ->
      (semanticLakeReplayCte + semanticTrainedCellsCteOver("prev", 8) + s"""
        |SELECT vec_id, label, cos_sim FROM ivfk2
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    "sim_semdedup_recall_rt" ->
      (semanticLakeReplayCte + semanticTrainedCellsCteOver("prev", 8)
        + semanticRecallSelect),
    // the K-SCALED serves: k = chooseK(|survivors|) = 16 at sf0.01 (the
    // verify scale — the static SQL pins that value; the engine derives
    // it from the lake and records it in the generation sidecar)
    "sim_semdedup_topk_ivf_autok" ->
      (semanticLakeReplayCte + semanticTrainedCellsCteOver("surv", 16) + s"""
        |SELECT vec_id, label, cos_sim FROM ivfk
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    "sim_semdedup_topk_ivf2_autok" ->
      (semanticLakeReplayCte + semanticTrainedCellsCteOver("surv", 16) + s"""
        |SELECT vec_id, label, cos_sim FROM ivfk2
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    "sim_semdedup_topk_ivf4_autok" ->
      (semanticLakeReplayCte + semanticTrainedCellsCteOver("surv", 16) + s"""
        |SELECT vec_id, label, cos_sim FROM ivfk4
        |ORDER BY cos_sim DESC, vec_id LIMIT 10""".stripMargin),
    "sim_semdedup_recall_autok" ->
      (semanticLakeReplayCte + semanticTrainedCellsCteOver("surv", 16)
        + semanticRecallSelect),
    // both quantizers' PANEL recall re-derived from scratch: the trained
    // chain's `cells` plus a frozen assignment over the same survivors,
    // per-query probe ranks against each centroid set, brute top-10 per
    // panel query, hits intersected per (quantizer, nprobe)
    "sim_semdedup_recall_panel" -> {
      def hit(name: String, cellsCte: String, qrCte: String, np: Int) =
        s"""$name AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_hit FROM (
           |    SELECT s.qid, s.vec_id FROM sc s
           |    JOIN $cellsCte cl ON s.vec_id = cl.vec_id
           |    JOIN $qrCte qr ON s.qid = qr.qid AND cl.cell = qr.cell
           |      AND qr.crn <= $np
           |    QUALIFY row_number() OVER (PARTITION BY s.qid
           |      ORDER BY s.cs DESC, s.vec_id) <= 10)
           |  WHERE (qid, vec_id) IN (SELECT (qid, vec_id) FROM br)
           |)""".stripMargin
      semanticLakeReplayCte + semanticTrainedCellsCte + s""", fcent AS (
        |  SELECT vec_id AS ck, embedding AS c_emb FROM embeddings
        |  WHERE vec_id BETWEEN 1 AND 8
        |), fcells AS MATERIALIZED (
        |  SELECT vec_id, ck AS cell FROM (
        |    SELECT t.vec_id, c.ck, ${duckCosine("t.embedding", "c.c_emb")} AS cs
        |    FROM eq t CROSS JOIN fcent c)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, ck) = 1
        |), qs AS MATERIALIZED (
        |  SELECT vec_id AS qid, embedding FROM eq WHERE vec_id % 37 = 0
        |  ORDER BY vec_id LIMIT 16
        |), fqr AS MATERIALIZED (
        |  SELECT qid, cell, crn FROM (
        |    SELECT q.qid, c.ck AS cell, row_number() OVER (PARTITION BY q.qid
        |      ORDER BY ${duckCosine("q.embedding", "c.c_emb")} DESC, c.ck) AS crn
        |    FROM qs q CROSS JOIN fcent c)
        |  WHERE crn <= 2
        |), tqr AS MATERIALIZED (
        |  SELECT qid, cell, crn FROM (
        |    SELECT q.qid, c.ck AS cell, row_number() OVER (PARTITION BY q.qid
        |      ORDER BY ${duckCosine("q.embedding", "c.c_emb")} DESC, c.ck) AS crn
        |    FROM qs q CROSS JOIN tc2 c)
        |  WHERE crn <= 2
        |), sc AS MATERIALIZED (
        |  SELECT qv.qid, a.vec_id,
        |    round(${duckCosine("a.embedding", "qv.embedding")}, 6) AS cs
        |  FROM eq a CROSS JOIN qs qv WHERE a.vec_id <> qv.qid
        |), br AS MATERIALIZED (
        |  SELECT qid, vec_id FROM sc
        |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cs DESC, vec_id) <= 10
        |), nt AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM br),
        |${hit("fh1", "fcells", "fqr", 1)}, ${hit("fh2", "fcells", "fqr", 2)},
        |${hit("th1", "cells", "tqr", 1)}, ${hit("th2", "cells", "tqr", 2)}
        |SELECT * FROM (
        |  SELECT 'frozen' AS quantizer, CAST(1 AS BIGINT) AS nprobe,
        |    CAST(10 AS BIGINT) AS k, fh1.n_hit, nt.n_total FROM fh1, nt
        |  UNION ALL
        |  SELECT 'frozen', CAST(2 AS BIGINT), CAST(10 AS BIGINT),
        |    fh2.n_hit, nt.n_total FROM fh2, nt
        |  UNION ALL
        |  SELECT 'trained', CAST(1 AS BIGINT), CAST(10 AS BIGINT),
        |    th1.n_hit, nt.n_total FROM th1, nt
        |  UNION ALL
        |  SELECT 'trained', CAST(2 AS BIGINT), CAST(10 AS BIGINT),
        |    th2.n_hit, nt.n_total FROM th2, nt
        |) ORDER BY quantizer, nprobe""".stripMargin
    },
    // every vector's argmax cell re-derived from scratch (the
    // sim_ivf_ingest arithmetic over the whole lake) + the slice→batch
    // mapping — a compactor that drops, alters, or double-publishes a
    // row flips the hash; shared verbatim by the hybrid serve (the same
    // re-derivation proves the fold+vacuum lost nothing)
    "sim_ivf_lake_compacted" -> ivfLakeReplayOracle,
    "sim_ivf_lake_hybrid" -> ivfLakeReplayOracle,
    // semantic drop set via the same closure CTE as sim_semantic_dedup,
    // then gate + split + rollup over the surviving documents
    "pipe_semantic_e2e" ->
      s"""WITH RECURSIVE planes AS (
         |  SELECT vec_id AS k, embedding AS h_emb FROM embeddings WHERE vec_id BETWEEN 1 AND 8
         |), coded AS (
         |  SELECT e.vec_id,
         |    CAST(SUM(CASE WHEN ${duckDot("e.embedding", "p.h_emb")} > 0
         |             THEN (1 << (p.k - 1)) ELSE 0 END) AS BIGINT) AS code
         |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
         |), e AS (
         |  SELECT em.vec_id, em.label, coded.code, em.embedding
         |  FROM embeddings em JOIN coded ON em.vec_id = coded.vec_id
         |), pairs AS (
         |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM e a JOIN e b
         |    ON a.label = b.label AND a.code = b.code AND a.vec_id < b.vec_id
         |  WHERE round(${duckCosine("a.embedding", "b.embedding")}, 6) >= 0.25
         |), adj AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), nodes AS (SELECT DISTINCT src AS node_id FROM adj
         |), reach AS (
         |  SELECT node_id AS a, node_id AS b FROM nodes
         |  UNION
         |  SELECT r.a, ad.dst FROM reach r JOIN adj ad ON ad.src = r.b
         |), drops AS (
         |  SELECT a AS doc_id FROM reach GROUP BY a HAVING a <> min(b)
         |), kept AS (
         |  SELECT n_chars,
         |    try_cast('0x' || substr(md5(text), 1, 15) AS BIGINT) % 100 AS b
         |  FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM drops) AND n_chars >= 100
         |)
         |SELECT CASE WHEN b < 80 THEN 'train'
         |            WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM kept GROUP BY 1 ORDER BY split""".stripMargin,
    // same blocked pair CTE as sim_pairs_block, at the sweep's widest cut
    "sim_threshold_sweep" ->
      s"""WITH planes AS (
         |  SELECT vec_id AS k, embedding AS h_emb FROM embeddings WHERE vec_id BETWEEN 1 AND 8
         |), coded AS (
         |  SELECT e.vec_id,
         |    CAST(SUM(CASE WHEN ${duckDot("e.embedding", "p.h_emb")} > 0
         |             THEN (1 << (p.k - 1)) ELSE 0 END) AS BIGINT) AS code
         |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
         |), e AS (
         |  SELECT em.vec_id, em.label, coded.code, em.embedding
         |  FROM embeddings em JOIN coded ON em.vec_id = coded.vec_id
         |), pairs AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    CAST(floor(round(${duckCosine("a.embedding", "b.embedding")}, 6) * 100) AS BIGINT) AS cs100
         |  FROM e a JOIN e b
         |    ON a.label = b.label AND a.code = b.code AND a.vec_id < b.vec_id
         |  WHERE round(${duckCosine("a.embedding", "b.embedding")}, 6) >= 0.10
         |), taus AS (SELECT CAST(tau_x100 AS BIGINT) AS tau_x100
         |            FROM (VALUES (10), (25), (50), (75)) t(tau_x100)
         |), j AS (
         |  SELECT t.tau_x100, p.vec_a, p.vec_b
         |  FROM pairs p JOIN taus t ON p.cs100 >= t.tau_x100
         |), np AS (
         |  SELECT tau_x100, CAST(count(*) AS BIGINT) AS n_pairs FROM j GROUP BY 1
         |), nd AS (
         |  SELECT tau_x100, CAST(count(DISTINCT v) AS BIGINT) AS n_docs FROM (
         |    SELECT tau_x100, vec_a AS v FROM j
         |    UNION ALL SELECT tau_x100, vec_b FROM j
         |  ) GROUP BY 1
         |)
         |SELECT t.tau_x100,
         |  CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
         |FROM taus t
         |LEFT JOIN np ON t.tau_x100 = np.tau_x100
         |LEFT JOIN nd ON t.tau_x100 = nd.tau_x100
         |ORDER BY t.tau_x100""".stripMargin,
    "pipe_ann_e2e" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS q_emb
         |  FROM embeddings WHERE vec_id IN (0, 9, 10)
         |), scored AS (
         |  SELECT q.query_id, e.vec_id AS doc_id,
         |    round(${duckCosine("e.embedding", "q.q_emb")}, 6) AS cos_sim
         |  FROM embeddings e CROSS JOIN q WHERE e.vec_id > 10
         |), top AS (
         |  SELECT query_id, doc_id, cos_sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |         ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS "rank"
         |  FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |          ORDER BY cos_sim DESC, doc_id) <= 5
         |)
         |SELECT t.query_id, t."rank", t.doc_id, t.cos_sim,
         |  d.lang, d.source, d.n_chars
         |FROM top t JOIN documents d ON d.doc_id = t.doc_id
         |ORDER BY query_id, 2""".stripMargin,
    "sim_eval_retrieval" ->
      s"""WITH cent AS (
         |  SELECT vec_id AS k, embedding AS c_emb FROM embeddings WHERE vec_id BETWEEN 1 AND 8
         |), scoredc AS (
         |  SELECT e.vec_id, c.k, ${duckCosine("e.embedding", "c.c_emb")} AS cs
         |  FROM embeddings e CROSS JOIN cent c
         |), cells AS (
         |  SELECT vec_id, k AS cell FROM scoredc
         |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, k) = 1
         |), q AS (
         |  SELECT e.vec_id AS query_id, e.embedding AS q_emb, cells.cell AS q_cell
         |  FROM embeddings e JOIN cells ON e.vec_id = cells.vec_id
         |  WHERE e.vec_id IN (0, 9, 10)
         |), scored AS (
         |  SELECT q.query_id, q.q_cell, e.vec_id, cells.cell,
         |    round(${duckCosine("e.embedding", "q.q_emb")}, 6) AS cos_sim
         |  FROM embeddings e JOIN cells ON e.vec_id = cells.vec_id
         |  CROSS JOIN q WHERE e.vec_id > 10
         |), exact AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) <= 5
         |), approx AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rn
         |  FROM scored WHERE cell = q_cell
         |  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) <= 5
         |), nx AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact FROM exact GROUP BY query_id
         |), ov AS (
         |  SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM exact e JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
         |  GROUP BY e.query_id
         |), r1 AS (
         |  SELECT e.query_id, CAST(coalesce(min(a.rn), 0) AS BIGINT) AS rank1
         |  FROM exact e LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
         |  WHERE e.rn = 1 GROUP BY e.query_id
         |)
         |SELECT nx.query_id, nx.n_exact,
         |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
         |  CAST(coalesce(ov.n_overlap, 0) * 100 // nx.n_exact AS BIGINT) AS recall_x100,
         |  CAST(CASE WHEN r1.rank1 = 0 THEN 0 ELSE 1000 // r1.rank1 END AS BIGINT) AS rr_x1000
         |FROM nx
         |LEFT JOIN ov ON nx.query_id = ov.query_id
         |LEFT JOIN r1 ON nx.query_id = r1.query_id
         |ORDER BY nx.query_id""".stripMargin,
    "sim_recall_report" ->
      s"""WITH planes AS (
         |  SELECT vec_id AS k, embedding AS h_emb FROM embeddings WHERE vec_id BETWEEN 1 AND 8
         |), coded AS (
         |  SELECT e.vec_id,
         |    CAST(SUM(CASE WHEN ${duckDot("e.embedding", "p.h_emb")} > 0
         |             THEN (1 << (p.k - 1)) ELSE 0 END) AS BIGINT) AS code
         |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
         |), s AS (
         |  SELECT em.vec_id, em.label, coded.code, em.embedding
         |  FROM embeddings em JOIN coded ON em.vec_id = coded.vec_id
         |  WHERE em.vec_id % 10 = 0
         |), truth AS (
         |  SELECT (a.code = b.code) AS caught
         |  FROM s a JOIN s b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE round(${duckCosine("a.embedding", "b.embedding")}, 6) >= 0.10
         |), agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_true,
         |    CAST(sum(CASE WHEN caught THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
         |  FROM truth
         |)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM s) AS n_sample,
         |  n_true, n_caught,
         |  CAST(CASE WHEN n_true > 0 THEN (10000 * n_caught) // n_true
         |    ELSE 10000 END AS BIGINT) AS recall_x10000
         |FROM agg""".stripMargin,
    // same pair space as sim_pairs_block, then transitive closure to the
    // component minimum (the recursive-CTE pattern dedup_keep_canonical's
    // oracle uses) and a keeper join back onto the whole lake
    "sim_semantic_dedup" ->
      s"""WITH RECURSIVE planes AS (
         |  SELECT vec_id AS k, embedding AS h_emb FROM embeddings WHERE vec_id BETWEEN 1 AND 8
         |), coded AS (
         |  SELECT e.vec_id,
         |    CAST(SUM(CASE WHEN ${duckDot("e.embedding", "p.h_emb")} > 0
         |             THEN (1 << (p.k - 1)) ELSE 0 END) AS BIGINT) AS code
         |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id
         |), e AS (
         |  SELECT em.vec_id, em.label, coded.code, em.embedding
         |  FROM embeddings em JOIN coded ON em.vec_id = coded.vec_id
         |), pairs AS (
         |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         |  FROM e a JOIN e b
         |    ON a.label = b.label AND a.code = b.code AND a.vec_id < b.vec_id
         |  WHERE round(${duckCosine("a.embedding", "b.embedding")}, 6) >= 0.25
         |), adj AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs
         |), nodes AS (SELECT DISTINCT src AS node_id FROM adj
         |), reach AS (
         |  SELECT node_id AS a, node_id AS b FROM nodes
         |  UNION
         |  SELECT r.a, ad.dst FROM reach r JOIN adj ad ON ad.src = r.b
         |), clusters AS (
         |  SELECT a AS node_id, min(b) AS cluster_id FROM reach GROUP BY a
         |)
         |SELECT em.vec_id, em.label,
         |  coalesce(c.cluster_id, em.vec_id) AS cluster_id,
         |  em.vec_id = coalesce(c.cluster_id, em.vec_id) AS keep
         |FROM embeddings em LEFT JOIN clusters c ON em.vec_id = c.node_id
         |ORDER BY em.vec_id""".stripMargin,
    "sim_knn_classify" ->
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS q_emb, label AS true_label
         |  FROM embeddings WHERE vec_id < 20
         |), top5 AS (
         |  SELECT qid, true_label, label, vec_id
         |  FROM (
         |    SELECT q.qid, q.true_label, e.label, e.vec_id,
         |      round(${duckCosine("e.embedding", "q.q_emb")}, 6) AS cos_sim
         |    FROM embeddings e CROSS JOIN q WHERE e.vec_id >= 20)
         |  QUALIFY row_number() OVER (PARTITION BY qid
         |    ORDER BY cos_sim DESC, vec_id) <= 5
         |), votes AS (
         |  SELECT qid, true_label, label, count(*) AS votes
         |  FROM top5 GROUP BY qid, true_label, label
         |)
         |SELECT qid AS vec_id, true_label, label AS pred_label,
         |  CAST(votes AS BIGINT) AS votes,
         |  CAST(CASE WHEN true_label = label THEN 1 ELSE 0 END AS INT) AS correct
         |FROM votes
         |QUALIFY row_number() OVER (PARTITION BY qid
         |  ORDER BY votes DESC, label) = 1
         |ORDER BY vec_id""".stripMargin,
    "sim_matryoshka_eval" -> {
      def sliced(dim: Int) = duckCosine(s"c.embedding[1:$dim]", s"q.q_emb[1:$dim]")
      s"""WITH q AS (
         |  SELECT vec_id AS qid, embedding AS q_emb FROM embeddings
         |  WHERE vec_id < 10
         |), c AS (
         |  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10
         |), s AS (
         |  SELECT q.qid, c.vec_id,
         |    round(${sliced(8)}, 6) AS c8,
         |    round(${sliced(16)}, 6) AS c16,
         |    round(${sliced(32)}, 6) AS c32,
         |    round(${sliced(64)}, 6) AS c64
         |  FROM c CROSS JOIN q
         |), t8 AS (
         |  SELECT qid, vec_id FROM s
         |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY c8 DESC, vec_id) <= 10
         |), t16 AS (
         |  SELECT qid, vec_id FROM s
         |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY c16 DESC, vec_id) <= 10
         |), t32 AS (
         |  SELECT qid, vec_id FROM s
         |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY c32 DESC, vec_id) <= 10
         |), t64 AS (
         |  SELECT qid, vec_id FROM s
         |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY c64 DESC, vec_id) <= 10
         |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_possible FROM t64)
         |SELECT dim, n_hits, n_possible,
         |  CAST((n_hits * 100) // n_possible AS BIGINT) AS recall_x100
         |FROM (
         |  SELECT CAST(8 AS BIGINT) AS dim,
         |    (SELECT CAST(count(*) AS BIGINT) FROM t8 JOIN t64 USING (qid, vec_id)) AS n_hits
         |  UNION ALL
         |  SELECT CAST(16 AS BIGINT),
         |    (SELECT CAST(count(*) AS BIGINT) FROM t16 JOIN t64 USING (qid, vec_id))
         |  UNION ALL
         |  SELECT CAST(32 AS BIGINT),
         |    (SELECT CAST(count(*) AS BIGINT) FROM t32 JOIN t64 USING (qid, vec_id))
         |), n
         |ORDER BY dim""".stripMargin
    },
    "sim_bitext_mine" ->
      s"""WITH q AS (
         |  SELECT vec_id AS src_id, embedding AS s_emb FROM embeddings
         |  WHERE label = 0 AND vec_id < 60
         |), t AS (
         |  SELECT vec_id AS tgt_id, embedding FROM embeddings WHERE label = 1
         |), sc AS (
         |  SELECT t.tgt_id, q.src_id,
         |    CAST(round(${duckCosine("t.embedding", "q.s_emb")} * 1000000, 0) AS BIGINT)
         |      + 1000000 AS css
         |  FROM t CROSS JOIN q
         |), rk AS (
         |  SELECT tgt_id, src_id, css,
         |    row_number() OVER (PARTITION BY src_id ORDER BY css DESC, tgt_id) AS rnf,
         |    row_number() OVER (PARTITION BY tgt_id ORDER BY css DESC, src_id) AS rnb
         |  FROM sc
         |), fwd AS (
         |  SELECT src_id,
         |    CAST(sum(css) // count(*) AS BIGINT) AS avgfs,
         |    max(CASE WHEN rnf = 1 THEN tgt_id END) AS tgt_id,
         |    max(CASE WHEN rnf = 1 THEN css END) AS bests
         |  FROM rk WHERE rnf <= 4 GROUP BY src_id
         |), bwd AS (
         |  SELECT tgt_id, CAST(sum(css) // count(*) AS BIGINT) AS avgbs
         |  FROM rk WHERE rnb <= 4 GROUP BY tgt_id
         |)
         |SELECT f.src_id AS src_id, f.tgt_id AS tgt_id,
         |  CAST(f.bests - 1000000 AS BIGINT) AS cos_x1e6,
         |  CAST(f.bests - (f.avgfs + b.avgbs) // 2 AS BIGINT) AS margin_x1e6,
         |  f.bests - (f.avgfs + b.avgbs) // 2 > 0 AS accepted
         |FROM fwd f JOIN bwd b USING (tgt_id)
         |ORDER BY src_id""".stripMargin)
}
