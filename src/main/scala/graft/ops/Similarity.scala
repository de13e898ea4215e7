package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Approximate-nearest-neighbor search over the embedding column
  * (`Array[Float]`, 64-dim).
  *
  * Baseline: brute-force cosine top-k — a single broadcast of the query
  * vector, one pass over the corpus, TakeOrdered for the top-k. Scale
  * path: random-hyperplane LSH bucketing — the corpus is hashed into
  * 2^8 sign-pattern buckets once (embarrassingly parallel), queries
  * probe only their own bucket, turning top-k into a bucket-local scan
  * (≈1/256 of the data per probe at 100 TB; multi-probe = flip bits).
  *
  * All arithmetic is double, folded left-to-right (functions.aggregate),
  * so a SQL oracle reproduces bit-identical sums. Hyperplanes are
  * md5-derived constants — deterministic and reproducible in SQL.
  */
object Similarity {

  private def asDouble(c: Column): Column =
    transform(c, x => x.cast("double"))

  /** In-order fold dot product — the native expression (tight codegen
    * loop; the HOF `aggregate(zip_with(...))` form evaluates its
    * lambdas interpreted per element). Bit-identical to the lambda
    * fold and to DuckDB's `list_inner_product`.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.DotExpr.dot(a, b)

  private def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Brute-force cosine top-10 against the vec_id=0 query vector. */
  def knnBrute(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("le"))
    val q = e.filter(col("vec_id") === 0)
      .select(col("le").as("qe"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosine(col("le"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** FILTERED vector search — the metadata-predicated top-k every
    * retrieval/serving stack actually runs ("nearest English docs",
    * "nearest docs from source X"): attach the metadata, apply the
    * predicate BEFORE the distance kernel, then score and TakeOrdered.
    * Pre-filtering is the scale-correct order: the predicate's
    * selectivity directly cuts the dot-product work AND guarantees k
    * results whenever k matches exist — post-filtering (score global
    * top-k, then filter) reads every vector and can return fewer than
    * k rows for a selective predicate, the classic vector-store
    * gotcha. At volume the metadata attach is a doc-keyed join that
    * bucketing/co-partitioning makes shuffle-free (embeddings and
    * documents share the id keyspace by construction); with an IVF
    * index the same predicate intersects the cell posting lists
    * instead.
    */
  def knnFiltered(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("le"))
    val meta = documents(s, d)
      .select(col("doc_id").as("vec_id"), col("lang"))
    val q = e.filter(col("vec_id") === 0).select(col("le").as("qe"))
    e.filter(col("vec_id") =!= 0)
      .join(meta, "vec_id")
      .filter(col("lang") === "en")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("lang"),
        round(cosine(col("le"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** HYBRID retrieval — the two-retriever pipeline production RAG
    * stacks run: a lexical BM25 top-20 (TextAnalysis.bm25) and a
    * vector cosine top-20 are fused by Reciprocal Rank Fusion,
    * rrf(d) = Σ_retrievers 1/(60 + rank_r(d)) — the standard
    * training-free fusion (Cormack et al.'s 60 constant), here in
    * integer micro-units (1000000 DIV (60 + rank)) so the fused score
    * is engine-exact. Rank fusion beats score fusion operationally
    * because BM25 and cosine live on incomparable scales; ranks need
    * no calibration.
    *
    * Shape at 100 TB: each retriever is a corpus-scale scan funneled
    * through TakeOrdered into a ≤20-row frame; the ranking windows and
    * the full-outer fuse join run on those bounded frames only — the
    * single-partition window is 20 rows by construction, not a funnel.
    */
  def hybrid(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("le"))
    val q = e.filter(col("vec_id") === 0).select(col("le").as("qe"))
    val vecTop = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(cosine(col("le"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("doc_id"))
      .limit(20)
    val vecRank = vecTop.withColumn("r_vec",
      row_number().over(Window.orderBy(col("sim").desc, col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("r_vec"))
    val bmRank = TextAnalysis.bm25(s, d).withColumn("r_bm",
      row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id")))
        .cast("long"))
      .select(col("doc_id"), col("r_bm"))
    bmRank.join(vecRank, Seq("doc_id"), "outer")
      .withColumn("rrf_micro",
        coalesce(expr("1000000 DIV (60 + r_bm)"), lit(0L))
          + coalesce(expr("1000000 DIV (60 + r_vec)"), lit(0L)))
      .orderBy(col("rrf_micro").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("r_bm"), col("r_vec"), col("rrf_micro"))
  }

  /** Deterministic pseudo-random hyperplanes from md5 (j = plane,
    * d = dimension) — reproducible in any engine with md5.
    */
  def hyperplane(j: Int, dims: Int): Seq[Double] = {
    val mdd = java.security.MessageDigest.getInstance("MD5")
    (0 until dims).map { dd =>
      val h = mdd.digest(s"${j}_$dd".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(h, 16) % 2001 - 1000) / 1000.0
    }
  }

  private val nPlanes = 8

  private def bucketCol(le: Column): Column =
    concat((0 until nPlanes).map { j =>
      when(dot(le, typedLit(hyperplane(j, 64))) >= 0, "1").otherwise("0")
    }: _*)

  /** LSH-bucketed ANN: top-5 cosine within the query's sign bucket. */
  def knnLsh(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("le"))
      .withColumn("bucket", bucketCol(col("le")))
    val q = e.filter(col("vec_id") === 0)
      .select(col("bucket").as("qb"), col("le").as("qe"))
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(q), col("bucket") === col("qb"))
      .select(col("vec_id"),
        round(cosine(col("le"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  /** Multi-probe LSH ANN: the query probes its own sign bucket PLUS the
    * 8 buckets at Hamming distance 1 (one hyperplane bit flipped) —
    * the standard recall knob: a true neighbor that falls on the wrong
    * side of exactly one hyperplane is still found, at 9/256 of the
    * corpus instead of 1/256. The probe set stays a tiny broadcast
    * (9 rows); each corpus vector still lives in exactly one bucket, so
    * candidates are duplicate-free by construction.
    */
  def knnLshMultiProbe(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("le"))
      .withColumn("bucket", bucketCol(col("le")))
    val q0 = e.filter(col("vec_id") === 0)
      .select(col("bucket").as("qb0"), col("le").as("qe"))
    val probes = array((0 to nPlanes).map { i =>
      if (i == 0) col("qb0")
      else concat(
        substring(col("qb0"), 1, i - 1),
        when(substring(col("qb0"), i, 1) === "1", "0").otherwise("1"),
        substring(col("qb0"), i + 1, nPlanes - i))
    }: _*)
    val q = q0.select(explode(probes).as("qb"), col("qe"))
    e.filter(col("vec_id") =!= 0)
      .join(broadcast(q), col("bucket") === col("qb"))
      .select(col("vec_id"),
        round(cosine(col("le"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  /** Batch kNN: top-3 cosine neighbors for EACH of the 10 query vectors
    * (vec_id < 10) in one pass. The query block broadcasts (a query
    * batch is KBs against a 100 TB corpus), so the similarity compute is
    * narrow; the top-k then runs in TWO stages — rank within
    * (query, corpus-salt) first, rank the ≤ 3·64 survivors per query
    * second — because a single window keyed on 10 query ids would funnel
    * the whole corpus through 10 reducers (the low-cardinality window
    * bottleneck). Two-stage top-k is exact: a row outside a salt-local
    * top-3 can never be in the global top-3.
    */
  def knnBatch(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("le"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("le").as("qe"))
    val scored = e.filter(col("vec_id") >= 10)
      .crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("le"), col("qe")), 6).as("sim"))
      .withColumn("salt", pmod(col("vec_id"), lit(64)))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("qid", "salt")
      .orderBy(col("sim").desc, col("vec_id"))
    val wGlobal = org.apache.spark.sql.expressions.Window
      .partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rn", row_number().over(wLocal))
      .filter(col("rn") <= 3)
      .withColumn("rank", row_number().over(wGlobal))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("vec_id"), col("sim"))
  }

  /** Embedding-cosine near-dup pairs: LSH-bucketed candidate join, then
    * exact cosine filter — the approximate-dedup contract (pairs in
    * different buckets are by design not candidates); cost stays
    * O(bucket²·buckets), never all-pairs.
    */
  def embedDupPairs(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("le"))
      .withColumn("bucket", bucketCol(col("le")))
    val a = e.select(col("vec_id").as("va"), col("le").as("la"), col("bucket"))
    val b = e.select(col("vec_id").as("vb"), col("le").as("lb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("va") < col("vb"))
      .select(col("va"), col("vb"),
        round(cosine(col("la"), col("lb")), 6).as("sim"))
      .filter(col("sim") >= 0.3)
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * query vector (the first 10), the 3 most-similar corpus vectors
    * carrying a DIFFERENT label (the negatives that sit closest to the
    * decision boundary are the ones worth training on). Same broadcast
    * + two-stage salted top-k as `knnBatch` — the label inequality is
    * a residual predicate on the broadcast join, so the scan shape is
    * unchanged and the window never funnels the corpus through 10
    * reducers.
    */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("label"),
      asDouble(col("embedding")).as("le"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("le").as("qe"))
    val scored = e.filter(col("vec_id") >= 10)
      .join(broadcast(q), col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id"),
        round(cosine(col("le"), col("qe")), 6).as("sim"))
      .withColumn("salt", pmod(col("vec_id"), lit(64)))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("qid", "salt")
      .orderBy(col("sim").desc, col("vec_id"))
    val wGlobal = org.apache.spark.sql.expressions.Window
      .partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rn", row_number().over(wLocal))
      .filter(col("rn") <= 3)
      .withColumn("rank", row_number().over(wGlobal))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("rank"), col("vec_id"), col("sim"))
  }

  /** Squared L2 distance from three in-order inner products — the same
    * arithmetic as the SQL oracle (a zip-fold difference would sum in a
    * different order and drift in the last ulp).
    */
  private def dist2(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Nearest-cell assignment for the fixed 16-centroid coarse
    * quantizer (centroids = the first 16 vectors — deterministic; a
    * trained quantizer would slot in identically). One broadcast of
    * the centroid block, one map-side argmin per vector, one shuffle.
    * Shared by the IVF probe path and the semantic-dedup pruner.
    */
  private[ops] def ivfAssign(s: SparkSession, d: String, k: Long = 16L): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("le"))
    val cents = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("le").as("ce"))
    e.crossJoin(broadcast(cents))
      .withColumn("d2", dist2(col("le"), col("ce")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("best"),
        first(col("le")).as("le"))
      .select(col("vec_id"), col("best.cid").as("cell"), col("le"))
  }

  /** Cell count for the semantic-dedup quantizer: ⌈√N⌉ cells (floor
    * 16) — the balance point of the pruner's TWO cost terms.
    * SemDeDup's within-cell pair kernel costs ~N²/k inner products
    * and the brute-force cell assignment costs k·N; a FIXED k lets
    * the pair term grow quadratically (measured sf0.1→sf1 slope 3.9×
    * and accelerating), k ∝ N makes the ASSIGNMENT the quadratic term
    * (measured 3.1×), and k = √N equalizes both at N^1.5 total flops —
    * measured slope 1.8× for 10× data at these sizes. k growing with
    * the corpus is the published SemDeDup scale knob (cluster count
    * tracks corpus size); the fixed 16 stays right for the IVF probe
    * paths, whose per-cell work is linear.
    */
  private[ops] def dedupCells(n: Long): Long =
    math.max(16L, math.ceil(math.sqrt(n.toDouble)).toLong)

  /** TRAINED coarse quantizer for the semantic-dedup pruner (round 12
    * — delivers the promise the first-k quantizer carried): Lloyd's
    * k-means with k = dedupCells(N), first-k seeds, and
    * exactly TWO exact update rounds (fixed — mirrored by the oracle), in the
    * Clustering discipline so the DuckDB oracle replays it
    * bit-for-bit: vectors in micro-unit BIGINTs, distances as integer
    * sums (order-independent; the oracle's double d² algebra is exact
    * too — every term stays under 2^53), centroid mean = one
    * correctly-rounded HALF_UP division per (cell, dim), identical
    * under IEEE 754 everywhere. A cell that loses all members simply
    * drops out of the next round on BOTH engines.
    *
    * Each update round is ONE narrow argmin pass (k-row broadcast
    * join) plus ONE (cell, dim)-keyed aggregation whose k·dims-row
    * result is the canonical bounded k-means collect — never O(N)
    * driver data. The result is MEMOIZED per (session, corpus
    * fingerprint): a coarse quantizer is a trained INDEX artifact —
    * train once, assign many — so queries built after the first call
    * are lazy plans over the cached centroid table (the
    * build-time-eagerness ADVICE on the old N-count applies only to
    * the first build per session).
    */
  private val centMemo =
    graft.SourceMemo[(SparkSession, String), (DataFrame, Long)]()

  /** Lloyd iteration count — FIXED at 2, not a conf: the DuckDB oracle
    * unrolls exactly this many update rounds (dedupCellSql splices
    * dedupKmeansIter twice), so a runtime knob would silently break
    * oracle agreement the moment anyone set it.
    */
  private val kmeansIters = 2

  private[ops] def trainedCells(s: SparkSession, d: String)
      : (DataFrame, Long) = {
    // superseded entries carry no storage (the centroid frame is a
    // local relation; the training scratch is released inside the
    // build) — replacement is just a map update
    centMemo((s, d), graft.Tables.fingerprint(d, "embeddings"), Nil) {
      val vecs = embeddings(s, d)
        .select(col("vec_id"), Clustering.microVec(col("embedding"))
          .as("m"))
        .localCheckpoint(true)
      val k = dedupCells(vecs.count())
      val iters = kmeansIters
      // centroid frames are k-row LOCAL relations at every step (the
      // seed is a bounded k-row collect, updates come from the k·dims
      // aggregation collect) — no checkpoint, no storage, and no
      // lineage into the training scratch frame, so releasing `vecs`
      // below is safe regardless of the iteration count
      var cents = s.createDataFrame(
        vecs.filter(col("vec_id") < k)
          .select(col("vec_id"), col("m")).collect()
          .map(r => (r.getLong(0), r.getSeq[Long](1)))
          .sortBy(_._1).toSeq)
        .toDF("cid", "cm")
      for (_ <- 1 to iters) {
        val asg = vecs.crossJoin(broadcast(cents))
          .withColumn("d2",
            graft.functions.LongVecExprs.sqDist(col("m"), col("cm")))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("d2"), col("cid"))).as("b"),
            first(col("m")).as("m"))
          .select(col("b.cid").as("cid"), col("m"))
        val rows = asg
          .select(col("cid"), posexplode(col("m")).as(Seq("dim", "v")))
          .groupBy("cid", "dim")
          .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
          .collect() // bounded: ≤ k·dims rows, never O(N)
          .map(r => (r.getLong(0), r.getInt(1),
            // HALF_UP (ties away from zero) — matches SQL round();
            // math.round breaks ties toward +inf on negatives
            BigDecimal(r.getLong(2).toDouble / r.getLong(3))
              .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong))
        val next = rows.groupBy(_._1).toSeq.map { case (cid, rs) =>
          (cid, rs.sortBy(_._2).map(_._3).toSeq)
        }.sortBy(_._1)
        cents = s.createDataFrame(next).toDF("cid", "cm")
      }
      // the training scratch frame is not read after the block —
      // release it so the memo holds no session storage at all
      vecs.unpersist(blocking = false)
      (cents, k)
    }
  }

  /** Final assignment against the trained centroids: same plan shape
    * as `ivfAssign` (k-row broadcast + argmin), carrying the DOUBLE
    * vector for the downstream cosine kernel.
    */
  private[ops] def dedupAssign(s: SparkSession, d: String): DataFrame = {
    val (cents, _) = trainedCells(s, d)
    embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("le"),
        Clustering.microVec(col("embedding")).as("m"))
      .crossJoin(broadcast(cents))
      .withColumn("d2",
        graft.functions.LongVecExprs.sqDist(col("m"), col("cm")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("best"),
        first(col("le")).as("le"))
      .select(col("vec_id"), col("best.cid").as("cell"), col("le"))
  }

  /** SemDeDup-style semantic pruning: cluster with the TRAINED
    * coarse quantizer (trainedCells — k-means, round 12), compare
    * cosine ONLY within a cell, and prune every
    * vector that has a lower-id cell-mate above the similarity
    * threshold (`dup_of` = its lowest-id such witness). Cluster-then-
    * prune bounds the pairwise work to O(cell²·cells) — the cross-cell
    * pairs an all-pairs pass would add are by design not candidates —
    * and each cell's pair block shuffles independently, so the op
    * scales out with the quantizer's cell count at 100 TB.
    */
  def semanticDedup(s: SparkSession, d: String): DataFrame =
    semanticDedupWith(dedupAssign(s, d))

  /** The within-cell pruner over an arbitrary (vec_id, cell, le)
    * assignment — split out so the quantizer-quality spec can compare
    * the TRAINED quantizer against the first-k seeds on the identical
    * pair kernel (SemanticQuantizerSpec).
    */
  private[ops] def semanticDedupWith(assigned0: DataFrame): DataFrame = {
    // norm computed ONCE per vector before the pair fan-out — inside
    // the pair expression it would rerun per candidate (2/3 of the
    // pair kernel's flops for identical values; same expression tree
    // as the oracle's per-pair sqrt, so values agree bit-for-bit)
    val assigned = assigned0
      .withColumn("nrm", sqrt(dot(col("le"), col("le"))))
    val a = assigned.select(col("cell"), col("vec_id").as("va"),
      col("le").as("la"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("vec_id").as("vb"),
      col("le").as("lb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("va") < col("vb"))
      .select(col("vb"), col("va"),
        round(dot(col("la"), col("lb")) / (col("na") * col("nb")), 6)
          .as("sim"))
      .filter(col("sim") >= 0.3)
      .groupBy(col("vb"))
      .agg(min(struct(col("va"), col("sim"))).as("w"))
      .select(col("vb").as("vec_id"), col("w.va").as("dup_of"),
        col("w.sim").as("sim"))
  }

  /** IVF multi-probe: the query probes its TWO nearest cells instead
    * of one — the nprobe recall knob every IVF index exposes (a true
    * neighbor just across a cell boundary is found at 2/16 of the
    * corpus instead of 1/16). The probe set is a 2-row broadcast;
    * corpus vectors still live in exactly one cell, so candidates stay
    * duplicate-free.
    */
  def knnIvfMultiProbe(s: SparkSession, d: String): DataFrame = {
    val assigned = ivfAssign(s, d)
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("le"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("le").as("ce"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("d2"), col("cid"))
    val qCells = e.filter(col("vec_id") === 0)
      .crossJoin(broadcast(cents))
      .withColumn("d2", dist2(col("le"), col("ce")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("cid").as("qcell"), col("le").as("qe"))
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(qCells), col("cell") === col("qcell"))
      .select(col("vec_id"),
        round(cosine(col("le"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  /** IVF-style ANN: every vector assigned to its nearest coarse cell
    * once, queries probe only their own cell. The inverted-list
    * counterpart to the hyperplane LSH path.
    */
  def knnIvf(s: SparkSession, d: String): DataFrame = {
    val assigned = ivfAssign(s, d)
    val q = assigned.filter(col("vec_id") === 0)
      .select(col("cell").as("qcell"), col("le").as("qe"))
    assigned.filter(col("vec_id") =!= 0)
      .join(broadcast(q), col("cell") === col("qcell"))
      .select(col("vec_id"),
        round(cosine(col("le"), col("qe")), 6).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
  }

  /** ANN quality audit — recall@5 of the single-probe IVF search
    * against the exact brute-force ground truth, per query vector
    * (queries = vec_id < 10, corpus = the rest; the `knnBatch` block
    * convention). The measurement every ANN deployment runs before
    * trusting an index: how much of the true neighborhood does the
    * cheap probe see?
    *
    * ONE pass over the scored candidates computes BOTH rankings — the
    * probe ranking sorts in-cell rows first, so there is no second
    * scan, no self-join of two top-k results, and no duplicated
    * scoring subtree in the plan. Both rankings are salted two-stage
    * top-k (map-side cut to ≤k per salt, exact rank over the ≤64·k
    * survivors), so the per-query funnel is bounded regardless of
    * corpus size. recall_micro is exact integer arithmetic
    * (1e6·hits DIV k) — no float division to drift across engines.
    */
  private def recallAtK(s: SparkSession, d: String, nProbe: Int)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 5
    val assigned = ivfAssign(s, d)
    // per-query probe set: the nProbe nearest coarse cells (nProbe = 1
    // reduces to the single-probe assignment). 10 queries × 16
    // centroids — a broadcast-sized frame however large the corpus.
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("le"))
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("le").as("ce"))
    val wq = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2"), col("cid"))
    val q = e.filter(col("vec_id") < 10)
      .crossJoin(broadcast(cents))
      .withColumn("d2", dist2(col("le"), col("ce")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .groupBy(col("vec_id"))
      .agg(collect_set(col("cid")).as("probe_cells"),
        first(col("le")).as("qe"))
      .select(col("vec_id").as("qid"), col("probe_cells"), col("qe"))
    val scored = assigned.filter(col("vec_id") >= 10)
      .crossJoin(broadcast(q))
      .select(col("qid"), col("vec_id"),
        array_contains(col("probe_cells"), col("cell")).cast("int")
          .as("in_cell"),
        round(cosine(col("le"), col("qe")), 6).as("sim"))
      .withColumn("salt", pmod(col("vec_id"), lit(64)))
    val wSaltAll = Window.partitionBy("qid", "salt")
      .orderBy(col("sim").desc, col("vec_id"))
    val wSaltCell = Window.partitionBy("qid", "salt")
      .orderBy(col("in_cell").desc, col("sim").desc, col("vec_id"))
    val pruned = scored
      .withColumn("ra", row_number().over(wSaltAll))
      .withColumn("rc", row_number().over(wSaltCell))
      .filter(col("ra") <= k || (col("in_cell") === 1 && col("rc") <= k))
    val wAll = Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id"))
    val wCell = Window.partitionBy("qid")
      .orderBy(col("in_cell").desc, col("sim").desc, col("vec_id"))
    // in-cell survivors sort before every out-of-cell row under wCell,
    // so rank_cell ≤ k ∧ in_cell picks exactly the probe's top-k
    pruned
      .withColumn("is_truth", row_number().over(wAll) <= k)
      .withColumn("is_probe",
        col("in_cell") === 1 && row_number().over(wCell) <= k)
      .groupBy(col("qid"))
      .agg(sum(when(col("is_truth") && col("is_probe"), 1L)
        .otherwise(0L)).as("hit_sum"))
      .selectExpr("qid", "CAST(hit_sum AS BIGINT) AS n_hit",
        s"CAST((1000000 * hit_sum) DIV $k AS BIGINT) AS recall_micro")
  }

  def knnRecall(s: SparkSession, d: String): DataFrame =
    recallAtK(s, d, 1)

  /** The other end of the recall/cost knob: probing the 2 nearest
    * cells. Read next to `knnRecall` this IS the IVF tuning table —
    * how much recall the second probe buys for 2× the probed volume.
    */
  def knnRecallMultiProbe(s: SparkSession, d: String): DataFrame =
    recallAtK(s, d, 2)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_knn_brute" -> (knnBrute _),
    "q_knn_filtered" -> (knnFiltered _),
    "q_knn_hybrid" -> (hybrid _),
    "q_knn_batch" -> (knnBatch _),
    "q_knn_lsh" -> (knnLsh _),
    "q_knn_lsh_multiprobe" -> (knnLshMultiProbe _),
    "q_knn_ivf" -> (knnIvf _),
    "q_knn_ivf_multiprobe" -> (knnIvfMultiProbe _),
    "q_dedup_embed" -> (embedDupPairs _),
    "q_dedup_semantic" -> (semanticDedup _),
    "q_knn_hardneg" -> (hardNegatives _),
    "q_knn_recall" -> (knnRecall _),
    "q_knn_recall_mp" -> (knnRecallMultiProbe _),
  )

  /** DuckDB mirror of `ivfAssign` — nearest coarse cell per vector. */
  private val cellSql: String =
    """v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS le
      |      FROM embeddings),
      |cents AS (SELECT vec_id AS cid, le AS ce FROM v WHERE vec_id < 16),
      |asg AS (
      |  SELECT v.vec_id, v.le, c.cid,
      |    list_inner_product(v.le, v.le)
      |      - 2.0 * list_inner_product(v.le, c.ce)
      |      + list_inner_product(c.ce, c.ce) AS d2
      |  FROM v, cents c),
      |cell AS (
      |  SELECT vec_id, le, cid AS cell FROM (
      |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM asg) t WHERE rn = 1)""".stripMargin

  /** DuckDB mirror of `trainedCells` + `dedupAssign` — the TRAINED
    * semantic-dedup quantizer, replayed exactly: k = greatest(16,
    * ⌈√N⌉) first-k seeds, two Lloyd update rounds in micro-unit space
    * (round(x·1e6) — exact integer values carried as doubles, so
    * list_inner_product's d² algebra is exact: every term stays under
    * 2^53), centroid mean = round(sum/count) per (cell, dim) — the sum
    * of exact integers is order-independent and the one division is
    * correctly rounded IEEE, identical to the Scala HALF_UP — then a
    * final assignment with the same (d2, cid) tie order.
    */
  private def dedupKmeansIter(prev: String, cur: String): String =
    s"""a$cur AS (
       |  SELECT vec_id, md, cid FROM (
       |    SELECT v.vec_id, v.md, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |        (list_inner_product(v.md, v.md)
       |         - 2.0 * list_inner_product(v.md, c.cm)
       |         + list_inner_product(c.cm, c.cm)), c.cid) AS rn
       |    FROM v, $prev c) t WHERE rn = 1),
       |c$cur AS (
       |  SELECT cid, list(val ORDER BY dim) AS cm FROM (
       |    SELECT cid, dim, round(sum(x) / count(*)) AS val
       |    FROM (SELECT cid, unnest(md) AS x,
       |            generate_subscripts(md, 1) AS dim FROM a$cur) u
       |    GROUP BY cid, dim) g
       |  GROUP BY cid)""".stripMargin

  private val dedupCellSql: String =
    s"""v AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> round(x::DOUBLE * 1e6)) AS md,
       |    list_transform(embedding, x -> x::DOUBLE) AS le
       |  FROM embeddings),
       |kk AS (SELECT greatest(16, ceil(sqrt(count(*)))::BIGINT) AS k FROM v),
       |c0 AS (SELECT vec_id AS cid, md AS cm FROM v
       |       WHERE vec_id < (SELECT k FROM kk)),
       |${dedupKmeansIter("c0", "1")},
       |${dedupKmeansIter("c1", "2")},
       |cell AS (
       |  SELECT a.vec_id, a.cid AS cell, v.le FROM (
       |    SELECT vec_id, cid FROM (
       |      SELECT v.vec_id, c.cid,
       |        row_number() OVER (PARTITION BY v.vec_id ORDER BY
       |          (list_inner_product(v.md, v.md)
       |           - 2.0 * list_inner_product(v.md, c.cm)
       |           + list_inner_product(c.cm, c.cm)), c.cid) AS rn
       |      FROM v, c2 c) t WHERE rn = 1) a
       |  JOIN v ON a.vec_id = v.vec_id)""".stripMargin

  private val cosSql =
    "list_inner_product(e.le, q.qe) / (sqrt(list_inner_product(e.le, e.le)) * sqrt(list_inner_product(q.qe, q.qe)))"

  val oracles: Map[String, String] = Map(
    "q_knn_ivf_multiprobe" ->
      s"""WITH $cellSql,
         |qc AS (
         |  SELECT cid AS qcell, le AS qe FROM (
         |    SELECT cid, le, row_number() OVER (ORDER BY d2, cid) AS rn
         |    FROM asg WHERE vec_id = 0) t WHERE rn <= 2),
         |e AS (SELECT vec_id, le, cell FROM cell WHERE vec_id <> 0)
         |SELECT e.vec_id,
         |  round(list_inner_product(e.le, qc.qe) /
         |    (sqrt(list_inner_product(e.le, e.le)) *
         |     sqrt(list_inner_product(qc.qe, qc.qe))), 6) AS sim
         |FROM e JOIN qc ON e.cell = qc.qcell
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,
    "q_knn_hardneg" ->
      s"""WITH v AS (SELECT vec_id, label,
         |             list_transform(embedding, x -> x::DOUBLE) AS le
         |           FROM embeddings),
         |q AS (SELECT vec_id AS qid, label AS qlabel, le AS qe
         |      FROM v WHERE vec_id < 10),
         |e AS (SELECT * FROM v WHERE vec_id >= 10),
         |scored AS (
         |  SELECT q.qid, e.vec_id, round($cosSql, 6) AS sim
         |  FROM e JOIN q ON e.label <> q.qlabel)
         |SELECT qid, rank, vec_id, sim FROM (
         |  SELECT qid, vec_id, sim,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, vec_id) AS rank
         |  FROM scored) t
         |WHERE rank <= 3""".stripMargin,
    "q_knn_recall" ->
      s"""WITH $cellSql,
         |q AS (SELECT vec_id AS qid, cell AS qcell, le AS qe FROM cell
         |      WHERE vec_id < 10),
         |e AS (SELECT vec_id, le, cell FROM cell WHERE vec_id >= 10),
         |scored AS (
         |  SELECT q.qid, q.qcell, e.cell, e.vec_id,
         |    round($cosSql, 6) AS sim
         |  FROM e, q),
         |truth AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vec_id) AS rn FROM scored) t
         |  WHERE rn <= 5),
         |probe AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vec_id) AS rn
         |  FROM scored WHERE cell = qcell) t
         |  WHERE rn <= 5),
         |hits AS (SELECT t.qid, count(*) AS n FROM truth t
         |  JOIN probe p ON t.qid = p.qid AND t.vec_id = p.vec_id
         |  GROUP BY t.qid)
         |SELECT q.qid, coalesce(n, 0)::BIGINT AS n_hit,
         |  ((1000000 * coalesce(n, 0)) // 5)::BIGINT AS recall_micro
         |FROM q LEFT JOIN hits ON q.qid = hits.qid""".stripMargin,
    "q_knn_recall_mp" ->
      s"""WITH $cellSql,
         |qp AS (SELECT vec_id AS qid, cid AS pcell FROM (
         |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY d2, cid) AS rn
         |  FROM asg WHERE vec_id < 10) t WHERE rn <= 2),
         |q AS (SELECT vec_id AS qid, le AS qe FROM cell
         |      WHERE vec_id < 10),
         |e AS (SELECT vec_id, le, cell FROM cell WHERE vec_id >= 10),
         |scored AS (
         |  SELECT q.qid, e.cell, e.vec_id, round($cosSql, 6) AS sim
         |  FROM e, q),
         |truth AS (SELECT qid, vec_id FROM (
         |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |    ORDER BY sim DESC, vec_id) AS rn FROM scored) t
         |  WHERE rn <= 5),
         |probe AS (SELECT qid, vec_id FROM (
         |  SELECT s.qid, s.vec_id, row_number() OVER (PARTITION BY s.qid
         |    ORDER BY s.sim DESC, s.vec_id) AS rn
         |  FROM scored s JOIN qp ON qp.qid = s.qid AND qp.pcell = s.cell) t
         |  WHERE rn <= 5),
         |hits AS (SELECT t.qid, count(*) AS n FROM truth t
         |  JOIN probe p ON t.qid = p.qid AND t.vec_id = p.vec_id
         |  GROUP BY t.qid)
         |SELECT q.qid, coalesce(n, 0)::BIGINT AS n_hit,
         |  ((1000000 * coalesce(n, 0)) // 5)::BIGINT AS recall_micro
         |FROM q LEFT JOIN hits ON q.qid = hits.qid""".stripMargin,
    "q_dedup_semantic" ->
      s"""WITH $dedupCellSql,
         |p AS (
         |  SELECT x.vec_id AS va, y.vec_id AS vb,
         |    round(list_inner_product(x.le, y.le) /
         |      (sqrt(list_inner_product(x.le, x.le)) *
         |       sqrt(list_inner_product(y.le, y.le))), 6) AS sim
         |  FROM cell x JOIN cell y
         |    ON x.cell = y.cell AND x.vec_id < y.vec_id)
         |SELECT vb AS vec_id, va AS dup_of, sim FROM (
         |  SELECT vb, va, sim,
         |    row_number() OVER (PARTITION BY vb ORDER BY va) AS rn
         |  FROM p WHERE sim >= 0.3) t
         |WHERE rn = 1""".stripMargin,
    "q_knn_batch" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS le
         |           FROM embeddings),
         |     q AS (SELECT vec_id AS qid, le AS qe FROM v WHERE vec_id < 10),
         |     e AS (SELECT * FROM v WHERE vec_id >= 10),
         |scored AS (
         |  SELECT q.qid, e.vec_id, round($cosSql, 6) AS sim
         |  FROM e, q)
         |SELECT qid, rank, vec_id, sim FROM (
         |  SELECT qid, vec_id, sim,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY sim DESC, vec_id) AS rank
         |  FROM scored) t
         |WHERE rank <= 3""".stripMargin,
    "q_knn_brute" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS le
         |           FROM embeddings),
         |     q AS (SELECT le AS qe FROM v WHERE vec_id = 0),
         |     e AS (SELECT * FROM v WHERE vec_id <> 0)
         |SELECT e.vec_id, round($cosSql, 6) AS sim
         |FROM e, q ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    // composes the BM25 oracle verbatim as a subquery (one definition,
    // TextAnalysis.bm25Sql) with the brute-force vector oracle; RRF on
    // BIGINT ranks is engine-exact by construction
    "q_knn_hybrid" ->
      s"""WITH bm AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY score_micro DESC, doc_id) AS r_bm
         |  FROM (${TextAnalysis.bm25Sql}) b),
         |v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS le
         |      FROM embeddings),
         |q AS (SELECT le AS qe FROM v WHERE vec_id = 0),
         |vt AS (SELECT e.vec_id AS doc_id, round($cosSql, 6) AS sim
         |       FROM (SELECT * FROM v WHERE vec_id <> 0) e, q
         |       ORDER BY sim DESC, doc_id LIMIT 20),
         |vr AS (SELECT doc_id,
         |         row_number() OVER (ORDER BY sim DESC, doc_id) AS r_vec
         |       FROM vt)
         |SELECT coalesce(bm.doc_id, vr.doc_id) AS doc_id,
         |  bm.r_bm AS r_bm, vr.r_vec AS r_vec,
         |  (coalesce(1000000 // (60 + bm.r_bm), 0)
         |    + coalesce(1000000 // (60 + vr.r_vec), 0))::BIGINT AS rrf_micro
         |FROM bm FULL JOIN vr ON bm.doc_id = vr.doc_id
         |ORDER BY rrf_micro DESC, doc_id LIMIT 10""".stripMargin,
    "q_knn_filtered" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS le
         |           FROM embeddings),
         |     q AS (SELECT le AS qe FROM v WHERE vec_id = 0),
         |     e AS (SELECT v.vec_id, v.le, d.lang FROM v
         |           JOIN documents d ON v.vec_id = d.doc_id
         |           WHERE v.vec_id <> 0 AND d.lang = 'en')
         |SELECT e.vec_id, e.lang, round($cosSql, 6) AS sim
         |FROM e, q ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "q_dedup_embed" ->
      s"""WITH hp AS (
         |  SELECT j, list(w ORDER BY d) AS w FROM (
         |    SELECT j, d,
         |      (('0x' || substr(md5(j || '_' || d), 1, 8))::BIGINT % 2001 - 1000) / 1000.0 AS w
         |    FROM range(8) t1(j), range(64) t2(d)) t GROUP BY j),
         |v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS le
         |      FROM embeddings),
         |vb AS (
         |  SELECT v.vec_id, v.le,
         |    string_agg(CASE WHEN list_inner_product(v.le, hp.w) >= 0
         |      THEN '1' ELSE '0' END, '' ORDER BY hp.j) AS bucket
         |  FROM v, hp GROUP BY v.vec_id, v.le)
         |SELECT a.vec_id AS va, b.vec_id AS vb,
         |  round(list_inner_product(a.le, b.le) /
         |    (sqrt(list_inner_product(a.le, a.le)) * sqrt(list_inner_product(b.le, b.le))), 6) AS sim
         |FROM vb a JOIN vb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE round(list_inner_product(a.le, b.le) /
         |    (sqrt(list_inner_product(a.le, a.le)) * sqrt(list_inner_product(b.le, b.le))), 6) >= 0.3""".stripMargin,
    "q_knn_ivf" ->
      s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS le
         |           FROM embeddings),
         |cents AS (SELECT vec_id AS cid, le AS ce FROM v WHERE vec_id < 16),
         |a AS (
         |  SELECT v.vec_id, v.le, c.cid,
         |    list_inner_product(v.le, v.le)
         |      - 2.0 * list_inner_product(v.le, c.ce)
         |      + list_inner_product(c.ce, c.ce) AS d2
         |  FROM v, cents c),
         |cell AS (
         |  SELECT vec_id, le, cid AS cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |    FROM a) t WHERE rn = 1),
         |q AS (SELECT cell AS qcell, le AS qe FROM cell WHERE vec_id = 0),
         |e AS (SELECT vec_id, le, cell FROM cell WHERE vec_id <> 0)
         |SELECT e.vec_id, round($cosSql, 6) AS sim
         |FROM e, q WHERE e.cell = q.qcell
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,
    "q_knn_lsh_multiprobe" ->
      s"""WITH hp AS (
         |  SELECT j, list(w ORDER BY d) AS w FROM (
         |    SELECT j, d,
         |      (('0x' || substr(md5(j || '_' || d), 1, 8))::BIGINT % 2001 - 1000) / 1000.0 AS w
         |    FROM range(8) t1(j), range(64) t2(d)) t GROUP BY j),
         |v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS le
         |      FROM embeddings),
         |vb AS (
         |  SELECT v.vec_id, v.le,
         |    string_agg(CASE WHEN list_inner_product(v.le, hp.w) >= 0
         |      THEN '1' ELSE '0' END, '' ORDER BY hp.j) AS bucket
         |  FROM v, hp GROUP BY v.vec_id, v.le),
         |q0 AS (SELECT bucket AS qb0, le AS qe FROM vb WHERE vec_id = 0),
         |probes AS (
         |  SELECT CASE WHEN i = 0 THEN qb0 ELSE
         |      substr(qb0, 1, i::INT - 1) ||
         |      (CASE WHEN substr(qb0, i::INT, 1) = '1' THEN '0' ELSE '1' END) ||
         |      substr(qb0, i::INT + 1, 8 - i::INT)
         |    END AS qb, qe
         |  FROM q0, range(9) t(i)),
         |e AS (SELECT vec_id, le, bucket FROM vb WHERE vec_id <> 0)
         |SELECT e.vec_id, round($cosSql, 6) AS sim
         |FROM e JOIN probes q ON e.bucket = q.qb
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,
    "q_knn_lsh" ->
      s"""WITH hp AS (
         |  SELECT j, list(w ORDER BY d) AS w FROM (
         |    SELECT j, d,
         |      (('0x' || substr(md5(j || '_' || d), 1, 8))::BIGINT % 2001 - 1000) / 1000.0 AS w
         |    FROM range(8) t1(j), range(64) t2(d)) t GROUP BY j),
         |v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS le
         |      FROM embeddings),
         |vb AS (
         |  SELECT v.vec_id, v.le,
         |    string_agg(CASE WHEN list_inner_product(v.le, hp.w) >= 0
         |      THEN '1' ELSE '0' END, '' ORDER BY hp.j) AS bucket
         |  FROM v, hp GROUP BY v.vec_id, v.le),
         |q AS (SELECT bucket AS qb, le AS qe FROM vb WHERE vec_id = 0),
         |e AS (SELECT vec_id, le, bucket FROM vb WHERE vec_id <> 0)
         |SELECT e.vec_id, round($cosSql, 6) AS sim
         |FROM e, q WHERE e.bucket = q.qb
         |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin,
  )
}
