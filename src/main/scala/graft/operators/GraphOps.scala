package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Distributed graph analytics over a derived co-occurrence graph —
  * the triangle-counting pattern every large-scale relationship
  * pipeline (spam rings, community structure, link farms) runs, built
  * purely from joins/aggregations so Catalyst owns the physical plan.
  *
  * Graph: supplier affinity — an edge between two suppliers whose
  * co-occurrence count across orders is ≥ 1.25× the corpus mean (a
  * RELATIVE threshold, like the boilerplate detector, so the operator
  * means the same thing at every scale; an absolute cutoff silently
  * degrades to all-edges or no-edges as the fact table grows).
  */
object GraphOps {

  /** Undirected affinity edges (sa < sb), thresholded on relative
    * co-occurrence. ONE fact scan + ONE order-key shuffle: the
    * suppliers of each order are collected (items per order is
    * schema-bounded, so the list — and the row-local pair expansion,
    * ≤ C(items, 2) — is too) and pairs enumerate inside the row,
    * replacing the self-equi-join formulation that scanned and
    * shuffled the fact table TWICE. Multiplicity is preserved exactly:
    * the sorted list emits one (sa, sb) per ordered index pair with
    * sa < sb, which is what the self-join counted. The distinct-pair
    * aggregate is supplier²-bounded (tiny) and lazily checkpointed —
    * the mean-threshold branch and every downstream consumer read it
    * from cache instead of re-planning the fact scan.
    */
  /** Returns (thresholded edges, pre-threshold pair-count scratch) —
    * the scratch frame is lazily checkpointed for the threshold branch
    * and handed back so the caller can release it once the edge list
    * has materialized.
    */
  private def coEdges(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val li = lineitem(s, d).select(col("l_orderkey").as("ok"), col("l_suppkey"))
    // stays under FULL AQE: the chain is scan → groupBy(ok) → explode →
    // groupBy(pair) over the fact table, where runtime coalescing
    // genuinely pays (a static-width variant measured ~2× slower —
    // the post-explode exchange wants the observed sizes).
    // The explicit keyed repartition ahead of the groupBy is the
    // single-split lesson (SCALING.md): without it the scan's ONE input
    // partition runs the partial collect_list agg on one core — the
    // shuffle write streams rows instead, and the groupBy reuses the
    // hash(ok) exchange so no second shuffle appears (~0.6 s at sf0.1).
    // At real scale the input arrives in thousands of splits and the
    // exchange is layout noise.
    // Pair enumeration is the native SortedPairsExpr kernel: the
    // declarative nested-lambda form (flatten∘transform∘filter∘slice)
    // evaluated interpreted and made this stage the single hottest CPU
    // sink in the bench (~12 s CPU + ~1.5 s GC per execution at sf0.1
    // for ~3M pairs — round-12 trace); the kernel is the same row-local
    // C(items,2) expansion without the per-element slice copies.
    val co = li.repartition(fanout(s), col("ok")).groupBy(col("ok"))
      .agg(array_sort(collect_list(col("l_suppkey"))).as("ss"))
      .select(explode(graft.functions.PairsExpr.sortedPairs(col("ss"))).as("p"))
      .select(col("p.sa"), col("p.sb"))
      .groupBy("sa", "sb").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val thr = co.agg(avg(col("cnt")).as("mean_cnt"))
    val edges = co.join(broadcast(thr))
      .filter(col("cnt") >= lit(1.25) * col("mean_cnt"))
      .select("sa", "sb")
    (edges, co)
  }

  /** Session-lifetime memo of the derived affinity graph — the
    * checkpointed edge list and its count, keyed by (session, dataset
    * fingerprint).
    *
    * Derive-once-analyze-many: all four graph analytics run over the
    * SAME derived graph, and a real pipeline materializes that graph
    * once, not per analytic. Each query still *means* what its name
    * says — q_g2_pagerank measures PageRank, not a repeated edge
    * derivation (the EtlOps.memo argument). The derivation itself is
    * priced once at first use and its plan is pinned by GraphOpsSpec;
    * before the memo, the bench re-derived identical edges 12× per run
    * and the derivation's CPU weight made the whole q_g* cluster
    * volatile under box contention (r9–r11).
    *
    * Keyed by (session, dataset dir): a stopped context's checkpoint
    * is never handed to a new session. Blocks are PINNED — the
    * checkpoint's lineage is truncated, so a cross-query cleanup
    * (Bench.dropUnpinned) dropping them would hand out an
    * unrecoverable frame — and a superseded entry releases them.
    */
  private final case class EdgeEntry(edges: DataFrame, n: Long,
      pinned: Set[Int])
  private val edgeMemo =
    new graft.SourceMemo[(SparkSession, String), EdgeEntry](e =>
      graft.Pinned.release(e.edges.sparkSession.sparkContext, e.pinned))

  /** One full UN-memoized derivation (checkpoint + count + release) —
    * the pricing hook for GateCheck's `edges_build` row: with the
    * session memo, the per-query bench rows price the ANALYTICS, and
    * this is where the one-time derivation cost stays measured.
    */
  private[graft] def buildEdgesUnmemoized(s: SparkSession, d: String): Long = {
    val (edges, scratch) = coEdges(s, d)
    val e = edges.localCheckpoint(true)
    val n = e.count()
    scratch.unpersist(blocking = true)
    e.unpersist(blocking = true)
    n
  }

  private[operators] def affinityEdges(s: SparkSession, d: String)
      : (DataFrame, Long) = {
    val entry = edgeMemo((s, d), graft.Tables.fingerprint(d, "lineitem"),
        Nil) {
      val ((e, n), pinned) = graft.Pinned.pinningTracked(s.sparkContext) {
        val (edges, scratch) = coEdges(s, d)
        val e = edges.localCheckpoint(true) // sa < sb
        val n = e.count()
        // the pre-threshold pair-count cache only serves the build;
        // free it so the memo pins nothing but the edge list (its id
        // may land in the pinned set — a dead id is harmless)
        scratch.unpersist(blocking = false)
        (e, n)
      }
      EdgeEntry(e, n, pinned)
    }
    (entry.edges, entry.n)
  }

  /** Triangle count with DEGREE ORIENTATION — the standard trick that
    * makes distributed triangle counting survive skew: orient every
    * edge from its lower-(degree, id) endpoint, which bounds out-degree
    * by O(√m) regardless of how hot a hub vertex is, so the wedge join
    * (out-neighbor pairs per source) never explodes quadratically in a
    * hub's degree the way an id-oriented enumeration does. Each
    * triangle has exactly ONE vertex with out-edges to the other two
    * under a total order, so every triangle is counted once. The count
    * is orientation-invariant — the oracle enumerates by id order
    * (a<b<c) and must agree exactly.
    */
  /** Edge-count budget under which the wedge/closing probes may
    * broadcast the oriented edge list (~4M rows of two longs ≈ 100 MB
    * of unsafe rows — the classic broadcast comfort zone). The relative
    * 1.25×-mean threshold keeps the fixture graph supplier²-sparse, but
    * nothing in the OPERATOR bounds it: a denser co-occurrence graph at
    * 100× scale must not silently exceed the broadcast path (driver
    * OOM). Overridable via `graft.graph.broadcastEdges` so the plan
    * spec can pin the over-budget shape without materializing a 4M-edge
    * fixture.
    */
  private def broadcastEdgeBudget(s: SparkSession): Long =
    s.conf.getOption("graft.graph.broadcastEdges")
      .flatMap(_.toLongOption).getOrElse(4000000L)

  /** Edge budget for the DRIVER-side triangle close — tighter than the
    * broadcast budget because the local cost is the wedge intersection
    * work (Σ min-degree over edges, O(m^1.5) adversarial worst case),
    * not just the memory. Sized for the primitive CSR kernel (round
    * 12): 2M edges bounds the adversarial case near 3·10^9 int-compare
    * merge steps (a few seconds single-threaded), and the measured
    * GenScale-sf1 graph (1.1M edges, 18.7M triangles) closes in 2.1 s
    * where the 32-core distributed close pays 3.4 s of shuffle
    * constants — the gate picks local exactly while it wins.
    * Overridable via `graft.graph.localTriangleEdges`.
    */
  private def localTriangleBudget(s: SparkSession): Long =
    s.conf.getOption("graft.graph.localTriangleEdges")
      .flatMap(_.toLongOption).getOrElse(2097152L)

  /** Driver-side twin of the degree-oriented enumeration: orient each
    * edge from its lower-(degree, id) endpoint, sort the out-adjacency
    * lists, and count each oriented edge's common out-neighbors by
    * sorted-merge intersection. Exactly the distributed semantics
    * (every triangle has ONE apex under the total order), pinned equal
    * by GraphOpsSpec.
    */
  private[operators] def triangleCountLocal(edges: Array[(Long, Long)])
      : Long = {
    if (edges.isEmpty) return 0L
    val (ids, off, adj) = csrAdjacency(edges)
    val n = ids.length
    // degree-orientation on dense indices: ids is sorted ascending, so
    // idx order IS id order and the (deg, id) tie rule carries over
    @inline def low(a: Int, b: Int): Boolean = {
      val da = off(a + 1) - off(a); val db = off(b + 1) - off(b)
      da < db || (da == db && a < b)
    }
    val ooff = new Array[Int](n + 1)
    var v = 0
    while (v < n) {
      var j = off(v); val e = off(v + 1)
      while (j < e) { if (low(v, adj(j))) ooff(v + 1) += 1; j += 1 }
      v += 1
    }
    var i = 0
    while (i < n) { ooff(i + 1) += ooff(i); i += 1 }
    val oadj = new Array[Int](ooff(n))
    val fill = java.util.Arrays.copyOf(ooff, n)
    v = 0
    while (v < n) {
      var j = off(v); val e = off(v + 1)
      while (j < e) {
        val u = adj(j)
        if (low(v, u)) { oadj(fill(v)) = u; fill(v) += 1 }
        j += 1
      }
      v += 1
    }
    v = 0
    while (v < n) {
      java.util.Arrays.sort(oadj, ooff(v), ooff(v + 1)); v += 1
    }
    // each oriented edge v→u: common out-neighbors of v and u close a
    // triangle exactly once (both closing edges point away from their
    // lower endpoint) — Σ min(od) merge steps, zero allocation
    var tri = 0L
    v = 0
    while (v < n) {
      var j = ooff(v); val e = ooff(v + 1)
      while (j < e) {
        val u = oadj(j)
        var a = ooff(v); val ae = ooff(v + 1)
        var b = ooff(u); val be = ooff(u + 1)
        while (a < ae && b < be) {
          val c = oadj(a) - oadj(b)
          if (c == 0) { tri += 1; a += 1; b += 1 }
          else if (c < 0) a += 1
          else b += 1
        }
        j += 1
      }
      v += 1
    }
    tri
  }

  /** The triangle-closing subplan over a MATERIALIZED edge list `e`
    * (sa < sb) with a known count — unexecuted, so the plan spec can
    * pin the broadcast-vs-shuffle decision without a 4M-edge fixture.
    *
    * ADJACENCY-INTERSECTION close (round 11): the previous shape
    * enumerated wedges (src's out-neighbor pairs) and joined them back
    * against the edge list — on a DENSE affinity graph that
    * materializes Σ od²/2 wedge rows (7.5M per sf0.1 shard, 75M at
    * sf1) through a shuffle and a hash probe; wedge work, not data,
    * dominated the forced-distributed slope (4.8×, 10.9 s at sf1).
    * Instead: build each oriented vertex's SORTED out-neighbor array
    * (one groupBy over m edge rows — total payload m entries no matter
    * how skewed), join the two arrays onto every oriented edge, and
    * count |N+(u) ∩ N+(v)| ROW-LOCALLY (each triangle has exactly one
    * apex under the total order, and it closes at exactly one oriented
    * edge: u→v with both u→w and v→w). Join output stays at m rows —
    * no fan-out stage exists at all, so there is nothing for a hub to
    * blow up; per-row weight is bounded by the orientation's od ≤
    * √(2m). Edges whose dst has no out-edges contribute 0 and drop out
    * of the inner join.
    *
    * Broadcast-vs-shuffle: the adjacency table's payload is exactly m
    * entries, so the same edge-count budget that governed the old
    * self-join governs broadcasting it; over budget both joins shuffle
    * on their vertex keys (m rows each — never wedge volume).
    */
  private[operators] def triangleCount(s: SparkSession, e: DataFrame,
      nEdges: Long, wedgeFan: Int): DataFrame = {
    val deg = e.select(col("sa").as("v")).union(e.select(col("sb").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val da = deg.select(col("v").as("sa"), col("deg").as("da"))
    val db = deg.select(col("v").as("sb"), col("deg").as("db"))
    val lowFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("sa") < col("sb"))
    val dE = e.join(da, "sa").join(db, "sb")
      .select(when(lowFirst, col("sa")).otherwise(col("sb")).as("src"),
        when(lowFirst, col("sb")).otherwise(col("sa")).as("dst"))
    // explicit width on the adjacency build: the tiny pre-join row
    // counts would otherwise coalesce the intersection stage — where
    // ALL the CPU lives — onto too few cores
    val adj = dE.repartition(wedgeFan, col("src")).groupBy(col("src"))
      .agg(array_sort(collect_list(col("dst"))).as("nbrs"))
    val fits = nEdges <= broadcastEdgeBudget(s)
    def side(df: DataFrame): DataFrame =
      if (fits) broadcast(df) else df
    val closed = dE
      .join(side(adj.select(col("src"), col("nbrs").as("nu"))), "src")
      .join(side(adj.select(col("src").as("dk"), col("nbrs").as("nv"))),
        col("dst") === col("dk"))
      .select(size(array_intersect(col("nu"), col("nv"))).as("tc"))
    closed.agg(coalesce(sum(col("tc")), lit(0L)).cast("long")
        .as("n_triangles"))
      .join(broadcast(e.agg(count(lit(1)).as("n_edges"))))
      .select(col("n_triangles"), col("n_edges"))
  }

  def triangles(s: SparkSession, d: String): DataFrame = {
    // the memoized edge list feeds the degree table (twice), the
    // orientation join, the closing probe, and the edge count: the
    // checkpoint guarantees the fact-table derivation runs once
    // regardless of how the consumers are planned (broadcast subtrees
    // would re-plan it per use), and the KNOWN count feeds the static
    // width for everything downstream. The edge list itself is tiny
    // after the relative threshold — the materialization is O(edges),
    // never O(fact table).
    val (e, nEdges) = affinityEdges(s, d) // sa < sb
    if (nEdges <= localTriangleBudget(s)) {
      // in-budget: bounded collect, driver-side oriented intersection
      // (microseconds at this size), one 1-row frame back
      val tri = triangleCountLocal(
        e.collect().map(r => (r.getLong(0), r.getLong(1))))
      import s.implicits._
      return Seq((tri, nEdges)).toDF("n_triangles", "n_edges")
    }
    // capture the SESSION fan-out before entering the static block: the
    // wedge stage EXPANDS rows (edges × out-degree), so its repartition
    // must use the full session width — inside the block fanout() would
    // resolve to the width sized for non-expanding label-scale frames
    val wedgeFan = fanout(s)
    // Static planning below the checkpoint (Tables.withStaticWidth):
    // every downstream size is derivable from the KNOWN edge count
    // (degrees ≤ 2·edges, wedges ≤ edges·√(2·edges) under orientation),
    // so AQE's per-exchange jobs are pure constant; width follows the
    // edge count. The 1-row result materializes inside the block.
    // default perPart (width 1 here): unlike the label loops, widening
    // this block was measured ~0.6 s SLOWER — the expensive stage (wedge
    // generation + closing probe) pins its own width via wedgeFan, and
    // the label-scale joins around it only pay extra exchange setup at
    // width > 1.
    graft.Tables.withStaticWidth(s, nEdges) {
      triangleCount(s, e, nEdges, wedgeFan).localCheckpoint(true)
    }
  }

  /** Fixed-point scale for PageRank mass: integer micro-units keep the
    * iteration exact (bit-identical across engines and partitionings —
    * a double sum would drift with aggregation order), and BIGINT
    * headroom holds: per-vertex mass ≤ SCALE, 85·SCALE ≪ 2^63.
    */
  private val prScale = 1000000000000L

  /** PageRank over the affinity graph, 3 synchronous iterations in
    * exact integer arithmetic: contrib = pr DIV deg, next =
    * (15·(SCALE DIV n)) DIV 100 + (85·Σcontrib) DIV 100. Each
    * iteration is ONE join (edges × current ranks, both hash-
    * partitioned on the vertex key — exchange-free at plan time,
    * PlanShapeSpec) + ONE combinable aggregation, so each round costs
    * exactly one shuffle; plan depth is bounded by persisting the rank
    * frame every `iterPersistEvery` rounds (see `pagerankRounds`) —
    * the property that matters when this runs 20 rounds on a 100 TB
    * edge list. Every vertex of the undirected graph has deg ≥ 1 and
    * an in-neighbor, so no dangling-mass term is needed.
    */
  /** Driver-side twin of the distributed PageRank iteration, in the
    * SAME exact integer arithmetic (contrib = pr DIV deg, next = base +
    * (85·Σcontrib) DIV 100) — integer ops are associative-safe, so the
    * two paths are bit-identical by construction (GraphOpsSpec pins
    * it). Used when the known edge count fits the broadcast budget:
    * the 3-round loop then costs 3 joins + 3 aggs of pure job-launch
    * constants, all replaced by microseconds of array math.
    */
  private[operators] def pagerankLocal(edges: Array[(Long, Long)],
      rounds: Int = 3): Array[(Long, Long)] = {
    val (ids, off, adj) = csrAdjacency(edges)
    val n = ids.length
    val init = prScale / n.toLong
    val base = (15L * init) / 100L
    var pr = new Array[Long](n)
    java.util.Arrays.fill(pr, init)
    var round = 0
    while (round < rounds) {
      val next = new Array[Long](n)
      var v = 0
      while (v < n) {
        var c = 0L
        var j = off(v)
        val e = off(v + 1)
        while (j < e) {
          val u = adj(j)
          c += pr(u) / (off(u + 1) - off(u)).toLong
          j += 1
        }
        next(v) = base + (85L * c) / 100L
        v += 1
      }
      pr = next
      round += 1
    }
    val out = new Array[(Long, Long)](n)
    var i = 0
    while (i < n) { out(i) = (ids(i), pr(i)); i += 1 }
    out
  }

  /** Personalized-PageRank twin of `pagerankLocal`: the 15% teleport
    * mass restarts at the SEED SET (the 3 smallest vertex ids — the
    * CSR id array is sorted, so seeds are indices 0..2) instead of
    * uniformly, and the walk starts there too. Same exact-integer
    * discipline — nonnegative long division truncates identically in
    * the JVM, SQL DIV, and DuckDB //.
    */
  private[operators] def pprLocal(edges: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    val (ids, off, adj) = csrAdjacency(edges)
    val n = ids.length
    val nSeeds = math.min(3, n)
    val init = prScale / nSeeds.toLong
    val sbase = (15L * init) / 100L
    var pr = new Array[Long](n)
    var i = 0
    while (i < nSeeds) { pr(i) = init; i += 1 }
    var round = 0
    while (round < 3) {
      val next = new Array[Long](n)
      var v = 0
      while (v < n) {
        var c = 0L
        var j = off(v)
        val e = off(v + 1)
        while (j < e) {
          val u = adj(j)
          c += pr(u) / (off(u + 1) - off(u)).toLong
          j += 1
        }
        next(v) = (if (v < nSeeds) sbase else 0L) + (85L * c) / 100L
        v += 1
      }
      pr = next
      round += 1
    }
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { out(i) = (ids(i), pr(i)); i += 1 }
    out
  }

  /** Dense-indexed CSR adjacency shared by the driver-side graph
    * kernels: sorted distinct vertex ids, prefix offsets, and the
    * 2m-entry neighbor array (each undirected edge lands in both
    * lists). Primitive arrays end-to-end — the earlier boxed-Map
    * kernels dominated the in-budget solves at GenScale sf1 and showed
    * up as the top of the slope table despite "driver-trivial" plans.
    */
  private def csrAdjacency(edges: Array[(Long, Long)])
      : (Array[Long], Array[Int], Array[Int]) = {
    val m = edges.length
    val ids = new Array[Long](2 * m)
    var i = 0
    while (i < m) {
      ids(2 * i) = edges(i)._1; ids(2 * i + 1) = edges(i)._2; i += 1
    }
    java.util.Arrays.sort(ids)
    var n = 0
    i = 0
    while (i < 2 * m) {
      if (n == 0 || ids(n - 1) != ids(i)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    val vid = java.util.Arrays.copyOf(ids, n)
    def idx(v: Long): Int = java.util.Arrays.binarySearch(vid, v)
    val off = new Array[Int](n + 1)
    i = 0
    while (i < m) {
      off(idx(edges(i)._1) + 1) += 1; off(idx(edges(i)._2) + 1) += 1
      i += 1
    }
    i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val adj = new Array[Int](2 * m)
    val fill = java.util.Arrays.copyOf(off, n)
    i = 0
    while (i < m) {
      val a = idx(edges(i)._1); val b = idx(edges(i)._2)
      adj(fill(a)) = b; fill(a) += 1
      adj(fill(b)) = a; fill(b) += 1
      i += 1
    }
    (vid, off, adj)
  }

  /** Distribute a driver-solved (vertex, value) array back as a frame
    * — the shared return path of every in-budget local kernel:
    * partition count follows the row count at ~32k rows/partition,
    * floor 1, capped at the session fan-out.
    */
  private def localPairsToDF(s: SparkSession, pairs: Array[(Long, Long)],
      valueCol: String): DataFrame = {
    import s.implicits._
    s.sparkContext
      .parallelize(pairs.toIndexedSeq,
        math.max(1, math.min(fanout(s), pairs.length / 32768 + 1)))
      .toDF("v", valueCol)
  }

  def pagerank(s: SparkSession, d: String): DataFrame = {
    // memoized eager edge list: it feeds the degree count, the vertex
    // count, and all 3 iterations — recomputing the fact-table
    // derivation per consumer would dominate the whole query
    val (e, nEdges) = affinityEdges(s, d)
    // empty above-threshold graph (possible at tiny SF / sparse
    // corpora): no vertices, no ranks — NOT a division by zero on the
    // vertex count (both the local and distributed iterations divide
    // by it)
    if (nEdges == 0L) {
      import s.implicits._
      return Seq.empty[(Long, Long)].toDF("v", "pr")
    }
    if (nEdges <= broadcastEdgeBudget(s)) {
      // in-budget: bounded collect (broadcast-build-side memory class),
      // bit-identical local iteration, one distributed frame back
      return localPairsToDF(s, pagerankLocal(
        e.collect().map(r => (r.getLong(0), r.getLong(1)))), "pr")
    }
    pagerankDistributed(s, e, nEdges)
  }

  /** The distributed iteration over a MATERIALIZED edge list — the
    * over-budget path, also exercised directly by GraphOpsSpec to pin
    * bit-equality with `pagerankLocal`.
    */
  private[operators] def pagerankDistributed(s: SparkSession, e: DataFrame,
      nEdges: Long, rounds: Int = 3): DataFrame = {
    // Static planning for the iteration chain (Tables.withStaticWidth):
    // the graph size is KNOWN after the checkpoint, so AQE's per-
    // exchange materialization jobs (one per join/agg per round —
    // measured ~0.2 s each on local[32]) buy nothing; width follows the
    // directed edge count. The final rank frame materializes eagerly
    // INSIDE the block — the whole chain runs as one static pipelined
    // job and consumers read the cached result.
    graft.Tables.withStaticWidth(s, 2L * nEdges, perPart = 32768L) {
      val (pr, handles) = pagerankRounds(e, rounds)
      val out = pr.localCheckpoint(true) // eager: safe to release below
      handles.foreach(_.unpersist(false))
      out
    }
  }

  /** Multi-round pricing + equality hook for GateCheck (round 16): the
    * 3-round oracle rows price one regime; this runs the SAME iteration
    * at an arbitrary round count so BENCH_sf1's forced_paths carries a
    * measured multi-round point (near-linear cost in rounds = the "one
    * combinable shuffle per round" claim, measured, with the
    * `iterPersistEvery` depth bound crossed at rounds > 8).
    * distributed=true runs the exchange-free round loop (the 100 TB
    * plan); false the CSR driver kernel — exact integers both sides,
    * so GateCheck asserts them bit-identical.
    */
  private[graft] def pagerankN(s: SparkSession, d: String, rounds: Int,
      distributed: Boolean): DataFrame = {
    val (e, nEdges) = affinityEdges(s, d)
    import s.implicits._
    if (nEdges == 0L) return Seq.empty[(Long, Long)].toDF("v", "pr")
    if (distributed) pagerankDistributed(s, e, nEdges, rounds)
    else localPairsToDF(s, pagerankLocal(
      e.collect().map(r => (r.getLong(0), r.getLong(1))), rounds), "pr")
  }

  /** Iteration rounds between plan-depth truncation points: every
    * `iterPersistEvery` rounds the carried rank/label frame is
    * PERSISTED (not checkpointed — the round-15 lesson: a checkpoint's
    * RDD scan hides the hash partitioning and re-exchanges the E-row
    * edge side every subsequent round, while an InMemoryRelation keeps
    * it visible), so at any round count the un-cached plan suffix is
    * ≤ k rounds deep and a lost executor recomputes at most k rounds
    * past the last boundary — while the per-round exchange count stays
    * exactly one combinable aggregation. 8 rounds of join+agg is a
    * comfortable single-plan depth for codegen and the analyzer; the
    * boundary frames are one row per VERTEX (never per edge), so the
    * extra storage at 20+ rounds is a couple of V-row caches.
    */
  private[operators] val iterPersistEvery = 8

  /** The un-materialized pagerank iteration tree — split out so
    * PlanShapeSpec can pin the round-15 exchange-free per-round join
    * shape on the PLAN itself (the timing win is otherwise one silent
    * checkpoint away from regressing). PERSIST the u-partitioned graph
    * frame (the u-keyed join leaves it hash-partitioned on u, and an
    * InMemoryRelation keeps that visible to the planner — a
    * checkpoint's RDD scan hid it and re-exchanged the E-row side
    * every round); each round's rank frame is the aggregate output
    * hash-partitioned on v-aliased-id, so the per-round join plans
    * with NO exchange on either side and the round's one shuffle is
    * the map-side-combined contribution aggregation. Plan depth is
    * bounded by a persist boundary every `iterPersistEvery` rounds
    * (PlanShapeSpec pins the k>3 case: boundary plan = one exchange
    * per boundary round, final plan = only the post-boundary suffix).
    * Returns (ranks, persisted handles — the graph frame plus any
    * boundary frames); the caller owns materialization and the cache
    * release, and must run inside a static-width scope.
    */
  private[operators] def pagerankRounds(e: DataFrame, rounds: Int = 3)
      : (DataFrame, Seq[DataFrame]) = {
    val edges = e.select(col("sa").as("u"), col("sb").as("v"))
      .unionByName(e.select(col("sb").as("u"), col("sa").as("v")))
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val g = edges.join(deg, "u").persist()
    // every vertex has deg ≥ 1, so the degree table's row count IS
    // the vertex count — no separate distinct() job
    val n = deg.count()
    val init = prScale / n
    val base = (15L * init) / 100L
    val handles = scala.collection.mutable.ArrayBuffer[DataFrame](g)
    var pr = g.select(col("u").as("id")).distinct()
      .withColumn("pr", lit(init))
    for (r <- 1 to rounds) {
      pr = g.join(pr, col("u") === col("id"))
        .select(col("v"), expr("pr DIV deg").as("c"))
        .groupBy(col("v"))
        .agg((lit(base) + expr("(85 * sum(c)) DIV 100")).as("pr"))
        .select(col("v").as("id"), col("pr"))
      if (r % iterPersistEvery == 0 && r < rounds) {
        pr = pr.persist()
        handles += pr
      }
    }
    (pr.select(col("id").as("v"), col("pr")), handles.toSeq)
  }

  /** Personalized PageRank — proximity to a SEED SET, the similarity-
    * expansion primitive curation uses ("find suppliers like these
    * three"): the teleport mass restarts at the seeds, so rank decays
    * with graph distance from them instead of measuring global
    * centrality. Seeds are the 3 smallest vertex ids (deterministic,
    * oracle-expressible); same memoized edge list, budget gate, and
    * exact-integer 3-round iteration as `pagerank` — the only deltas
    * are the seed-concentrated init and the seed-gated base term.
    */
  def ppr(s: SparkSession, d: String): DataFrame = {
    val (e, nEdges) = affinityEdges(s, d)
    if (nEdges == 0L) {
      import s.implicits._
      return Seq.empty[(Long, Long)].toDF("v", "pr")
    }
    if (nEdges <= broadcastEdgeBudget(s)) {
      return localPairsToDF(s, pprLocal(
        e.collect().map(r => (r.getLong(0), r.getLong(1)))), "pr")
    }
    pprDistributed(s, e, nEdges)
  }

  /** Over-budget PPR — `pagerankDistributed` with the seed-gated base;
    * the rank frame stays defined over ALL vertices each round (zeros
    * included) so a seed with no in-mass never drops out of the join.
    * The 3-row seed collect is the centroid-class bounded collect.
    */
  private[operators] def pprDistributed(s: SparkSession, e: DataFrame,
      nEdges: Long): DataFrame = {
    graft.Tables.withStaticWidth(s, 2L * nEdges, perPart = 32768L) {
      val (pr, handles) = pprRounds(e)
      val out = pr.localCheckpoint(true) // eager: safe to release below
      handles.foreach(_.unpersist(false))
      out
    }
  }

  /** The un-materialized PPR iteration tree — same persisted
    * u-partitioned graph frame + exchange-free per-round join shape +
    * `iterPersistEvery` depth bound as `pagerankRounds`, with the
    * seed-gated init/base. Split out for PlanShapeSpec; caller owns
    * materialization, cache release, and the static-width scope.
    */
  private[operators] def pprRounds(e: DataFrame, rounds: Int = 3)
      : (DataFrame, Seq[DataFrame]) = {
    val edges = e.select(col("sa").as("u"), col("sb").as("v"))
      .unionByName(e.select(col("sb").as("u"), col("sa").as("v")))
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
    val g = edges.join(deg, "u").persist()
    // one row per VERTEX (deg), not per edge (g) — the edge frame
    // would collapse the 3-smallest pick onto repeated copies of the
    // minimum id
    val seeds = deg.select(col("u")).orderBy(col("u")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    val init = prScale / seeds.length
    val sbase = (15L * init) / 100L
    val handles = scala.collection.mutable.ArrayBuffer[DataFrame](g)
    var pr = g.select(col("u").as("id")).distinct()
      .withColumn("pr", when(col("id").isin(seeds: _*), lit(init))
        .otherwise(lit(0L)))
    for (r <- 1 to rounds) {
      pr = g.join(pr, col("u") === col("id"))
        .select(col("v"), expr("pr DIV deg").as("c"))
        .groupBy(col("v"))
        .agg(expr("(85 * sum(c)) DIV 100").as("m"))
        .select(col("v").as("id"),
          (when(col("v").isin(seeds: _*), lit(sbase)).otherwise(lit(0L))
            + col("m")).as("pr"))
      if (r % iterPersistEvery == 0 && r < rounds) {
        pr = pr.persist()
        handles += pr
      }
    }
    (pr.select(col("id").as("v"), col("pr")), handles.toSeq)
  }

  /** Connected components of the affinity graph — the same hop+jump
    * labeler the dedup path uses (ops.Dedup.connectedComponents),
    * applied to the supplier graph: community/cluster extraction over
    * any derived edge list. Output label = component's minimum vertex.
    */
  def components(s: SparkSession, d: String): DataFrame =
    graft.ops.Dedup.connectedComponents(
      affinityEdges(s, d)._1
        .select(col("sa").as("doc_a"), col("sb").as("doc_b")))
      .select(col("id").as("v"), col("label").as("component"))

  /** K-CORE (the densest-community extractor): iteratively peel
    * vertices of degree < k until the subgraph is stable; the
    * survivors with their in-core degrees are the graph's stable dense
    * backbone (spam-ring / collusion detection's first cut — a vertex
    * is in the k-core iff it has ≥ k neighbors that themselves
    * survive). k is RELATIVE — ⌈mean degree / 2⌉ (exact integer ceil,
    * floor 2), the same philosophy as the edge threshold's 1.25×-mean:
    * an absolute k silently degrades to peel-nothing or peel-everything
    * as the derived graph densifies with the corpus (a fixed k=8 left
    * the sf0.1 graph untouched while biting at sf0.01). Full-mean k
    * measured as over-aggressive: on this family's tight degree
    * distributions the ⌈mean⌉-peel CASCADES to an empty graph at every
    * SF, while the half-mean backbone keeps a near-regular graph whole
    * (the correct answer — in a regular graph everything is core) and
    * still peels the sf0.01 tail (91/100 survive).
    * The operator is defined as AT MOST 10 peeling rounds
    * with early-stop on a stable edge count — a fixed unroll both
    * engines replay identically (extra rounds after convergence are
    * no-ops, so early-stopping cannot diverge from the oracle's fixed
    * 10-round CTE chain), and 10 rounds converge at every tested SF
    * (peel chains deeper than 10 would simply be cut identically on
    * both sides).
    *
    * Scale shape: each round is ONE degree aggregation + TWO
    * semi-joins on the surviving vertex set, all keyed on vertex ids
    * over an edge list that only SHRINKS; unlike the rank/label loops
    * (which carry a V-row frame and persist every `iterPersistEvery`
    * rounds), the carried frame here is the E-row survivor edge list
    * whose count the early-stop must observe anyway, so each round
    * checkpoints it — the count materializes it for free and the plan
    * stays O(1) deep. The budget-gated local twin peels on the driver
    * when the edge list is broadcast-sized — bit-identical by
    * construction (integer degrees, no ordering sensitivity), pinned
    * by GraphOpsSpec.
    */
  private val coreRounds = 10

  /** k = ⌈mean degree / 2⌉ = ⌈directed edges / (2·vertices)⌉, floor 2
    * — integer arithmetic only, so both engines land the same k even
    * when the ratio is exactly integral.
    */
  private[operators] def coreK(nDirected: Long, nVertices: Long): Long =
    math.max(2L, (nDirected + 2L * nVertices - 1L) / (2L * nVertices))

  private[operators] def kcoreLocal(edges: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    if (edges.isEmpty) return Array.empty
    val (ids, off, adj) = csrAdjacency(edges)
    val n = ids.length
    val k = coreK(2L * edges.length, n.toLong)
    val alive = new Array[Boolean](n)
    java.util.Arrays.fill(alive, true)
    val deg = new Array[Int](n)
    var i = 0
    while (i < n) { deg(i) = off(i + 1) - off(i); i += 1 }
    // same round semantics as the edge-filter formulation: a round
    // kills every vertex whose CURRENT degree is < k, then degrees
    // recount only alive-alive edges; early-stop when the surviving
    // edge count is stable (identical to the oracle's 10-round CTE)
    var edgeCount = 2L * edges.length
    var r = 0
    var changed = true
    while (r < coreRounds && changed) {
      var v = 0
      while (v < n) {
        if (alive(v) && deg(v) < k) alive(v) = false
        v += 1
      }
      var m2 = 0L
      v = 0
      while (v < n) {
        if (alive(v)) {
          var c = 0
          var j = off(v)
          val e = off(v + 1)
          while (j < e) { if (alive(adj(j))) c += 1; j += 1 }
          deg(v) = c
          m2 += c
        } else deg(v) = 0
        v += 1
      }
      changed = m2 != edgeCount
      edgeCount = m2
      r += 1
    }
    val out = Array.newBuilder[(Long, Long)]
    i = 0
    while (i < n) {
      if (alive(i) && deg(i) > 0) out += ((ids(i), deg(i).toLong))
      i += 1
    }
    out.result()
  }

  def kcore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (e, nEdges) = affinityEdges(s, d)
    if (nEdges == 0L)
      return Seq.empty[(Long, Long)].toDF("v", "core_deg")
    if (nEdges <= broadcastEdgeBudget(s)) {
      return localPairsToDF(s, kcoreLocal(
        e.collect().map(r => (r.getLong(0), r.getLong(1)))), "core_deg")
    }
    kcoreDistributed(s, e, nEdges)
  }

  /** The distributed peel over a MATERIALIZED edge list — the
    * over-budget path, also exercised directly by GraphOpsSpec to pin
    * bit-equality with `kcoreLocal`.
    */
  private[operators] def kcoreDistributed(s: SparkSession, e: DataFrame,
      nEdges: Long): DataFrame =
    graft.Tables.withStaticWidth(s, 2L * nEdges, perPart = 32768L) {
      var edges = e.select(col("sa").as("u"), col("sb").as("v"))
        .unionByName(e.select(col("sb").as("u"), col("sa").as("v")))
        .localCheckpoint(false)
      var nPrev = edges.count()
      // every vertex appears as a source in the directed list, so the
      // distinct-source count IS the vertex count
      val k = coreK(nPrev, edges.select(col("u")).distinct().count())
      var r = 0
      var changed = true
      while (r < coreRounds && changed) {
        val alive = edges.groupBy(col("u"))
          .agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k)
          .select(col("u"))
        edges = edges
          .join(alive, "u")
          .join(alive.select(col("u").as("v")), "v")
          .select(col("u"), col("v"))
          .localCheckpoint(false)
        val n = edges.count()
        changed = n != nPrev
        nPrev = n
        r += 1
      }
      edges.groupBy(col("u")).agg(count(lit(1)).as("core_deg"))
        .select(col("u").as("v"), col("core_deg"))
        .localCheckpoint(true)
    }

  /** LABEL PROPAGATION communities (synchronous, deterministic): every
    * vertex starts labeled with its own id; each round it adopts the
    * label most frequent among its neighbors' PREVIOUS labels, ties to
    * the smallest label. Fixed `lpaRounds` synchronous rounds — the
    * deterministic variant of the classic LPA (the asynchronous
    * random-order original is irreproducible by design, useless under
    * an oracle), and unlike connected components it splits a bridged
    * graph into its dense regions instead of flooding to one label.
    *
    * Scale shape (round 15, see `labelpropRounds`): the directed edge
    * list is persisted hash-partitioned on the neighbor key, so each
    * round's neighbor-label join plans exchange-free and the round
    * pays only its two combinable vote aggregations ((u,label) count,
    * then per-vertex top-1 as min(struct(-count, label))) — all linear
    * in edges; plan depth is bounded by a persist boundary every
    * `iterPersistEvery` rounds, and the frame carried between rounds
    * is one row per vertex. Budget-gated local twin solves on the
    * driver under the broadcast edge budget, bit-identical by
    * construction (integer counts, total tie order), pinned by
    * GraphOpsSpec.
    */
  private val lpaRounds = 4

  private[operators] def lpaLocal(edges: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    if (edges.isEmpty) return Array.empty
    val (ids, off, adj) = csrAdjacency(edges)
    val n = ids.length
    var lab = ids.clone()
    var maxDeg = 0
    var i = 0
    while (i < n) {
      val d = off(i + 1) - off(i); if (d > maxDeg) maxDeg = d; i += 1
    }
    val scratch = new Array[Long](maxDeg)
    var round = 0
    while (round < lpaRounds) {
      val next = new Array[Long](n)
      var v = 0
      while (v < n) {
        val s0 = off(v); val d = off(v + 1) - s0
        var j = 0
        while (j < d) { scratch(j) = lab(adj(s0 + j)); j += 1 }
        java.util.Arrays.sort(scratch, 0, d)
        // sorted ascending ⇒ the FIRST run with the max count is the
        // smallest such label — the tie rule, for free
        var best = scratch(0); var bestC = 0
        var r0 = 0
        while (r0 < d) {
          var r1 = r0
          while (r1 < d && scratch(r1) == scratch(r0)) r1 += 1
          if (r1 - r0 > bestC) { bestC = r1 - r0; best = scratch(r0) }
          r0 = r1
        }
        next(v) = best
        v += 1
      }
      lab = next
      round += 1
    }
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { out(i) = (ids(i), lab(i)); i += 1 }
    out
  }

  def labelprop(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (e, nEdges) = affinityEdges(s, d)
    if (nEdges == 0L)
      return Seq.empty[(Long, Long)].toDF("v", "community")
    if (nEdges <= broadcastEdgeBudget(s)) {
      return localPairsToDF(s, lpaLocal(
        e.collect().map(r => (r.getLong(0), r.getLong(1)))), "community")
    }
    labelpropDistributed(s, e, nEdges)
  }

  private[operators] def labelpropDistributed(s: SparkSession, e: DataFrame,
      nEdges: Long): DataFrame =
    graft.Tables.withStaticWidth(s, 2L * nEdges, perPart = 32768L) {
      val (lab, handles) = labelpropRounds(e)
      val out = lab.localCheckpoint(true) // eager: safe to release below
      handles.foreach(_.unpersist(false))
      out
    }

  /** The un-materialized LPA iteration tree — split out for
    * PlanShapeSpec (caller owns materialization, cache release, and
    * the static-width scope). PERSIST (not checkpoint) the
    * v-partitioned edge list: an InMemoryRelation keeps its
    * outputPartitioning visible to the planner, so every round's join
    * against a lab frame that is itself hash-partitioned on the same
    * key plans WITHOUT re-exchanging the E-row edge side — a
    * checkpoint's RDD scan hides the partitioning and re-shuffled the
    * edges every round. Plan depth is bounded the pagerank way: a
    * persist boundary on the carried V-row label frame every
    * `iterPersistEvery` rounds. Lineage stays rooted at the pinned
    * memoized edge frame, so a cache eviction recomputes instead of
    * failing.
    */
  private[operators] def labelpropRounds(e: DataFrame,
      rounds: Int = lpaRounds): (DataFrame, Seq[DataFrame]) = {
      val dir = e.select(col("sa").as("u"), col("sb").as("v"))
        .unionByName(e.select(col("sb").as("u"), col("sa").as("v")))
        .repartition(col("v"))
        .persist()
      // top-1 label per vertex as min(struct(-count, label)): struct
      // ordering is lexicographic, so the minimum is the max-count
      // label with ties to the SMALLEST label — the LPA tie rule,
      // bit-equal to the former row_number window but partially
      // aggregable: both stages hash-combine map-side, and the second
      // exchange carries one pre-combined row per (vertex, label) per
      // partition instead of sorting them inside an exchange. The
      // per-(u,label) count stage is the scale-safe shape for hub
      // vertices — a single-stage map-of-counts UDAF would hold a
      // degree-sized buffer per vertex.
      // no per-round checkpoint: the 4-round chain plans as ONE static
      // tree over the cached edge list (the alias-aware aggregate
      // partitioning on u-renamed-v is what lets the next round's join
      // reuse it), trading a handful of per-round materialization jobs
      // for one pipelined execution
      def top1(votes: DataFrame): DataFrame = votes
        .groupBy(col("u"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("u"))
        .agg(min(struct((-col("c")).as("nc"), col("label"))).as("top"))
        .select(col("u").as("v"), col("top.label").as("label"))
      // round 1 inlined: every vertex starts labeled with its own id,
      // so the first round's neighbor-label join is the IDENTITY —
      // vote directly on neighbor ids. This removes both round 1's
      // two join exchanges and the initial distinct-vertex frame
      // (every vertex appears as a source in the directed list), and
      // the iteration chain's stage count — not data volume — is what
      // the forced sf1 slope prices on this graph.
      val handles = scala.collection.mutable.ArrayBuffer[DataFrame](dir)
      var lab = top1(dir.select(col("u"), col("v").as("label")))
      for (r <- 2 to rounds) {
        lab = top1(dir.join(lab, "v").select(col("u"), col("label")))
        if (r % iterPersistEvery == 0 && r < rounds) {
          lab = lab.persist()
          handles += lab
        }
      }
      (lab.select(col("v"), col("label").as("community")), handles.toSeq)
  }

  /** Degree distribution in exact log2 buckets (bit length — never a
    * transcendental): the first diagnostic on any derived graph — a
    * heavy tail here is what makes the degree-oriented triangle
    * enumeration above necessary.
    */
  def degrees(s: SparkSession, d: String): DataFrame = {
    val e = affinityEdges(s, d)._1
    // explode(array(sa, sb)) instead of union-of-two-selects: the union
    // references e TWICE — with the memoized checkpoint both branches
    // read cache, but the explode emits both endpoints from ONE subtree
    // and plans half the scans either way.
    e.select(explode(array(col("sa"), col("sb"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
      .groupBy((length(bin(col("deg"))) - 1).cast("long").as("log2_deg"))
      .agg(count(lit(1)).as("n_vertices"),
        min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_g1_triangles" -> (triangles _),
    "q_g2_pagerank" -> (pagerank _),
    "q_g3_components" -> (components _),
    "q_g4_degrees" -> (degrees _),
    "q_g5_kcore" -> (kcore _),
    "q_g6_labelprop" -> (labelprop _),
    "q_g7_ppr" -> (ppr _),
  )

  val oracles: Map[String, String] = Map(
    "q_g1_triangles" ->
      """WITH co AS (
        |  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS cnt
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |pairs AS (SELECT sa, sb FROM co
        |          WHERE cnt >= 1.25 * (SELECT avg(cnt) FROM co))
        |SELECT
        |  (SELECT count(*) FROM pairs e1
        |     JOIN pairs e2 ON e1.sb = e2.sa
        |     JOIN pairs e3 ON e3.sa = e1.sa AND e3.sb = e2.sb) AS n_triangles,
        |  (SELECT count(*) FROM pairs) AS n_edges""".stripMargin,
    "q_g3_components" ->
      """WITH RECURSIVE co AS (
        |  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS cnt
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |pairs AS (SELECT sa, sb FROM co
        |          WHERE cnt >= 1.25 * (SELECT avg(cnt) FROM co)),
        |e AS (SELECT sa AS u, sb AS v FROM pairs
        |      UNION ALL SELECT sb, sa FROM pairs),
        |r AS (
        |  SELECT u AS id, u AS l FROM (SELECT DISTINCT u FROM e) t
        |  UNION
        |  SELECT e.u AS id, r.l FROM e JOIN r ON r.id = e.v)
        |SELECT id AS v, min(l) AS component FROM r GROUP BY id""".stripMargin,
    "q_g4_degrees" ->
      """WITH co AS (
        |  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS cnt
        |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_suppkey < b.l_suppkey
        |  GROUP BY 1, 2),
        |pairs AS (SELECT sa, sb FROM co
        |          WHERE cnt >= 1.25 * (SELECT avg(cnt) FROM co)),
        |deg AS (
        |  SELECT v, count(*) AS deg FROM (
        |    SELECT sa AS v FROM pairs UNION ALL SELECT sb FROM pairs)
        |  GROUP BY 1)
        |SELECT (length(bin(deg)) - 1)::BIGINT AS log2_deg,
        |  count(*) AS n_vertices, min(deg) AS min_deg, max(deg) AS max_deg
        |FROM deg GROUP BY 1""".stripMargin,
    "q_g5_kcore" -> {
      // 10 unrolled peel rounds; MATERIALIZED, or DuckDB's CTE inlining
      // re-expands each level ~3x and the plan goes exponential (first
      // attempt died with "Too many open files" at depth 10)
      def peel(i: Int): String =
        s"""a$i AS MATERIALIZED (
           |  SELECT u FROM e${i - 1} GROUP BY u
           |  HAVING count(*) >= (SELECT k FROM kk)),
           |e$i AS MATERIALIZED (
           |  SELECT e.u, e.v FROM e${i - 1} e
           |  JOIN a$i x ON e.u = x.u JOIN a$i y ON e.v = y.u)""".stripMargin
      s"""WITH co AS MATERIALIZED (
         |  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS cnt
         |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_suppkey < b.l_suppkey
         |  GROUP BY 1, 2),
         |pairs AS MATERIALIZED (SELECT sa, sb FROM co
         |          WHERE cnt >= 1.25 * (SELECT avg(cnt) FROM co)),
         |e0 AS MATERIALIZED (SELECT sa AS u, sb AS v FROM pairs
         |      UNION ALL SELECT sb, sa FROM pairs),
         |kk AS MATERIALIZED (
         |  SELECT greatest(2, ((SELECT count(*) FROM e0)
         |    + 2 * (SELECT count(DISTINCT u) FROM e0) - 1)
         |    // (2 * (SELECT count(DISTINCT u) FROM e0))) AS k),
         |${(1 to 10).map(peel).mkString(",\n")}
         |SELECT u AS v, count(*) AS core_deg FROM e10 GROUP BY u""".stripMargin
    },
    "q_g6_labelprop" -> {
      // 4 unrolled synchronous rounds, MATERIALIZED for the same CTE
      // re-expansion reason as the k-core peel
      def round(i: Int): String =
        s"""l$i AS MATERIALIZED (
           |  SELECT v, label FROM (
           |    SELECT e.u AS v, l.label, count(*) AS c,
           |      row_number() OVER (PARTITION BY e.u
           |        ORDER BY count(*) DESC, l.label) AS rn
           |    FROM e JOIN l${i - 1} l ON l.v = e.v
           |    GROUP BY e.u, l.label) t WHERE rn = 1)""".stripMargin
      s"""WITH co AS MATERIALIZED (
         |  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS cnt
         |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_suppkey < b.l_suppkey
         |  GROUP BY 1, 2),
         |pairs AS MATERIALIZED (SELECT sa, sb FROM co
         |          WHERE cnt >= 1.25 * (SELECT avg(cnt) FROM co)),
         |e AS MATERIALIZED (SELECT sa AS u, sb AS v FROM pairs
         |      UNION ALL SELECT sb, sa FROM pairs),
         |l0 AS MATERIALIZED (
         |  SELECT DISTINCT u AS v, u AS label FROM e),
         |${(1 to 4).map(round).mkString(",\n")}
         |SELECT v, label AS community FROM l4""".stripMargin
    },
    "q_g2_pagerank" -> {
      def iter(prev: String, next: String): String =
        s"""$next AS (
           |  SELECT g.v AS id,
           |    (15 * (SELECT i FROM init)) // 100
           |      + (85 * sum($prev.pr // g.deg)) // 100 AS pr
           |  FROM g JOIN $prev ON $prev.id = g.u GROUP BY g.v)"""
          .stripMargin
      s"""WITH co AS (
         |  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS cnt
         |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_suppkey < b.l_suppkey
         |  GROUP BY 1, 2),
         |pairs AS (SELECT sa, sb FROM co
         |          WHERE cnt >= 1.25 * (SELECT avg(cnt) FROM co)),
         |e AS (SELECT sa AS u, sb AS v FROM pairs
         |      UNION ALL SELECT sb, sa FROM pairs),
         |deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
         |g AS (SELECT e.u, e.v, deg.deg FROM e JOIN deg USING (u)),
         |init AS (SELECT ${prScale} // count(DISTINCT u) AS i FROM e),
         |p0 AS (SELECT u AS id, (SELECT i FROM init) AS pr FROM deg),
         |${iter("p0", "p1")},
         |${iter("p1", "p2")},
         |${iter("p2", "p3")}
         |SELECT id AS v, pr::BIGINT AS pr FROM p3""".stripMargin
    },
    // pagerank's unrolled iteration with the teleport mass gated to
    // the 3-smallest-id seed set; ranks stay defined over all vertices
    // (zero rows included) so the round-N support never shrinks
    "q_g7_ppr" -> {
      def iter(prev: String, next: String): String =
        s"""$next AS (
           |  SELECT g.v AS id,
           |    CASE WHEN g.v IN (SELECT id FROM seeds)
           |      THEN (15 * (SELECT i FROM init)) // 100 ELSE 0 END
           |      + (85 * sum($prev.pr // g.deg)) // 100 AS pr
           |  FROM g JOIN $prev ON $prev.id = g.u GROUP BY g.v)"""
          .stripMargin
      s"""WITH co AS (
         |  SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS cnt
         |  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         |    AND a.l_suppkey < b.l_suppkey
         |  GROUP BY 1, 2),
         |pairs AS (SELECT sa, sb FROM co
         |          WHERE cnt >= 1.25 * (SELECT avg(cnt) FROM co)),
         |e AS (SELECT sa AS u, sb AS v FROM pairs
         |      UNION ALL SELECT sb, sa FROM pairs),
         |deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
         |g AS (SELECT e.u, e.v, deg.deg FROM e JOIN deg USING (u)),
         |seeds AS (SELECT u AS id FROM deg ORDER BY u LIMIT 3),
         |init AS (SELECT ${prScale} // count(*) AS i FROM seeds),
         |p0 AS (SELECT u AS id,
         |         CASE WHEN u IN (SELECT id FROM seeds)
         |           THEN (SELECT i FROM init) ELSE 0 END AS pr
         |       FROM deg),
         |${iter("p0", "p1")},
         |${iter("p1", "p2")},
         |${iter("p2", "p3")}
         |SELECT id AS v, pr::BIGINT AS pr FROM p3""".stripMargin
    },
  )
}
