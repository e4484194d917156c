package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the corpus similarity structure.
  *
  * The near-dup *jaccard* graph is the wrong substrate for exact triangle
  * work: its components are giant near-cliques (sf0.1: 3.5k nodes, max
  * degree 2.3k), so triangle volume grows as Σ C(clique, 3) — measured
  * ~2×10⁹ at sf0.1 — and the answer is better served by
  * [[Dedup.clusterAssignments]]' component sizes. Triangles are instead
  * computed on the **mutual-kNN embedding graph** (edge iff each endpoint
  * is in the other's top-k cosine neighbors), the standard manifold /
  * cluster-cohesion structure: its degree is ≤ k BY CONSTRUCTION, which
  * caps wedge volume at N·k² and makes exact, exactly-once triangle
  * enumeration scale linearly in N — no sampling, no silent caps.
  */
object Graph {
  import graft.functions.VectorFunctions._
  import graft.functions.CodebookOps.codebookDots

  /** Directed EXACT kNN edges (src, dst): each vector's top-k neighbors
    * by cosine, ties broken by neighbor id, self excluded.
    *
    * Branch-and-bound over IVF lists — the scale-safe replacement for the
    * corpus×corpus broadcast product this was through round 6. The
    * trained coarse quantizer ([[Similarity.centroids]], one bounded
    * driver sample) partitions the corpus into `nlist` lists; then:
    *
    *  1. SAME-LIST candidates meet through a list_id equi-join and each
    *     query's provisional top-k gives τ_q, its k-th best cosine — a
    *     lower bound on what a true neighbor must beat.
    *  2. For every OTHER list j, the spherical triangle inequality bounds
    *     any member x (angle(q,x) ≥ θ_qc − θ_j with θ_j the list's
    *     radius, so cos(q,x) ≤ cos(θ_qc − θ_j)): lists whose bound cannot
    *     reach τ_q are PRUNED without reading a single member. Surviving
    *     (query, list) pairs meet members through a second list_id
    *     equi-join; exact cosines below τ_q drop immediately.
    *  3. The union of both candidate streams re-ranks to the final top-k.
    *
    * Output is EXACT at any prune rate (a pruned list provably contains
    * no top-k member; τ ties survive to the final window), so the
    * brute-force DuckDB oracle stays valid — unlike an LSH/recall feed,
    * which could never hash-match it. [[knnDirectedBrute]] is the test
    * pin; GraphKnnSpec asserts edge-set equality.
    *
    * Scale shape: no O(corpus) broadcast anywhere — both pair sources are
    * keyed shuffle joins on list_id (AQE skew-splits oversized lists),
    * the bound test runs on N·nlist probe ROWS (never members), and the
    * windows prune map-side (WindowGroupLimit). Pruning is data-adaptive:
    * on THIS corpus (uniform directions, the worst case — neighbor
    * cosines ≈ 0.4, list radii ≈ 80°) the bound prunes almost nothing
    * and the cost honestly approaches all-pairs spread across the
    * cluster; on a clustered real-embedding corpus tight lists (high
    * mc_j) collapse the bound and the probe join touches the few lists
    * a query could possibly score in — measured rates in BASELINE.md. */
  private[graft] def knnDirected(s: SparkSession, dir: String, k: Int,
                                 nlist: Int = AutoNlist): DataFrame =
    knnBuild(s, dir, k, nlist).select("src", "dst")

  /** Sentinel: derive nlist from the corpus size at build time. */
  private[graft] val AutoNlist = -1

  /** Corpus-derived nlist for the EXACT branch-and-bound build — the
    * r17 nlist sweep (plans/r17/knn_nlist_sweep.txt) replaces
    * the flat 16 the r15 note defended: phase-1's same-list self-join
    * (Σ|list|² ≈ N²/nlist candidate dots) is the only nlist-SENSITIVE
    * term and dominates at scale (10x: p1 11.5 s at nlist=16 → 1.8 s at
    * 141), while the feared N·nlist probe-row growth stays cheap even
    * at 9M rows (≤ 1.3 s) because probe rows carry no members — so the
    * √N point wins: 10x total 27 → 17.5 s (1.54×), 1x 1.72 → 1.51 s,
    * edge sets bit-identical at every swept nlist (the build is exact
    * by construction; nlist only moves cost). [[Similarity.sqrtNlist]]
    * is the shared power-of-two rule; the 16 floor keeps tiny corpora
    * on the long-pinned geometry. One memoized count() per corpus
    * snapshot ([[corpusCount]]). */
  private[graft] def autoNlist(n: Long): Int =
    math.max(16, Similarity.sqrtNlist(n))

  private[this] val corpusCountMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[(String, Long, Long)]), java.lang.Long]()

  /** The corpus size at `dir`, counted once per snapshot: the memo key
    * holds the embeddings files' names, sizes and modification times, so
    * a corpus rewritten in place is counted again. */
  private[graft] def corpusCount(s: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val files = path.getFileSystem(s.sparkContext.hadoopConfiguration).listFiles(path, true)
    val listing = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
    corpusCountMemo.computeIfAbsent((dir, listing), _ => Similarity.corpus(s, dir).count())
  }

  /** Spherical triangle-inequality bound: an upper bound on cos(q, x)
    * for any member x of a list whose query-centroid cosine is `qc` and
    * whose radius-as-cosine is `mc` (= min member-own-centroid cosine).
    * cos(angle(q,x)) ≤ cos(θ_qc − θ_j), clamped to 1 when the query sits
    * inside the list's cap. */
  private def sphericalBound(qc: org.apache.spark.sql.Column,
                             mc: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(qc >= mc, lit(1.0)).otherwise(
      qc * mc +
        sqrt(greatest(lit(0.0), lit(1.0) - qc * qc)) *
        sqrt(greatest(lit(0.0), lit(1.0) - mc * mc)))

  /** Directed exact top-k edges (src, dst, cosine) over the corpus at
    * `dir`. */
  private[graft] def knnBuild(s: SparkSession, dir: String, k: Int,
                              nlist: Int = AutoNlist): DataFrame =
    knnBuildFrom(Similarity.corpus(s, dir), k,
      if (nlist == AutoNlist) autoNlist(corpusCount(s, dir)) else nlist)

  /** [[knnBuild]] over an explicit (vec_id, v, nrm) corpus relation,
    * optionally restricting the QUERY side to `queryPred` (the member
    * side is always the full relation): the incremental maintenance path
    * uses this to compute exact top-k for just the increment's vectors
    * over settled ∪ increment without paying the settled queries.
    * nlist is the caller's (the dir-keyed entry points resolve
    * [[AutoNlist]] through [[autoNlist]] — see its scaladoc for the r17
    * measured curve that retired the r15 flat-16 argument: the N^1.5
    * probe-ROW growth the flat default guarded against is real but
    * cheap, while phase-1's N²/nlist candidate dots are the actual
    * scale term, so √N wins at every measured point and the output is
    * nlist-invariant by construction). */
  private[graft] def knnBuildFrom(all: DataFrame, k: Int, nlist: Int = 16,
                                  queryPred: org.apache.spark.sql.Column = lit(true))
      : DataFrame = {
    val cents = Similarity.centroids(all, nlist)
    val centDots = codebookDots(col("v"), col("nrm"), cents)
    // The single-block scan would otherwise run every downstream join in
    // one task (broadcast/shuffle joins preserve the scan's partitioning;
    // see round-6 note) — spread N tiny rows BEFORE any pair blowup.
    val assigned = all.repartition(col("vec_id"))
      .withColumn("cd", centDots)
      .withColumn("own", array_max(col("cd")))
      .withColumn("list_id", expr("array_position(cd, own) - 1"))
    val members = assigned.select(col("vec_id"), col("v"), col("nrm"),
      col("list_id"))
    val cos = dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))
    val w = Window.partitionBy("src").orderBy(col("cosine").desc, col("dst"))

    // Phase 1: same-list exact candidates → provisional top-k and τ_q.
    // N·k rows; localCheckpointed because it feeds BOTH the τ probe and
    // the final union (without it the list self-join would run twice).
    val p1top = members.as("a")
      .join(members.filter(queryPred)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("nrm").as("qnrm"), col("list_id").as("ql")).as("q"),
        col("a.list_id") === col("q.ql") && col("a.vec_id") =!= col("q.qid"))
      .select(col("q.qid").as("src"), col("a.vec_id").as("dst"),
        cos.as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .localCheckpoint()
    val tau = p1top.filter(col("rk") === k)
      .select(col("src").as("qid"), col("cosine").as("tau"))

    // Per-list radius as a cosine: mc_j = min over members of their
    // own-centroid cosine (cos θ_j). nlist rows; AQE broadcasts it.
    val radius = assigned.groupBy("list_id").agg(min(col("own")).as("mc"))
      .select(col("list_id").as("pl"), col("mc"))

    // Phase 2: bound-pruned cross-list probes. The 1e-9 slack covers the
    // bound's own float rounding (pruning must stay conservative);
    // queries with < k same-list candidates have no τ row and default to
    // -2, below any cosine, so nothing is pruned for them.
    val bound = sphericalBound(col("qc"), col("mc"))
    val probes = assigned.filter(queryPred)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("list_id").as("ql"),
        posexplode(col("cd")).as(Seq("j", "qc")))
      .filter(col("j").cast("long") =!= col("ql"))
      .join(radius, col("j").cast("long") === col("pl"))
      .join(tau.withColumnRenamed("qid", "tqid"),
        col("qid") === col("tqid"), "left")
      .withColumn("tau", coalesce(col("tau"), lit(-2.0)))
      .filter(bound >= col("tau") - lit(1e-9))
      .select(col("qid"), col("qv"), col("qnrm"), col("tau"),
        col("pl").as("list_id"))
    val p2 = members.join(probes, Seq("list_id"))
      .select(col("qid").as("src"), col("vec_id").as("dst"),
        cos.as("cosine"), col("tau"))
      // exact-value comparison: τ IS a phase-1 cosine computed by the
      // same kernel, so >= keeps ties the final window must adjudicate
      .filter(col("cosine") >= col("tau"))
      .select("src", "dst", "cosine")

    // cosine retained: the incremental maintenance path persists it (the
    // settled artifact's τ column); knnDirected projects it away.
    p1top.select("src", "dst", "cosine").unionByName(p2)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("src", "dst", "cosine")
  }

  /** The round-6 all-pairs build: corpus × broadcast(corpus) product.
    * O(N²) dot products with an O(N) broadcast side — dies at 100 TB.
    * Kept UNREGISTERED as the exactness pin for [[knnDirected]]
    * (GraphKnnSpec asserts identical edges) and as the degenerate-corpus
    * fallback. */
  private[graft] def knnDirectedBrute(s: SparkSession, dir: String, k: Int): DataFrame = {
    val all = Similarity.corpus(s, dir).repartition(col("vec_id"))
    val queries = all.select(col("vec_id").as("qid"), col("v").as("qv"),
      col("nrm").as("qnrm"))
    val w = Window.partitionBy("src").orderBy(col("cosine").desc, col("dst"))
    all.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid").as("src"), col("vec_id").as("dst"),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))).as("cosine"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("src", "dst")
  }

  /** Mutual-kNN undirected edge set, one row per edge with u < v. A
    * mutual pair (u,v) appears in the directed set as both (u,v) and
    * (v,u); the forward/reverse equi-join matches each direction once and
    * the u < v filter keeps exactly one row — exactly-once by
    * construction, no dropDuplicates exchange. */
  private[graft] def mutualKnnEdges(s: SparkSession, dir: String, k: Int): DataFrame = {
    val d = knnDirected(s, dir, k)
    d.as("f").join(d.as("r"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src"))
      .filter(col("f.src") < col("f.dst"))
      .select(col("f.src").as("u"), col("f.dst").as("v"))
  }

  /** Per-vector triangle participation counts on the mutual-kNN graph —
    * high counts mark vectors inside cohesive clusters, count 0 (absent)
    * marks hubs/outliers whose neighborhoods do not close. Output
    * (vec_id, n_triangles), nodes in ≥ 1 triangle.
    *
    * Enumeration: every triangle a<b<c decomposes uniquely into edges
    * (a,b), (b,c), (a,c) of the u<v edge list, so the wedge join
    * e1.v = e2.u (giving a<b<c paths) closed by the (a,c) edge counts
    * each triangle exactly once. With degree ≤ k the wedge join fans out
    * to at most N·k² rows — id-ordered orientation suffices; the
    * degree-ordered variant is only needed on unbounded-degree graphs.
    * Served from the persisted edge artifact ([[artifactEdges]]): three
    * parquet scans of ≤ N·k/2 (long, long) rows, zero vector math —
    * through round 7 each graph query paid its own full kNN rebuild
    * (~3 s at sf0.1, ×5 queries) for edges the repo had already
    * persisted. [[triangleCountsFresh]] keeps the fresh-build path as
    * the gate's correctness pin. */
  def triangleCounts(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    triangleCountsFromEdges(artifactEdges(s, dir, k))
      .orderBy("vec_id")

  /** Fresh-build triangle counts: re-derives the mutual-kNN edges from
    * the vectors on every call. ONLY consumer is `graphArtifactGate`'s
    * bit-identity pin (artifact == fresh); every production read goes
    * through [[triangleCounts]]. The edge list is localCheckpointed: it
    * feeds three join legs, and without materialization each leg would
    * recompute the full kNN build. */
  private[graft] def triangleCountsFresh(s: SparkSession, dir: String,
                                         k: Int = 5): DataFrame =
    triangleCountsFromEdges(mutualKnnEdges(s, dir, k).localCheckpoint())
      .orderBy("vec_id")

  /** (vec_id, n_triangles) for nodes in ≥ 1 triangle of the given u<v
    * edge list, UNSORTED. Expects a materialized (checkpointed) edge
    * relation — it feeds three join legs. */
  private def triangleCountsFromEdges(e: DataFrame): DataFrame = {
    val tri = e.as("e1")
      .join(e.as("e2"), col("e1.v") === col("e2.u"))
      .join(e.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering structure on the mutual-kNN graph, in EXACT
    * integers: (vec_id, n_triangles, n_wedges) for every node with
    * degree ≥ 2, n_wedges = C(degree, 2). The coefficient
    * n_triangles/n_wedges is left to the consumer — emitting the two
    * integers keeps the result hash-comparable cross-engine (no double
    * division) and keeps zero-closure hub nodes (n_triangles = 0) in
    * the output, which [[triangleCounts]] by construction omits — those
    * are exactly the manifold outliers a curation pass wants to flag. */
  def clusteringCoefficients(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val e = artifactEdges(s, dir, k)
    val deg = e.select(explode(array(col("u"), col("v"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("degree"))
    deg.filter(col("degree") >= 2)
      .join(triangleCountsFromEdges(e), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        expr("degree * (degree - 1) div 2").as("n_wedges"))
      .orderBy("vec_id")
  }

  /** Connected components of the mutual-kNN graph: (vec_id, component_id,
    * n_members) for EVERY vector — component_id = the smallest vec_id in
    * the component, singletons (no mutual edge) label themselves with
    * n_members = 1. Components of the mutual graph are the semantic
    * cluster skeleta the triangle/coefficient queries score locally; this
    * is the global view (how many islands, how big) a curation pass reads
    * before deciding mixture weights over embedding clusters.
    *
    * Reuses [[Dedup.connectedComponents]]' large-star/small-star rounds
    * (O(log n) keyed aggregates even on chain-shaped components, throws
    * on non-convergence) over the exactly-once u < v edge list. The
    * label table is localCheckpointed before the size aggregate: it feeds
    * two consumers (the groupBy and the join-back), and without
    * materialization EACH would re-run the kNN build — the most expensive
    * subtree in the plan. Size attach is one keyed aggregate + one keyed
    * join on component_id — no broadcast of any O(N) side. */
  /** PageRank centrality on the mutual-kNN graph, in EXACT integers —
    * which embedding-space neighborhoods are structurally central (rank
    * mass concentrates in dense, well-connected regions) vs peripheral;
    * the graph family's global-importance signal next to the local
    * triangle/coefficient ones.
    *
    * Fixed-iteration power method in micro-units (Page et al. 1999, with
    * d = 0.85 = 17/20 kept as an integer ratio): pr₀ = 10⁶ per node;
    * pr_{k+1}(v) = 150000 + (17 · Σ_{u∼v} (pr_k(u) div deg(u))) div 20.
    * Every step is BIGINT floor arithmetic, so the result hash-matches
    * any engine — the family's standard determinism trade (a float
    * PageRank converges to the same ORDER but its doubles cannot be
    * hash-compared). Dangling mass does not arise: the graph is
    * undirected and every node in it has degree ≥ 1 (singleton vectors
    * are absent, as in [[triangleCounts]]).
    *
    * Plan shape per iteration: one node-keyed equi-join (ranks onto the
    * degree-annotated adjacency) + one node-keyed aggregate — the
    * standard distributed PageRank exchange pattern, O(E) rows per
    * round, no broadcast of any O(N) side. The adjacency is
    * localCheckpointed once: it feeds every iteration, and each re-use
    * would otherwise re-run the kNN build. `iters` is fixed and small
    * (the oracle unrolls the same steps); centrality ORDER stabilizes in
    * a handful of rounds on k-regular-ish graphs, and a production run
    * continues with the same step until an integer fixpoint. */
  def pageRank(s: SparkSession, dir: String, k: Int = 5,
               iters: Int = 3): DataFrame =
    pageRankFromEdges(artifactEdges(s, dir, k), iters).orderBy("vec_id")

  /** (vec_id, pr) after `iters` integer power steps over a u<v edge
    * list. */
  private[graft] def pageRankFromEdges(e: DataFrame, iters: Int): DataFrame = {
    // The checkpoint must sit BELOW every consumer: deg feeds both the
    // adjacency annotation and the initial ranks, and every iteration
    // re-reads adjDeg — without materialization each re-use would
    // re-execute whatever edge lineage feeds this (through round 6 that
    // was the full ~3 s kNN build; today it is still one parquet scan
    // of the artifact per iteration per leg).
    val adj = e.select(col("u").as("src"), col("v").as("dst"))
      .union(e.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint()
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    val adjDeg = adj.join(deg, "src").localCheckpoint()
    var ranks = deg.select(col("src").as("vec_id"), lit(1000000L).as("pr"))
    for (_ <- 1 to iters) {
      ranks = adjDeg.join(ranks, col("src") === col("vec_id"))
        .select(col("dst"), expr("pr div deg").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("m"))
        .select(col("dst").as("vec_id"),
          (lit(150000L) + expr("(17 * m) div 20")).as("pr"))
    }
    ranks
  }

  /** Session-scoped warehouse for persisted edge artifacts, removed on
    * JVM exit (the [[Similarity]] index-root pattern). */
  private lazy val edgeRoot: String = {
    val p = java.nio.file.Files.createTempDirectory("graft-knnedges")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(): Unit
      }
      del(p.toFile)
    }))
    p.toString
  }
  /** Persisted settled-corpus mutual-kNN edge artifact: the edge build
    * (the only expensive stage in every graph query — branch-and-bound
    * over IVF lists, ~3 s at sf0.1 and the dominant cost at any scale)
    * runs ONCE per (corpus, k) and lands as a catalog parquet table;
    * every later consumer reads ≤ N·k/2 rows of two longs instead of
    * re-deriving them from N vectors. The nightly-build shape for the
    * whole graph family — triangles, clustering, components, PageRank
    * and BFS ALL serve from this table ([[artifactEdges]]); deterministic
    * build, so artifact and fresh edges are bit-identical
    * ([[graft.operators.Gates]] `graphArtifactGate` pins it).
    *
    * Naming + existence via [[Artifacts]] (catalog-backed, strong-hash
    * names — see its scaladoc for the failure modes this fixes). */
  private[graft] def edgeArtifact(s: SparkSession, dir: String,
                                  k: Int): String = {
    val name = s"graft_knn_edges_${Artifacts.key(s"$dir|$k")}"
    Artifacts.ensure(s, Seq(name)) {
      mutualKnnEdges(s, dir, k).write.mode("overwrite")
        .option("path", s"$edgeRoot/$name").saveAsTable(name)
    }
    name
  }

  /** The u<v mutual-kNN edge relation served from the persisted artifact
    * — the read path every registered graph query uses. A parquet scan
    * of ≤ N·k/2 (long, long) rows; already materialized on disk, so
    * multi-leg consumers (the triangle triple-join) just scan it per leg
    * with no checkpoint. */
  private[graft] def artifactEdges(s: SparkSession, dir: String,
                                   k: Int): DataFrame =
    s.table(edgeArtifact(s, dir, k))

  /** The DIRECTED exact-kNN edge list (src, dst — each node's true
    * top-k by cosine) persisted as a catalog artifact, the
    * [[edgeArtifact]] sibling for consumers that need NAVIGABILITY
    * rather than mutuality: the mutual INTERSECTION graph is the right
    * substrate for triangles/communities (degree ≤ k by construction)
    * but drops every asymmetric edge, which on tight clusters leaves
    * degree ~1-2 and fragments beam search; the directed graph keeps
    * degree exactly k outgoing (the NSW serving substrate —
    * [[Similarity.graphTopK]] navigates its undirected closure). Built
    * once by the same branch-and-bound kNN build, then a parquet scan. */
  private[graft] def directedEdgeArtifact(s: SparkSession, dir: String,
                                          k: Int): DataFrame = {
    val name = s"graft_knn_directed_${Artifacts.key(s"$dir|$k")}"
    Artifacts.ensure(s, Seq(name)) {
      knnDirected(s, dir, k).write.mode("overwrite")
        .option("path", s"$edgeRoot/$name").saveAsTable(name)
    }
    s.table(name)
  }

  /** Triangle counts served from the persisted edge artifact — alias of
    * [[triangleCounts]] kept for the bench's raw-serve row. */
  def triangleCountsFromArtifact(s: SparkSession, dir: String,
                                 k: Int = 5): DataFrame =
    triangleCounts(s, dir, k)

  /** BFS hop distance from a deterministic seed over the mutual-kNN
    * graph, executed as a SQL `WITH RECURSIVE` (Catalyst `UnionLoop`) —
    * the engine's ITERATIVE-SQL surface, complementing the driver-loop
    * iteration style of [[pageRankFromEdges]] / `Dedup.connectedComponents`.
    * Seed = the highest-degree node (ties → smallest id); output one row
    * per reached node within `maxHops`: (vec_id, hop), hop = shortest
    * path length.
    *
    * Recursion shape: Spark's recursive CTE does not yet support
    * UNION-dedup across levels (`UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE`),
    * so the recursive branch dedups WITHIN each level (`SELECT DISTINCT`
    * frontier expansion) and the final `min(hop)` collapses re-visits —
    * level width is bounded by |V| and total accumulated rows by
    * (maxHops+1)·|V|, never by path count. Each level is one node-keyed
    * equi-join of the frontier against the edge relation — the standard
    * distributed-BFS exchange, O(E) rows per round, no O(N) broadcast.
    * Edges come straight from the persisted artifact CATALOG table (the
    * CTE names it directly — no shared temp view to race on or leak),
    * so the recursion is fed by a parquet scan, not a kNN rebuild.
    *
    * KNOWN BOUND: the single-reference CTE cannot subtract
    * already-settled nodes (that needs `walk` on both the join and an
    * anti-join, and the recursive relation may be referenced once), so
    * every node settled at hop h is re-expanded at hops h+1…maxHops —
    * O(maxHops·E) join rows, acceptable here because maxHops is a small
    * constant. [[bfsHopsFrontier]] is the scale path: a driver-stepped
    * loop whose per-level frontier anti-joins the visited set, joining
    * only NEW nodes each round. */
  def bfsHops(s: SparkSession, dir: String, k: Int = 5,
              maxHops: Int = 6): DataFrame = {
    val tbl = edgeArtifact(s, dir, k)
    s.sql(
      s"""WITH RECURSIVE
         |b(u, v) AS (SELECT u, v FROM $tbl
         |            UNION ALL SELECT v, u FROM $tbl),
         |seed(vec_id) AS (SELECT u FROM b GROUP BY u
         |                 ORDER BY count(*) DESC, u LIMIT 1),
         |walk(vec_id, hop) AS (
         |  SELECT vec_id, CAST(0 AS BIGINT) FROM seed
         |  UNION ALL
         |  SELECT DISTINCT b.v, walk.hop + 1
         |  FROM b JOIN walk ON b.u = walk.vec_id
         |  WHERE walk.hop < $maxHops)
         |SELECT vec_id, min(hop) AS hop FROM walk
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin)
  }

  /** Frontier-subtracted BFS — the production-scale variant of
    * [[bfsHops]], same output contract: (vec_id, hop) for every node
    * within `maxHops` of the max-degree seed, hop = shortest path
    * length. A driver-stepped loop (the [[pageRankFromEdges]] iteration
    * style): each level expands ONLY the previous frontier and anti-joins
    * the accumulated visited set, so a node settled at hop h is never
    * re-joined at h+1…maxHops — per-level cost is O(edges incident to
    * the frontier), total O(E) over the whole traversal vs the CTE's
    * O(maxHops·E). Levels localCheckpoint ≤ |V| (long, long) rows each:
    * frontier feeds the next expansion AND the visited union, and the
    * loop terminates early on an empty frontier (`isEmpty` on the
    * checkpointed relation is a metadata read, not a recompute). */
  def bfsHopsFrontier(s: SparkSession, dir: String, k: Int = 5,
                      maxHops: Int = 6): DataFrame = {
    val e = artifactEdges(s, dir, k)
    val b = e.select(col("u"), col("v"))
      .unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val seed = b.groupBy("u").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("u")).limit(1)
      .select(col("u").as("vec_id"), lit(0L).as("hop"))
    var visited = seed.localCheckpoint()
    var frontier = visited
    var hop = 0L
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      frontier = b.join(frontier.select(col("vec_id").as("u")), "u")
        .select(col("v").as("vec_id")).distinct()
        .join(visited.select("vec_id"), Seq("vec_id"), "left_anti")
        .select(col("vec_id"), lit(hop).as("hop"))
        .localCheckpoint()
      visited = visited.unionByName(frontier).localCheckpoint()
    }
    visited.orderBy("vec_id")
  }

  /** Incrementally-MAINTAINED directed kNN top-k — the nightly-increment
    * shape for the graph family, completing the settled-corpus story
    * next to `dedup_incr_artifact` and `ann_incr_artifact`. The settled
    * corpus (vec_id % 10 ≠ 0, the repo's standard split) persists its
    * directed exact top-k WITH COSINES once; when the increment
    * (vec_id % 10 = 0) arrives, the maintained set is three relations
    * merged under one re-rank window:
    *
    *  1. the settled table, read back (no settled×settled work);
    *  2. full exact top-k for the INCREMENT's queries over settled ∪
    *     increment ([[knnBuildFrom]] with the query side restricted —
    *     the member side must be the whole corpus, a new vector's
    *     neighbors are anywhere);
    *  3. for SETTLED queries, only the increment candidates that can
    *     enter their top-k: an IVF structure is trained on the INCREMENT
    *     alone, each settled query's stored τ (its k-th settled cosine,
    *     -2 when it holds fewer than k rows) prunes increment lists by
    *     the same [[sphericalBound]] the fresh build uses, and surviving
    *     exact cosines below τ drop. Adding members can only RAISE a
    *     query's k-th cosine, so τ_settled is a valid (conservative)
    *     prune threshold for the union's top-k — the pass is EXACT.
    *
    * Cost shape at 100 TB: relation 2 is |increment| queries; relation
    * 3's member side IS the increment, so its join volume tracks batch
    * size, not corpus size — the full settled×settled pair work is never
    * re-paid. Cosines come from the same kernel on the same vectors as a
    * fresh build (coarse structures only drive pruning), so the
    * maintained set is BIT-IDENTICAL to the full rebuild —
    * [[Gates.graphIncrArtifactGate]] pins the derived mutual edges
    * against the settled-corpus edge artifact, itself pinned bit-equal
    * to fresh by `graphArtifactGate`. */
  private[graft] def knnIncrMaintained(s: SparkSession, dir: String,
                                       k: Int = 5,
                                       nlistArg: Int = AutoNlist): DataFrame = {
    // one derived granularity for settled build + increment IVF: both
    // structures only drive pruning, never values (see [[autoNlist]])
    val nlist =
      if (nlistArg == AutoNlist) autoNlist(corpusCount(s, dir)) else nlistArg
    val all = Similarity.corpus(s, dir)
    val settled = all.filter(col("vec_id") % 10 =!= 0)
    val incr = all.filter(col("vec_id") % 10 === 0)

    // Settled state, persisted once per (corpus, k, nlist).
    val aName = s"graft_knn_settled_${Artifacts.key(s"$dir|$k|$nlist")}"
    Artifacts.ensure(s, Seq(aName)) {
      knnBuildFrom(settled, k, nlist).write.mode("overwrite")
        .option("path", s"$edgeRoot/$aName").saveAsTable(aName)
    }
    val a = s.table(aName)

    // (2) increment queries over the full corpus — exact.
    val newTop = knnBuildFrom(all, k, nlist,
      queryPred = col("vec_id") % 10 === 0)

    // (3) settled queries vs increment members, τ-pruned.
    val tau = a.groupBy("src").agg(min(col("cosine")).as("tmin"),
        count(lit(1)).as("cnt"))
      .select(col("src").as("qid"),
        when(col("cnt") >= k, col("tmin")).otherwise(lit(-2.0)).as("tau"))
    val centsI = Similarity.centroids(incr, nlist)
    val centDotsI = codebookDots(col("qv"), col("qnrm"), centsI)
    val assignedI = incr.repartition(col("vec_id"))
      .withColumn("cd", codebookDots(col("v"), col("nrm"), centsI))
      .withColumn("own", array_max(col("cd")))
      .withColumn("list_id", expr("array_position(cd, own) - 1"))
    val radiusI = assignedI.groupBy("list_id").agg(min(col("own")).as("mc"))
      .select(col("list_id").as("pl"), col("mc"))
    val sQ = settled
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
      .join(tau, Seq("qid"), "left")
      .withColumn("tau", coalesce(col("tau"), lit(-2.0)))
      .withColumn("cd", centDotsI)
      .select(col("qid"), col("qv"), col("qnrm"), col("tau"),
        posexplode(col("cd")).as(Seq("j", "qc")))
      .join(radiusI, col("j").cast("long") === col("pl"))
      .filter(sphericalBound(col("qc"), col("mc")) >= col("tau") - lit(1e-9))
      .select(col("qid"), col("qv"), col("qnrm"), col("tau"),
        col("pl").as("list_id"))
    val cos = dot(col("v"), col("qv")) / (col("nrm") * col("qnrm"))
    val updates = assignedI
      .select(col("vec_id"), col("v"), col("nrm"), col("list_id"))
      .join(sQ, Seq("list_id"))
      .select(col("qid").as("src"), col("vec_id").as("dst"),
        cos.as("cosine"), col("tau"))
      .filter(col("cosine") >= col("tau"))
      .select("src", "dst", "cosine")

    val w = Window.partitionBy("src").orderBy(col("cosine").desc, col("dst"))
    a.select("src", "dst", "cosine")
      .unionByName(newTop).unionByName(updates)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("src", "dst")
  }

  /** Mutual u<v edges derived from the MAINTAINED directed set — what a
    * nightly graph job would hand to triangles/components/PageRank after
    * an increment lands. */
  private[graft] def mutualKnnEdgesMaintained(s: SparkSession, dir: String,
                                              k: Int = 5): DataFrame = {
    val d = knnIncrMaintained(s, dir, k).localCheckpoint()
    d.as("f").join(d.as("r"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src"))
      .filter(col("f.src") < col("f.dst"))
      .select(col("f.src").as("u"), col("f.dst").as("v"))
  }

  def componentAssignments(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val vecs = Tables.embeddings(s, dir).select(col("vec_id"))
    val comp = Dedup.connectedComponents(
      artifactEdges(s, dir, k)
        .select(col("u").as("doc_a"), col("v").as("doc_b")),
      assumeNormalized = true)
    val lbl = vecs.join(comp.select(col("node").as("vec_id"), col("label")),
        Seq("vec_id"), "left_outer")
      .select(col("vec_id"),
        coalesce(col("label"), col("vec_id")).as("component_id"))
      .localCheckpoint()
    lbl.join(lbl.groupBy("component_id").agg(count(lit(1)).as("n_members")),
        "component_id")
      .select("vec_id", "component_id", "n_members")
      .orderBy("vec_id")
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007)
    * on the mutual-kNN graph — the cheap community detector between
    * [[componentAssignments]] (pure connectivity: one label per
    * component) and modularity methods: after `iters` rounds each node
    * carries the label most frequent among its NEIGHBORS, which splits
    * a connected component into its dense regions. Deterministic
    * variant — oracle-checkable where classic async LPA is not: all
    * nodes update simultaneously from the previous round's labels,
    * initial label = own id, argmax ties break toward the SMALLEST
    * label, and the round count is fixed rather than run-to-convergence
    * (sync LPA famously oscillates on bipartite structures; a fixed
    * budget is the standard remedy and makes the output a pure function
    * of the edge set).
    *
    * Scale shape: per round one node-keyed equi-join of the label
    * relation against the artifact edge list (O(E) rows, degree ≤ k by
    * construction) → map-side-combined (node, label) counts → per-node
    * argmax via WindowGroupLimit-pruned rank. No broadcast of any
    * O(N) set; `iters` is a small constant, and each round's result is
    * localCheckpointed so the lineage stays flat (the pageRank loop
    * precedent). Output: (vec_id, community, n_members) for every
    * non-isolated node. */
  def labelPropagation(s: SparkSession, dir: String, k: Int = 5,
                       iters: Int = 3): DataFrame =
    lpaFromEdges(artifactEdges(s, dir, k), iters)

  /** The LPA loop over an explicit u<v edge list — split out so the
    * spec can pin the round-by-round semantics on a hand-built graph. */
  private[graft] def lpaFromEdges(m: DataFrame, iters: Int): DataFrame = {
    val b = m.union(m.select(col("v"), col("u"))).toDF("u", "v")
    val w = Window.partitionBy("node").orderBy(col("c").desc, col("lab"))
    var labels = b.select(col("u").as("node")).distinct()
      .withColumn("lab", col("node"))
    (1 to iters).foreach { _ =>
      labels = b
        .join(labels.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u").as("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select("node", "lab")
        .localCheckpoint(false)
    }
    val sizes = labels.groupBy("lab").agg(count(lit(1)).as("n_members"))
    labels.join(sizes, "lab")
      .select(col("node").as("vec_id"), col("lab").as("community"),
        col("n_members"))
      .orderBy("vec_id")
  }

  /** MODULARITY of the [[labelPropagation]] communities — the quality
    * number that turns "LPA emitted labels" into "LPA found structure":
    * Q = Σ_c [e_c/m − (d_c/2m)²], reported per community as the EXACT
    * integer contribution numerator 4·m·e_c − d_c² over the constant
    * denominator 4m² (decimal(38,0) — d_c can reach 2m, whose square
    * overflows int64 at m ≳ 1.5·10⁹ edges; the profile_gini arithmetic
    * stance). A community of well-connected members contributes
    * positively; a label that lumped unrelated nodes goes negative —
    * the per-community sign IS the diagnostic.
    *
    * Scale shape: the settled edge artifact scanned twice (intra-edge
    * label join + degree count), both exchanges keyed on node/community;
    * m is one driver scalar (control plane). */
  def communityModularity(s: SparkSession, dir: String, k: Int = 5,
                          iters: Int = 3): DataFrame = {
    val m = artifactEdges(s, dir, k).localCheckpoint(false)
    val lab = labelPropagation(s, dir, k, iters)
      .select(col("vec_id"), col("community"), col("n_members"))
      .localCheckpoint(false)
    val mTotal = m.count() // one scalar: the edge count
    val intra = m
      .join(lab.select(col("vec_id").as("u"), col("community").as("cu")), "u")
      .join(lab.select(col("vec_id").as("v"), col("community").as("cv")), "v")
      .filter(col("cu") === col("cv"))
      .groupBy(col("cu").as("community")).agg(count(lit(1)).as("intra_edges"))
    val deg = m.select(col("u").as("node"))
      .union(m.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .join(lab.select(col("vec_id").as("node"), col("community")), "node")
      .groupBy("community").agg(sum(col("deg")).as("degree_sum"))
    lab.select("community", "n_members").distinct()
      .join(intra, Seq("community"), "left").na.fill(0L, Seq("intra_edges"))
      .join(deg, "community")
      .select(col("community"), col("n_members"), col("intra_edges"),
        col("degree_sum"),
        // decimal(38,0) internally; the BOUNDARY cast to long is the
        // profile_gini convention (DuckDB's pandas bridge floats
        // decimals) — int64 holds q_num to m ≈ 1.5·10⁹ edges, and the
        // internal arithmetic is already exact past that (widening the
        // output spelling is a one-line change on both sides)
        (lit(4L) * lit(mTotal) * col("intra_edges").cast("decimal(38,0)") -
          col("degree_sum").cast("decimal(38,0)") *
            col("degree_sum").cast("decimal(38,0)"))
          .cast("long").as("q_num"),
        (lit(4L) * lit(mTotal).cast("decimal(38,0)") * lit(mTotal))
          .cast("long").as("q_den"))
      .orderBy("community")
  }

  /** k-CORE membership via bounded synchronous peeling over the mutual-
    * kNN artifact — the density filter community pipelines run before
    * LPA/triangles: a node is in the k-core iff it survives repeated
    * removal of all nodes with fewer than `coreK` surviving neighbors.
    * Output per non-isolated node: the round it was peeled in (0 =
    * survived all `rounds` peels) and the core flag. `rounds` is a fixed
    * constant so the DuckDB oracle can unroll the peels as chained CTEs
    * (the pageRank power-step precedent); peeling is monotone and
    * idempotent at fixpoint, so if the true fixpoint arrives in fewer
    * rounds the bounded result IS the k-core, else it is its superset
    * (both engines compute the identical bounded semantics either way).
    *
    * Scale shape: per round one edge-relation join against the current
    * survivor set (O(E) rows, degree ≤ k by construction) → map-side-
    * combined degree counts → a filter; survivor sets localCheckpointed
    * per round (the LPA loop precedent) so lineage stays flat. No
    * broadcast of any O(N) set; `rounds` is a small constant. */
  def kCore(s: SparkSession, dir: String, k: Int = 5, coreK: Int = 3,
            rounds: Int = 4): DataFrame =
    kCoreFromEdges(artifactEdges(s, dir, k), coreK, rounds)

  /** The peeling loop over an explicit u<v edge list — split out so the
    * spec can pin round-by-round semantics on a hand-built graph. */
  private[graft] def kCoreFromEdges(m: DataFrame, coreK: Int,
                                    rounds: Int): DataFrame = {
    val adj = m.union(m.select(col("v"), col("u"))).toDF("src", "dst")
      .localCheckpoint(false)
    var survivors = adj.select(col("src").as("vec_id")).distinct()
      .localCheckpoint(false)
    val peeled = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    (1 to rounds).foreach { r =>
      // degree within the surviving induced subgraph; a survivor with
      // zero surviving neighbors simply doesn't appear -> peeled too
      val alive = adj
        .join(survivors.withColumnRenamed("vec_id", "dst"), "dst")
        .join(survivors.withColumnRenamed("vec_id", "src"), "src")
        .groupBy(col("src").as("vec_id")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= coreK).select("vec_id")
        .localCheckpoint(false)
      peeled += survivors.join(alive, Seq("vec_id"), "left_anti")
        .withColumn("peel_round", lit(r.toLong))
      survivors = alive
    }
    peeled.reduce(_ union _)
      .union(survivors.withColumn("peel_round", lit(0L)))
      .withColumn("in_core", col("peel_round") === 0L)
      .select("vec_id", "peel_round", "in_core")
      .orderBy("vec_id")
  }

  /** LINK PREDICTION on the mutual-kNN graph: for every node, the best
    * non-neighbor two hops away, scored by common-neighbor count with
    * exact-integer Jaccard ⌊10⁶·|N(u)∩N(w)| / |N(u)∪N(w)|⌋ as the
    * tie-break — the classic similarity-graph densification step
    * ("which missing edge is most supported?") that feeds semantic-dedup
    * candidate expansion and cluster repair. Nodes whose entire 2-hop
    * neighborhood is already adjacent emit no row (nothing to predict).
    *
    * Scale shape: the wedge join (adj⋈adj on the shared midpoint) is
    * bounded by N·k² rows since degree ≤ k by construction; existing
    * edges leave via a keyed anti-join; the per-node argmax is a
    * partitioned WindowGroupLimit-pruned rank. No cross join, no
    * unpartitioned window, no driver-side set. */
  def linkPrediction(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    linkPredictionFromEdges(artifactEdges(s, dir, k))

  private[graft] def linkPredictionFromEdges(m: DataFrame): DataFrame = {
    val adj = m.union(m.select(col("v"), col("u"))).toDF("src", "dst")
      .localCheckpoint(false)
    val deg = adj.groupBy("src").agg(count(lit(1)).as("deg"))
    val cand = adj.toDF("u", "mid")
      .join(adj.toDF("mid", "w"), "mid")
      .filter(col("u") =!= col("w"))
      .join(adj.toDF("u", "w"), Seq("u", "w"), "left_anti")
      .groupBy("u", "w").agg(count(lit(1)).as("n_common"))
    val scored = cand
      .join(deg.toDF("u", "deg_u"), "u")
      .join(deg.toDF("w", "deg_w"), "w")
      .withColumn("jacc_micro",
        expr("(1000000 * n_common) div (deg_u + deg_w - n_common)"))
    val w = Window.partitionBy("u")
      .orderBy(col("n_common").desc, col("jacc_micro").desc, col("w"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("u").as("vec_id"), col("w").as("pred"),
        col("n_common"), col("jacc_micro"))
      .orderBy("vec_id")
  }
}
