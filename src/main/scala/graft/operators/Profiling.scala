package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table profiling — the per-column inventory (row count, null count,
  * EXACT distinct cardinality) a pipeline runs before trusting a new
  * 100-TB drop: schema drift shows up as distinct-count cliffs, broken
  * upstream joins as null spikes. Works over any DataFrame; the
  * registered query profiles `lineitem` (the widest test table).
  *
  * Scale shape — the two standard traps and why this plan avoids both:
  *
  *  1. One `agg(count distinct c1, count distinct c2, ...)` row: Spark
  *     plans N distinct aggregates in one Aggregate as an Expand with one
  *     projection per distinct column — an N× row blowup THROUGH the
  *     exchange.
  *  2. One scan per column: N full table reads.
  *
  *  Instead the table is melted ONCE with `stack` (codegen, one scan)
  *  into (col_name, value-as-string) rows, and every statistic is an
  *  aggregate over that one relation. The melt is an N× expansion too,
  *  but it feeds straight into the partial hash aggregate on
  *  (col_name, value) IN THE SAME STAGE — the exchange carries only each
  *  partition's distinct (column, value) pairs, bounded by value
  *  cardinality, not rows × columns. The per-group count-distinct is the
  *  planner's two-phase rewrite (keys+value partial, then keys), no
  *  Expand anywhere.
  *
  * The string rendering exists only to give the melt one value type; it
  * is injective per column (Java's double/timestamp formatting maps
  * distinct values to distinct strings), so the distinct counts equal
  * DuckDB's over the raw columns — which is what the oracle checks, all
  * BIGINT, no float formatting in the output. */
object Profiling {

  def columnProfile(t: DataFrame): DataFrame = {
    val cols = t.columns
    val stackExpr = s"stack(${cols.length}, " +
      cols.map(c => s"'$c', cast($c as string)").mkString(", ") +
      ") as (col_name, value)"
    // Same compute-bound-expansion rule as Dedup.substrDupSpans: the
    // melt + partial aggregate needs tasks ∝ output rows, and a small
    // single-split input would serialize it on one core (explicit count
    // because AQE coalesces a bare repartition of small data to one
    // partition). Round-robin is fine — no key is needed before the
    // (col_name, value) hash aggregate.
    //
    // The distinct aggregate runs over xxhash64(col_name, value), not the
    // rendered string: the melt's exchange and the count-distinct hash
    // tables then carry 8-byte keys instead of 20-30 B rendered
    // decimal/timestamp strings (~3× smaller — the house pattern from
    // text_boilerplate/dedup_substr, landed here after the r8/r9
    // aggregate-memory variance on this row). A 64-bit collision WITHIN a
    // column would under-count that column's n_distinct by 1; odds are
    // ~n²/2⁶⁵ per column (~10⁻⁷ at a billion distinct values), the same
    // accepted stance TextAnalysis.dupGramsTopK documents. The null guard
    // matters twice over: xxhash64 maps NULL to its seed, not NULL, so an
    // unguarded hash would count nulls as one extra distinct value — and
    // the guarded hash is null exactly when the value is, so count(vh)
    // doubles as the null counter and the rendered string dies inside the
    // melt stage.
    val vhash = when(col("value").isNotNull,
      xxhash64(col("col_name"), col("value")))
    val stats = t
      .repartition(t.sparkSession.sparkContext.defaultParallelism)
      .select(expr(stackExpr))
      .select(col("col_name"), vhash.as("vh"))
      .groupBy("col_name")
      .agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - count(col("vh"))).as("n_nulls"),
        count_distinct(col("vh")).as("n_distinct"))
    // The column list comes from the SCHEMA, not the data: an empty
    // table must still profile as one all-zero row per column — a
    // profiler that returns nothing cannot distinguish "table empty"
    // from "profiler broken" (EmptyCorpusSpec pins this).
    import t.sparkSession.implicits._
    cols.toSeq.toDF("col_name")
      .join(stats, Seq("col_name"), "left")
      .select(col("col_name"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_nulls"), lit(0L)).as("n_nulls"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"))
      .orderBy("col_name")
  }

  def lineitemProfile(s: SparkSession, dir: String): DataFrame =
    columnProfile(Tables.lineitem(s, dir))

  /** SKETCHED cardinality profile — [[columnProfile]]'s 100-TB sibling:
    * per-column approximate distinct counts from HyperLogLog++
    * (`approx_count_distinct`), gated against the exact profiler. The
    * scale argument is the whole point: the exact melt's exchange
    * carries every distinct (column, value-hash) pair — at 100 TB that
    * is the value domain itself — while HLL sketches are FIXED-SIZE
    * (2^p registers) and MERGEABLE, so the sketch pass aggregates
    * map-side into one constant-size state per column and the exchange
    * carries kilobytes regardless of cardinality. One scan, one
    * ordinary (non-distinct) aggregate row, no Expand, no melt.
    *
    * Output is oracle-checkable the gate way: the exact BIGINT
    * n_distinct (DuckDB recomputes it from raw values) plus a pinned
    * `sketch_ok` — relative error within `tol`, far above HLL++'s
    * configured rsd so the boolean is stable across corpus growth.
    * The sketch VALUE itself is engine-specific by nature and never
    * emitted. Determinism: Spark's HLL++ is hash-based and
    * merge-order-independent, so the boolean cannot flap across
    * partitionings.
    *
    * The exact leg and the sketch leg each scan `t`. One shared scan
    * would make the sketch aggregate read the melt's round-robin
    * exchange, which carries every column of every row: at sf0.1 on 4
    * cores that spelling ran about 0.3 s slower than the second scan,
    * whose partial aggregate runs beside the exchange's stage. */
  def sketchProfile(t: DataFrame, rsd: Double = 0.05,
                    tol: Double = 0.15): DataFrame =
    columnProfile(t)
      .join(approxProfile(t, rsd), "col_name")
      .select(col("col_name"), col("n_distinct"),
        (col("n_distinct") === 0 && col("n_approx") === 0 ||
          abs(col("n_approx") - col("n_distinct")).cast("double") <=
            greatest(col("n_distinct") * tol, lit(2.0))).as("sketch_ok"))
      .orderBy("col_name")

  def lineitemSketchProfile(s: SparkSession, dir: String): DataFrame =
    sketchProfile(Tables.lineitem(s, dir))

  /** The sketch side of [[sketchProfile]] ALONE — what a 100-TB
    * deployment actually runs (the registered profile_sketch row pays
    * the exact melt as its GATE; this is the operator without the
    * truth). One scan, one ordinary aggregate whose state is a
    * fixed-size HLL++ register set per column — the exchange carries
    * kilobytes regardless of value-domain cardinality. The scale probe
    * (tools/ScaleProbe) measures this against [[columnProfile]] at 1x
    * and 10x so the constant-state claim exists as a number. */
  def approxProfile(t: DataFrame, rsd: Double = 0.05): DataFrame = {
    val cols = t.columns
    t.agg(
      approx_count_distinct(col(cols.head), rsd).as(cols.head),
      cols.tail.map(c => approx_count_distinct(col(c), rsd).as(c)): _*)
      .select(expr(s"stack(${cols.length}, " +
        cols.map(c => s"'$c', $c").mkString(", ") + ") as (col_name, n_approx)"))
  }

  /** COUNT-MIN-SKETCH heavy hitters gated against the exact vocabulary
    * top-k — the third canonical mergeable sketch (HLL distinct →
    * [[sketchProfile]]; quantiles → [[quantileSketchGate]]). The scale
    * story: exact heavy hitters pay a vocabulary-scale exchange
    * ([[TextAnalysis.vocabTopK]]); the CMS is a FIXED-SIZE (depth ×
    * width counters) mergeable aggregate — map-side partial sketches
    * merge by cell-wise add, the exchange carries one sketch per
    * partition, and any item's count is answerable after one pass.
    *
    * The gate pins the CMS contract on the exact top-k tokens:
    * est ≥ tf always (counters only over-count), and est ≤ tf + 2·ε·N
    * (double the one-sided ε·N bound, so the boolean cannot flap on
    * per-row hash collisions). The sketch binary is engine-specific
    * and never emitted — the exact (rk, token, tf) are, all
    * oracle-recomputable. The driver-side estimate loop is
    * control-plane: ONE binary blob + k membership probes, the
    * IVF-codebook pattern. Determinism: cell-wise counter addition is
    * commutative, so estimates are partitioning-independent for a
    * fixed seed. */
  def cmsHeavyHitters(s: SparkSession, dir: String, k: Int = 25,
                      eps: Double = 0.0001, conf: Double = 0.99,
                      seed: Int = 42): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
    val agg = toks.agg(
      expr(s"count_min_sketch(token, ${eps}d, ${conf}d, $seed)").as("sk"),
      count(lit(1)).as("n")).head()
    val cms = org.apache.spark.util.sketch.CountMinSketch
      .readFrom(agg.getAs[Array[Byte]]("sk"))
    val slack = math.ceil(2 * eps * agg.getAs[Long]("n")).toLong
    val exact = TextAnalysis.vocabTopK(s, dir, k) // (token, tf, df, rk)
    import s.implicits._
    val checks = exact.select("token", "tf", "rk").collect().map { r =>
      val est = cms.estimateCount(r.getString(0))
      (r.getLong(2), r.getString(0), r.getLong(1),
        est >= r.getLong(1) && est <= r.getLong(1) + slack)
    }.toSeq.toDF("rk", "token", "tf", "cms_ok")
    checks.orderBy("rk")
  }

  /** Per-column GINI IMPURITY in exact integer micro-units — the
    * concentration axis of the profile: n_distinct says how many
    * values a column has, Gini (1 − Σ(cᵢ/n)²) says how evenly the mass
    * spreads over them. A column whose impurity collapses between
    * drops signals an upstream default-value bug long before the
    * distinct count moves; entropy is the usual spelling but needs
    * logs — Gini is the log-free twin, exactly computable as
    * ((n² − Σcᵢ²)·10⁶) div n², BIGINT end-to-end so the row
    * hash-matches the oracle. Nulls are excluded (the columnProfile
    * convention; n_nulls already counts them).
    *
    * Plan: the [[columnProfile]] melt reused verbatim — one scan, one
    * (col_name, value-hash) partial aggregate — then a per-column
    * second aggregate of (n, Σc²). Counts grouped by the 8-byte hash
    * equal counts grouped by the value (same collision stance as
    * columnProfile documents), so Σc² is engine-exact. The rollup
    * arithmetic runs in decimal(38,0) (the q24 HUGEINT-twin precedent)
    * because (n² − Σc²)·10⁶ passes 2⁶³ at only ~3·10⁶ rows per
    * near-distinct column — decimal keeps the expression exact to
    * ~10¹⁶ rows, matching DuckDB's HUGEINT evaluation bit-for-bit.
    * Every schema column emits a row (all-NULL columns emit NULL
    * moments) — the columnProfile guard: a profiler returning nothing
    * cannot distinguish "table empty" from "profiler broken". */
  def giniProfile(t: DataFrame): DataFrame = {
    val s = t.sparkSession
    import s.implicits._
    val cols = t.columns
    val stackExpr = s"stack(${cols.length}, " +
      cols.map(c => s"'$c', cast($c as string)").mkString(", ") +
      ") as (col_name, value)"
    val vhash = when(col("value").isNotNull,
      xxhash64(col("col_name"), col("value")))
    val agg = t.repartition(t.sparkSession.sparkContext.defaultParallelism)
      .select(expr(stackExpr))
      .select(col("col_name"), vhash.as("vh"))
      .filter(col("vh").isNotNull)
      .groupBy("col_name", "vh").agg(count(lit(1)).as("c"))
      .groupBy("col_name")
      .agg(sum("c").as("n"), sum(col("c") * col("c")).as("sum_c2"))
    cols.toSeq.toDF("col_name").join(agg, Seq("col_name"), "left")
      .select(col("col_name"), col("n"), col("sum_c2"),
        expr("((cast(n as decimal(38,0)) * n - sum_c2) * 1000000) div " +
          "(cast(n as decimal(38,0)) * n)").as("gini_micro"))
      .orderBy("col_name")
  }

  def lineitemGiniProfile(s: SparkSession, dir: String): DataFrame =
    giniProfile(Tables.lineitem(s, dir))

  /** Kolmogorov–Smirnov DRIFT on a numeric column between two slices —
    * the distribution-shape companion to [[phiSquaredDrift]]'s category
    * mix: KS = max_v |F_a(v) − F_b(v)|, computed EXACTLY as integers by
    * clearing denominators (max |cum_a·n_b − cum_b·n_a|, reported in
    * micro-units over n_a·n_b) — no doubles, so the one-row result
    * hash-matches at any scale. `at_value` is the smallest value
    * achieving the max (deterministic tie-break). Registered on
    * lineitem's quantity across the same ship-date split as φ².
    *
    * Scale shape: one scan → a VALUE-HISTOGRAM aggregate (map-side
    * combined; the key domain is the column's distinct values — the
    * winsorize bounded-domain convention, quantity has 50); the
    * cumulative window and the argmax run over that bounded histogram,
    * never over rows. decimal(38,0) keeps cum·n exact to ~10¹⁸ rows. */
  def ksDrift(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.lineitem(s, dir).select(
      col("l_quantity").cast("long").as("v"),
      when(col("l_shipdate") < lit("1998-06-01").cast("timestamp"), 0L)
        .otherwise(1L).as("slice"))
    val h = base.groupBy("v").agg(
      sum(when(col("slice") === 0L, 1L).otherwise(0L)).as("c_a"),
      sum(when(col("slice") === 1L, 1L).otherwise(0L)).as("c_b"))
    val n = h.agg(sum("c_a").as("n_a"), sum("c_b").as("n_b"))
    val wv = org.apache.spark.sql.expressions.Window.orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val c = h.withColumn("cum_a", sum("c_a").over(wv))
      .withColumn("cum_b", sum("c_b").over(wv))
      .crossJoin(broadcast(n))
      .withColumn("diff", expr("abs(cast(cum_a as decimal(38,0)) * n_b - " +
        "cast(cum_b as decimal(38,0)) * n_a)"))
    val mx = c.agg(max("diff").as("mxd"))
    c.crossJoin(broadcast(mx)).filter(col("diff") === col("mxd"))
      .groupBy("mxd", "n_a", "n_b").agg(min("v").as("at_value"))
      .select(col("mxd").cast("long").as("ks_num"), col("n_a"), col("n_b"),
        expr("cast((1000000 * mxd) div (cast(n_a as decimal(38,0)) * n_b) " +
          "as bigint)").as("ks_micro"),
        col("at_value"))
  }

  /** φ² (mean-square contingency) DRIFT between two table slices — the
    * scale-free "did the category mix change?" statistic drift monitors
    * alarm on: φ² = χ²/N = Σ_cells (o·N − r·c)² / (N²·r·c), reported as
    * per-category contributions in exact integer micro-units (χ² itself
    * is N·φ², so φ² is the effect size that does NOT grow with corpus
    * size — the right alarm threshold at any scale). Zero cells are
    * INCLUDED (a category that vanished from one slice is exactly the
    * drift the statistic must see), via the category×slice cross of two
    * bounded domains. Registered on lineitem's return-flag mix across a
    * ship-date split — the "old partition vs new partition" deployment
    * question. On this synthetic corpus the mix is uniform so the
    * contributions are honestly near-zero; ProfilingSpec pins the
    * statistic's sensitivity on a hand-drifted fixture (φ² = 0.25 →
    * 62500 micro per cell).
    *
    * Scale shape: one scan → (cat, slice) map-side-combined counts over
    * a bounded key domain; every later step (row/col totals, the cross,
    * the contributions) runs on that bounded domain, broadcast-joined.
    * Arithmetic in decimal(38,0) (DuckDB: HUGEINT); (o·N − r·c)² keeps
    * the expression exact to ~3·10⁹ rows — past that the counts must be
    * pre-scaled (documented bound, the gini precedent). */
  def phiSquaredDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = Tables.lineitem(s, dir).select(
      col("l_returnflag").as("cat"),
      when(col("l_shipdate") < lit("1998-06-01").cast("timestamp"), 0L)
        .otherwise(1L).as("slice"))
    val obs = base.groupBy("cat", "slice").agg(count(lit(1)).as("o"))
    val dims = obs.select("cat").distinct()
    val slices = Seq(0L, 1L).toDF("slice")
    val full = dims.crossJoin(broadcast(slices))
      .join(obs, Seq("cat", "slice"), "left")
      .na.fill(0L, Seq("o"))
    val rTot = full.groupBy("cat").agg(sum("o").as("r_tot"))
    val cTot = full.groupBy("slice").agg(sum("o").as("c_tot"))
    val nTot = full.agg(sum("o").as("n_tot"))
    full.join(broadcast(rTot), "cat").join(broadcast(cTot), "slice")
      .crossJoin(broadcast(nTot))
      .withColumn("contrib",
        expr("(1000000 * (cast(o as decimal(38,0)) * n_tot - " +
          "cast(r_tot as decimal(38,0)) * c_tot) * " +
          "(cast(o as decimal(38,0)) * n_tot - " +
          "cast(r_tot as decimal(38,0)) * c_tot)) div " +
          "(cast(n_tot as decimal(38,0)) * r_tot * c_tot * n_tot)"))
      .groupBy("cat")
      .agg(sum(when(col("slice") === 0L, col("o"))).as("n_old"),
        sum(when(col("slice") === 1L, col("o"))).as("n_new"),
        sum("contrib").as("contrib_micro"))
      .orderBy("cat")
  }

  /** THETA (KMV) sketch set-operation gate — the fourth mergeable
    * sketch, and the one that answers a question HLL structurally
    * cannot: approximate INTERSECTION cardinality between key sets
    * ("how many orders appear in both return-status slices" /
    * "how many doc ids landed in both crawls"). An HLL union is exact
    * sketch algebra, but HLL intersection via inclusion-exclusion
    * explodes in relative error when the intersection is small; a theta
    * sketch keeps a uniform SAMPLE (the k minimum hash values), so
    * intersection is estimated directly on the sample:
    * θ = min(θ_A, θ_B), est = |{h ∈ A_k ∩ B_k : u(h) < θ}| / θ.
    *
    * Scale shape: ONE scan. The distinct (group, key) relation is built
    * once, hash-clustered by key: the table's rows cross one exchange on
    * `defaultParallelism` tasks, the dedupe runs after it with no
    * further exchange, and the relation is cached for the two collects
    * below (released before returning). From it:
    *  - the per-group bottom-k sketch, through [[graft.plans.TopKPerKey]]:
    *    a k-bounded heap per group per partition BELOW its exchange, so
    *    the exchange carries at most k·groups·partitions hashes whatever
    *    the key cardinality, and no task sorts a group's keys. (The
    *    `row_number() <= k` window gets Spark's map-side WindowGroupLimit
    *    only for k up to `spark.sql.optimizer.windowGroupLimitThreshold`,
    *    1,000 by default: at k = 4096 it sorted every key of a group in
    *    one task.) The k-hash sketches are control-plane (3 groups ×
    *    4096 longs — the CMS-blob/codebook collect pattern); pair
    *    estimates are driver arithmetic;
    *  - the EXACT pair counts, this row's truth gate (the stance of
    *    profile_sketch paying the exact melt): a self-join on key that
    *    needs no exchange, since both sides are already clustered by key.
    *    A merge join, so a large relation sorts and spills instead of
    *    being broadcast.
    * A 100-TB deployment runs only the sketch pass and unions sketches
    * across shards by keeping the k smallest of the merged sample —
    * mergeable by construction.
    *
    * Output: per group pair, the exact BIGINT intersection (DuckDB
    * recomputes it from raw keys) and `theta_ok` — relative error
    * within tol (RSE at k=4096 is ~1.6%; tol=0.15 cannot flap).
    * Determinism: xxhash64 is fixed-seed, bottom-k and the estimate
    * are order-independent functions of the key set. */
  def thetaIntersection(s: SparkSession, dir: String, k: Int = 4096,
                        tol: Double = 0.15): DataFrame = {
    import s.implicits._
    val pairs = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("grp"), col("l_orderkey").as("key"))
      .repartition(s.sparkContext.defaultParallelism, col("key"))
      .distinct()
      .cache()
    try {
      // bottom-k of xxhash64(key) per group: the KMV sample. Hash the KEY
      // alone so identical keys collide across groups (that is what makes
      // sample-set intersection meaningful).
      val hashes = pairs.select(col("grp"), xxhash64(col("key")).as("h"))
      val sketches: Map[String, Array[Long]] =
        graft.plans.TopKPerKey(hashes, Seq(col("grp")), Seq(col("h")), k)
          .groupBy("grp").agg(sort_array(collect_list("h")))
          .collect()
          .map(r => r.getString(0) -> r.getSeq[Long](1).toArray).toMap
      def u(h: Long): Double = // rank-preserving map of a signed-compared
        (h.toDouble - Long.MinValue.toDouble) / math.pow(2, 64) // hash to (0,1)
      def theta(a: Array[Long]): Double = if (a.length < k) 1.0 else u(a.last)
      // truth gate: exact intersection per unordered group pair
      val exact = pairs.as("a").join(pairs.as("b").hint("merge"),
          col("a.key") === col("b.key") && col("a.grp") < col("b.grp"))
        .groupBy(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"))
        .agg(count(lit(1)).as("n_exact"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      exact.toSeq.map { case (ga, gb, nExact) =>
        val (sa, sb) = (sketches(ga), sketches(gb))
        val th = math.min(theta(sa), theta(sb))
        val inA = sa.iterator.filter(u(_) < th).toSet
        val common = sb.iterator.filter(h => u(h) < th && inA(h)).length
        val est = common / th
        val ok = math.abs(est - nExact) <= math.max(tol * nExact, 8.0)
        (ga, gb, nExact, ok)
      }.toDF("grp_a", "grp_b", "n_exact", "theta_ok")
        .orderBy("grp_a", "grp_b")
    } finally pairs.unpersist()
  }

  /** Approximate-QUANTILE sketch gate (Greenwald-Khanna via
    * `approx_percentile`) against EXACT integer-arithmetic discrete
    * percentiles — per-group p50/p90 of l_extendedprice in cents. The
    * exact side is the [[Curation.winsorize]] histogram trick spelled
    * identically in both engines (smallest value with cum·10⁶ ≥ n·p_ppm
    * — no engine-specific percentile definition can drift), computed
    * per group over the value HISTOGRAM (distinct-cents-scale window,
    * not row-scale). The sketch side is one fixed-size mergeable state
    * per group. Gate: the approx value must lie between the exact
    * discrete percentiles at p ± 2/accuracy — the GK rank guarantee
    * with doubled slack, which holds for ANY merge order, so the
    * boolean is partitioning-stable even though the approximate VALUE
    * itself need not be. Only exact cents and booleans are emitted.
    *
    * One scan: the rows cross one exchange, hash-clustered by cents on
    * `defaultParallelism` tasks, and both the histogram (whose grouping
    * that clustering already satisfies) and the sketch aggregate read
    * that one exchange; the group totals are the histogram's Σc. */
  def quantileSketchGate(s: SparkSession, dir: String,
                         accuracy: Int = 10000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, dir).select(col("l_returnflag"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"))
      .repartition(s.sparkContext.defaultParallelism, col("cents"))
    val hist = li.groupBy("l_returnflag", "cents").agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy("l_returnflag").orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum("c").over(wcum))
    val totals = hist.groupBy("l_returnflag").agg(sum("c").as("n"))
    val slackPpm = 2000000L / accuracy // 2/accuracy in parts-per-million
    def cut(ppm: Long) =
      min(when(col("cum") * 1000000L >= col("n") * ppm, col("cents")))
    val cuts = cum.join(totals, "l_returnflag")
      .groupBy("l_returnflag")
      .agg(cut(500000L).as("p50_cents"), cut(900000L).as("p90_cents"),
        cut(500000L - slackPpm).as("lo50"), cut(500000L + slackPpm).as("hi50"),
        cut(900000L - slackPpm).as("lo90"), cut(900000L + slackPpm).as("hi90"))
    val ap = li.groupBy("l_returnflag")
      .agg(expr(s"approx_percentile(cents, array(0.5D, 0.9D), $accuracy)").as("ap"))
    cuts.join(ap, "l_returnflag")
      .select(col("l_returnflag"), col("p50_cents"), col("p90_cents"),
        col("ap").getItem(0).between(col("lo50"), col("hi50")).as("p50_ok"),
        col("ap").getItem(1).between(col("lo90"), col("hi90")).as("p90_ok"))
      .orderBy("l_returnflag")
  }

  /** Cross-column correlation inputs in ONE scan — the numeric-profiler
    * companion to [[columnProfile]]: for each column pair, the
    * sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy) from which
    * covariance / Pearson correlation / OLS slope are one driver-side
    * division away. The profile a pipeline runs to catch upstream
    * column swaps and unit changes (a price column suddenly correlated
    * 1.0 with quantity IS the bug report).
    *
    * Exactness rule: values go through the decimal detour to INTEGER
    * units (quantity as-is, rates ×10⁴ basis points) and every moment
    * is a BIGINT sum — bit-identical across engines, no float
    * accumulation order anywhere (the q31 cents precedent). Σ(bp²) ≤
    * n·10⁶ keeps BIGINT safe past sf 10⁵. Plan: ONE Aggregate node
    * computes all ten moments in a single pass (partial + final, no
    * Expand, no per-pair scans); the fixed three-row pair table is a
    * literal `stack` over the 1-row aggregate. */
  def correlationProfile(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(
      col("l_quantity").cast("decimal(18,4)").cast("long").as("q"),
      (col("l_discount").cast("decimal(18,4)") * 10000).cast("long").as("d"),
      (col("l_tax").cast("decimal(18,4)") * 10000).cast("long").as("t"))
    li.agg(
        count(lit(1)).as("n"),
        sum("q").as("sq"), sum("d").as("sd"), sum("t").as("st"),
        sum(col("q") * col("q")).as("sqq"),
        sum(col("d") * col("d")).as("sdd"),
        sum(col("t") * col("t")).as("stt"),
        sum(col("q") * col("d")).as("sqd"),
        sum(col("q") * col("t")).as("sqt"),
        sum(col("d") * col("t")).as("sdt"))
      .select(expr("stack(3, " +
        "'quantity_discount', n, sq, sd, sqq, sdd, sqd, " +
        "'quantity_tax', n, sq, st, sqq, stt, sqt, " +
        "'discount_tax', n, sd, st, sdd, stt, sdt" +
        ") as (pair, n, sum_x, sum_y, sum_xx, sum_yy, sum_xy)"))
      .orderBy("pair")
  }

  /** Distribution drift between the settled corpus (doc_id % mod != 0)
    * and an arriving increment (doc_id % mod == 0) — the nightly gate a
    * pipeline runs BEFORE absorbing a batch: a token whose increment
    * rate diverges from its settled rate signals a source change,
    * scraper regression or contamination, per-token and ranked.
    *
    * The score is the cross-multiplied rate difference
    * |c_i·N_s − c_s·N_i| (c = token occurrences, N = side totals) —
    * monotone in |c_i/N_i − c_s/N_s| for fixed totals but computed in
    * exact BIGINT, so ranks hash-match any engine with no float epsilon
    * (the same no-libm rule as BM25/PMI). Magnitude bound: c·N stays in
    * int64 up to ~10⁹·10⁹; past that lift to decimal(38,0) — q24's
    * HUGEINT-twin precedent.
    *
    * Plan: one corpus scan → per-(token, side) map-side-combined counts
    * (the only data-scale shuffle) → 1-row totals broadcast by crossJoin
    * (the house 1-row gate-broadcast shape) → TakeOrderedAndProject
    * top-k; the rank window runs over the k survivors only. */
  def tokenDrift(s: SparkSession, dir: String, k: Int = 25,
                 mod: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, dir)
      .select((col("doc_id") % mod === 0).as("is_new"),
        explode(split(col("text"), " ")).as("token"))
    val counts = toks.groupBy("token").agg(
      sum(when(!col("is_new"), 1L).otherwise(0L)).as("c_settled"),
      sum(when(col("is_new"), 1L).otherwise(0L)).as("c_incr"))
    val totals = counts.agg(sum("c_settled").as("n_settled"),
      sum("c_incr").as("n_incr"))
    val w = Window.orderBy(col("drift").desc, col("token"))
    counts.crossJoin(broadcast(totals)) // 1-row totals
      .select(col("token"), col("c_settled"), col("c_incr"),
        abs(col("c_incr") * col("n_settled") - col("c_settled") * col("n_incr"))
          .as("drift"))
      .orderBy(col("drift").desc, col("token")).limit(k)
      .withColumn("rk", row_number().over(w).cast("long"))
      .orderBy("rk")
  }

  /** INCREMENTAL profile maintenance — the reason the sketch family
    * exists at all, exercised end-to-end: the settled corpus's
    * per-column Datasketches-HLL state is built ONCE and persisted as a
    * catalog artifact (one ~KB blob per column — the nightly profile's
    * stored form); each arriving delta sketches ONLY its own rows and
    * `hll_union`s into the settled blobs. The settled corpus is never
    * rescanned — per-release profiling cost is delta-scale, the property
    * that makes corpus-wide cardinality tracking affordable at 100 TB
    * (the dedup_incr_artifact maintenance stance, applied to profiling).
    * Gate row: the merged estimate must sit within `tol` of the exact
    * full-corpus distinct count (the exact leg is the GATE's cost, not
    * the operator's — production serves the estimate). Union is
    * bucket-wise max, so the estimate is insensitive to partitioning and
    * merge order — deterministic on the item set. */
  /** The SERVE leg of [[incrementalProfile]] alone — delta sketch +
    * artifact union, NO exact pass: what production actually pays per
    * release (the gate row adds the full-corpus exact leg only to PIN
    * the estimate). Probe-registered so the gate-vs-serve separation is
    * a measured exponent, the profile_sketch_only precedent. */
  def incrementalProfileServe(s: SparkSession, dir: String,
                              mod: Int = 10): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cols = docs.columns
    val delta = hllSketchRows(docs.filter(col("doc_id") % mod === 0),
      cols, "delta_sketch")
    s.table(hllArtifact(s, dir, mod)).join(delta, "col_name")
      .select(col("col_name"), hll_sketch_estimate(
        hll_union(col("settled_sketch"), col("delta_sketch"))).as("n_est"))
      .orderBy("col_name")
  }

  private def hllSketchRows(d: DataFrame, cols: Seq[String],
                            out: String): DataFrame = d
    .agg(hll_sketch_agg(col(cols.head)).as(cols.head),
      cols.tail.map(c => hll_sketch_agg(col(c)).as(c)): _*)
    .select(expr(s"stack(${cols.length}, " +
      cols.map(c => s"'$c', $c").mkString(", ") + s") as (col_name, $out)"))

  private def hllArtifact(s: SparkSession, dir: String, mod: Int): String = {
    val docs = Tables.documents(s, dir)
    val name = s"graft_profile_hll_${Artifacts.key(s"$dir|$mod")}"
    Artifacts.ensure(s, Seq(name)) {
      val root = java.nio.file.Files.createTempDirectory("graft-hll").toString
      hllSketchRows(docs.filter(col("doc_id") % mod =!= 0), docs.columns,
        "settled_sketch")
        .write.mode("overwrite")
        .option("path", s"$root/$name").saveAsTable(name)
    }
    name
  }

  def incrementalProfile(s: SparkSession, dir: String, mod: Int = 10,
                         tol: Double = 0.15): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cols = docs.columns
    val delta = hllSketchRows(docs.filter(col("doc_id") % mod === 0),
      cols, "delta_sketch")
    val merged = s.table(hllArtifact(s, dir, mod)).join(delta, "col_name")
      .select(col("col_name"), hll_sketch_estimate(
        hll_union(col("settled_sketch"), col("delta_sketch"))).as("n_est"))
    val exact = docs.agg(count_distinct(col(cols.head)).as(cols.head),
        cols.tail.map(c => count_distinct(col(c)).as(c)): _*)
      .select(expr(s"stack(${cols.length}, " +
        cols.map(c => s"'$c', $c").mkString(", ") + ") as (col_name, n_exact)"))
    merged.join(exact, "col_name")
      .select(col("col_name"), col("n_exact"),
        (abs(col("n_est") - col("n_exact")).cast("double") <=
          greatest(col("n_exact") * tol, lit(2.0))).as("merged_ok"))
      .orderBy("col_name")
  }

  final case class Expectation(rule_id: Long, col_name: String, rule: String,
                               violates: org.apache.spark.sql.Column)

  /** DECLARATIVE data expectations — the Great-Expectations-style
    * contract check a pipeline runs before promoting a corpus release:
    * a fixed rule table (not-null, uniqueness, cross-field consistency,
    * regex domain, range) evaluated in ONE corpus scan via conditional
    * aggregation; `unique` adds the one count-distinct the scan already
    * pays in [[columnProfile]]. Output is one row per rule with the
    * violation count and the pass bit — the shape a release gate
    * consumes. Zero joins, zero shuffles beyond the single aggregate;
    * rules are data (extend the Seq), not plan shape. */
  def expectations(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val rules = Seq(
      Expectation(1L, "doc_id", "not_null", col("doc_id").isNull),
      Expectation(3L, "text", "not_null", col("text").isNull),
      Expectation(4L, "n_chars", "eq_length_text",
        col("n_chars").isNull || col("text").isNull ||
          col("n_chars") =!= length(col("text"))),
      Expectation(5L, "lang", "regex_iso639",
        !coalesce(col("lang"), lit("")).rlike("^[a-z]{2}$")),
      Expectation(6L, "source", "regex_src_domain",
        !coalesce(col("source"), lit("")).rlike("^src[0-9]+$")),
      Expectation(7L, "n_chars", "range_1_1000000",
        col("n_chars").isNull || col("n_chars") < 1 ||
          col("n_chars") > 1000000))
    val aggs = rules.map(r =>
      sum(when(r.violates, 1L).otherwise(0L)).as(s"v${r.rule_id}")) ++ Seq(
      count(lit(1)).as("n_rows"),
      count_distinct(col("doc_id")).as("n_ids"),
      count(col("doc_id")).as("n_nonnull_ids"))
    val one = docs.agg(aggs.head, aggs.tail: _*)
    import s.implicits._
    val ruleRows = (rules.map(r => (r.rule_id, r.col_name, r.rule)) :+
      ((2L, "doc_id", "unique")))
      .toDF("rule_id", "col_name", "rule")
    ruleRows.crossJoin(broadcast(one)) // 1-row stats
      .select(col("rule_id"), col("col_name"), col("rule"), col("n_rows"),
        when(col("rule") === "unique", col("n_nonnull_ids") - col("n_ids"))
          .otherwise(coalesce(rules.map(r =>
            when(col("rule_id") === r.rule_id, col(s"v${r.rule_id}"))): _*))
          .as("n_violations"))
      .withColumn("pass", col("n_violations") === 0L)
      .orderBy("rule_id")
  }
}
