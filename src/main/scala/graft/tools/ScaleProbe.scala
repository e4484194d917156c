package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** First above-sf0.1 scale probe (round-11): build a deterministic 10x
  * corpus from the sf0.1 parquet and measure the heaviest operators at
  * both scales, reporting the empirical scaling exponent
  * log10(t10/t1) — ~1.0 = linear, the 100-TB design claim.
  *
  * 10x construction (seed-free, deterministic, one-time, cached under
  * `target/scale10`):
  *   - documents: 10 copies, doc_id shifted by k*(max+1); text mapped
  *     through a per-copy Caesar `translate` over [a-zA-Z]. Every
  *     WITHIN-document quality signal (n_words, word lengths, TTR,
  *     top-word share, dup-2gram fraction, n_chars) is preserved
  *     EXACTLY — translate is a character bijection — while copy
  *     vocabularies become (near-)disjoint, so cross-doc structure
  *     (duplicate pairs, shared grams, boilerplate df counts) scales
  *     exactly 10x instead of quadratically within copy groups. The
  *     probe corpus is 10 structurally-identical, content-disjoint
  *     sub-corpora — the honest model of "10x more data of the same
  *     shape".
  *   - embeddings: 10 copies, vec_id shifted; each copy's vectors
  *     coordinate-ROTATED by k positions — an orthogonal map, so all
  *     within-copy dot products / norms / kNN structure are preserved
  *     exactly and cross-copy similarities are scrambled.
  *   - lineitem: 10 copies, l_orderkey shifted (column-profile
  *     cardinalities grow on keys, stay flat on low-card columns —
  *     the realistic mix).
  *   - remaining tables copied verbatim (no probed operator reads them).
  */
object ScaleProbe {

  private def caesar(k: Int): Column => Column = {
    val lower = "abcdefghijklmnopqrstuvwxyz"
    val upper = lower.toUpperCase
    val from = lower + upper
    val to = lower.drop(k % 26) + lower.take(k % 26) +
      upper.drop(k % 26) + upper.take(k % 26)
    c => translate(c, from, to)
  }

  /** Rotate a 64-dim float array left by k positions (orthogonal map). */
  private def rotate(c: Column, k: Int, dims: Int): Column =
    if (k % dims == 0) c
    else concat(slice(c, k % dims + 1, dims - k % dims), slice(c, 1, k % dims))

  def buildScaled(s: SparkSession, base: String, out: String,
                  copies: Int = 10): Unit = {
    val outDir = java.nio.file.Paths.get(out)
    if (java.nio.file.Files.exists(outDir.resolve("documents.parquet"))) return
    java.nio.file.Files.createDirectories(outDir)

    val docs = graft.operators.Tables.documents(s, base)
    val docShift = docs.agg(max("doc_id")).head().getLong(0) + 1
    (0 until copies).map { k =>
      docs.select((col("doc_id") + lit(k * docShift)).as("doc_id"),
        caesar(k)(col("text")).as("text"), col("lang"), col("source"),
        col("n_chars"))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = graft.operators.Tables.embeddings(s, base)
    val vecShift = emb.agg(max("vec_id")).head().getLong(0) + 1
    val dims = emb.select(size(col("embedding"))).head().getInt(0)
    (0 until copies).map { k =>
      emb.select((col("vec_id") + lit(k * vecShift)).as("vec_id"),
        rotate(col("embedding"), k, dims).as("embedding"), col("label"))
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val li = graft.operators.Tables.lineitem(s, base)
    val liShift = li.agg(max("l_orderkey")).head().getLong(0) + 1
    val rest = li.columns.filter(_ != "l_orderkey").map(col).toSeq
    (0 until copies).map { k =>
      li.select((col("l_orderkey") + lit(k * liShift)).as("l_orderkey") +: rest: _*)
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    Seq("region", "nation", "customer", "supplier", "part", "orders", "events")
      .foreach { t =>
        s.read.parquet(s"$base/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
  }

  /** Scaled `customer` for the linkage probe, added to an ALREADY-built
    * scale dir (marker-guarded — buildScaled's exists-check would skip
    * it). Same content-disjoint model as documents: c_custkey shifted by
    * k·(max+1); c_name mapped through a per-copy DIGIT rotation (period
    * 10) composed with the letter Caesar (period 26) — both bijections,
    * so within-copy edit distances (and hence the match structure every
    * copy contributes) are preserved EXACTLY, while the composite period
    * lcm(10,26)=130 keeps all copies' names ≥ 8 substitutions apart up
    * to 130 copies — no cross-copy matches. Nation/segment domains stay
    * FIXED: 10x customers over the same 125 block keys is precisely the
    * regime that separates |block|²-bounded from data-bounded candidate
    * generation. */
  def ensureScaledCustomer(s: SparkSession, base: String, out: String,
                           copies: Int): Unit = {
    val marker = java.nio.file.Paths.get(out, "_customer_scaled")
    if (java.nio.file.Files.exists(marker)) return
    val digits = "0123456789"
    val c = s.read.parquet(s"$base/customer.parquet")
    val shift = c.agg(max("c_custkey")).head().getLong(0) + 1
    val rest = c.columns.filter(x => x != "c_custkey" && x != "c_name")
      .map(col).toSeq
    (0 until copies).map { k =>
      val d = k % 10
      val digTo = digits.drop(d) + digits.take(d)
      c.select((col("c_custkey") + lit(k * shift)).as("c_custkey") +:
        translate(caesar(k)(col("c_name")), digits, digTo).as("c_name") +:
        rest: _*)
    }.reduce(_ unionAll _)
      .write.mode("overwrite").parquet(s"$out/customer.parquet.scaled")
    // Swap atomically-ish: the verbatim copy is replaced only once the
    // scaled build fully succeeded.
    val tgt = java.nio.file.Paths.get(out, "customer.parquet")
    def del(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(del)); f.delete(): Unit
    }
    del(tgt.toFile)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(out, "customer.parquet.scaled"), tgt)
    java.nio.file.Files.createFile(marker): Unit
  }

  /** The probe relation: name -> query. Gate rows (brute-truth rebuilds,
    * ~linear by construction) are filtered per the caller's policy. */
  private[graft] def probesFor(skipGates: Boolean)
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val gateRows = Set("ann_artifact", "graph_artifact")
    Seq(
      "dedup_jaccard", "dedup_minhash", "dedup_cluster", "export_training",
      "ann_artifact", "graph_artifact", "text_boilerplate",
      "profile_columns", "profile_sketch", "curate_substr",
      // r12 additions: iterative label joins, banded Hamming join,
      // KMV sketch + exact gate, EM trainer + Viterbi apply scan
      "graph_lpa", "multimodal_phash", "profile_theta", "text_unigram",
      // r12 late additions: asymmetric-prefix containment join, cluster
      // reweighting, per-shot decode fold, one-scan rule contract, and
      // the sketch-merge maintenance row (its exact GATE leg dominates —
      // the production serve path is the delta sketch + union only)
      "dedup_contain", "curate_softdedup", "multimodal_keyframes",
      "profile_expect", "profile_incr",
      // r13 brief #5: the unprobed r12 heavies — group-sampled split
      // assignment, bounded k-core peeling (iterative joins are where
      // exponents surprise), version restore scan, and the post-fix
      // range-partitioned-rank RFM
      "curate_leaksplit", "graph_kcore", "version_restore", "events_rfm",
      // r16: the shingle-width decision's serve row (the width memo is
      // warm after median3's untimed rep, so the cells time the chosen
      // prefix join, not the one-time sampler) and the BM25 row behind
      // the new 10x oracle lane
      "dedup_shingle", "search_bm25")
      .filterNot(n => skipGates && gateRows(n))
      .map(n => n -> graft.SparkEntry.queries(n)) ++ Seq[
      (String, (SparkSession, String) => DataFrame)](
      "profile_sketch_only" -> ((s: SparkSession, d: String) =>
        graft.operators.Profiling.approxProfile(
          graft.operators.Tables.lineitem(s, d))),
      // The sketch-merge SERVE leg alone (no exact gate): what a release
      // pays per delta once the settled artifact exists.
      "profile_incr_serve" -> ((s: SparkSession, d: String) =>
        graft.operators.Profiling.incrementalProfileServe(s, d)),
      "ann_serve" -> ((s: SparkSession, d: String) =>
        graft.operators.Similarity.ivfPqTopKFromArtifact(s, d)),
      "graph_serve" -> ((s: SparkSession, d: String) =>
        graft.operators.Graph.triangleCountsFromArtifact(s, d)),
      // The linkage pair: fixed-block-domain candidate generation vs the
      // deletion-variant join (identical output, spec-pinned) — requires
      // [[ensureScaledCustomer]] on the scale dirs.
      "link_pairs_blocked" -> ((s: SparkSession, d: String) =>
        graft.operators.Linkage.blockedPairs(s, d)),
      "link_pairs_del" -> ((s: SparkSession, d: String) =>
        graft.operators.Linkage.blockedPairsDeletion(s, d)),
      // The carry-vs-rejoin containment A/B (judge r13 brief #3): both
      // UNSORTED (the join pipeline, not the presentation sort), driven
      // over the Caesar scale dirs AND [[ContainZipf]]'s shared-vocab
      // Zipfian corpora.
      "dedup_contain_carry" -> ((s: SparkSession, d: String) =>
        graft.operators.Dedup.containmentPairsUnsorted(s, d, 0.95)),
      "dedup_contain_rejoin" -> ((s: SparkSession, d: String) =>
        graft.operators.Dedup.containmentPairsRejoinUnsorted(s, d, 0.95)),
      // the df-ordered-prefix spelling — head words never enter a
      // prefix, so the shared-vocab candidate term collapses
      "dedup_contain_rarest" -> ((s: SparkSession, d: String) =>
        graft.operators.Dedup.containmentPairsRarestUnsorted(s, d, 0.95)),
      // the containment auto path end-to-end: sampled regime decision +
      // whichever ordering it picks (judge r13 brief #1)
      "dedup_contain_auto" -> ((s: SparkSession, d: String) =>
        graft.operators.Dedup.containmentPairsAutoUnsorted(s, d, 0.95)),
      // the df-capped rarest spelling at the AUTO coverage cap (judge
      // r14 Next #1), capped unconditionally so the no-op claim on
      // unsaturated corpora is measured, not assumed
      "dedup_contain_capped" -> ((s: SparkSession, d: String) => {
        val docs = graft.operators.Tables.documents(s, d)
        val plan = graft.operators.Dedup.cappedPlanOn(docs, 0.95)
        graft.operators.Dedup.containmentPairsRarestFromSets(
          graft.operators.Dedup.hashedTokenSetsOf(docs), 0.95,
          maxDf = plan.maxDf)
      }),
      "dedup_jaccard_capped" -> ((s: SparkSession, d: String) => {
        val docs = graft.operators.Tables.documents(s, d)
        val plan = graft.operators.Dedup.cappedPlanOn(docs, 0.85)
        graft.operators.Dedup.jaccardPairsFromSets(
          graft.operators.Dedup.hashedTokenSetsOf(docs), 0.85,
          maxDf = plan.maxDf)
      }),
      // jaccard ordering twins on the SAME protocol (judge r13 brief
      // #2): the r12 hash-order re-registration was measured only on
      // Caesar-family corpora; the Zipf cells decide whether jaccard's
      // prefix construction shares containment's shared-vocab blow-up
      "dedup_jaccard_pos" -> ((s: SparkSession, d: String) =>
        graft.operators.Dedup.jaccardPairsUnsorted(s, d, 0.85)),
      "dedup_jaccard_rarest" -> ((s: SparkSession, d: String) =>
        graft.operators.Dedup.jaccardPairsRarestFirstUnsorted(s, d, 0.85)),
      "dedup_jaccard_auto" -> ((s: SparkSession, d: String) =>
        graft.operators.Dedup.jaccardPairsAutoUnsorted(s, d, 0.85)))
  }

  /** Run one (operator, dir) cell in a FRESH child JVM (same classpath +
    * module opens, `SPARK_GRAFT_SCALE_CELL` pinned) and return its
    * median-of-3, or -1 on timeout/failure. Exists because the r12
    * three-point probe read text_boilerplate 22.0 s and dedup_jaccard
    * 62.2 s at 20x IN-PROCESS where fresh JVMs read 5.6 s / 20.7 s —
    * same-JVM pressure across ~70 timed executions, the driver-box
    * inflation pathology reproduced inside the probe itself. Exponents
    * fitted across scales are only honest when every cell pays the same
    * fixed costs, so the standalone mode gives each cell its own JVM. */
  private def spawnCell(op: String, dir: String,
                        timeoutSec: Long = 1200): Double =
    ChildJvm.runForLine("graft.tools.ScaleProbe",
      env = Map("SPARK_GRAFT_SCALE_CELL" -> op, "SPARK_GRAFT_SF_DIR" -> dir),
      dropEnv = Seq("SPARK_GRAFT_SCALE_STANDALONE"),
      marker = "\"scale_cell\"", timeoutSec = timeoutSec,
      cwd = Some(new java.io.File(sys.props("user.dir"))))
      // Try: malformed child output degrades to the -1.0 sentinel
      // instead of aborting the whole probe run (ADVICE r12)
      .flatMap { line => scala.util.Try {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(line).path("sec")
        if (node.isMissingNode) None else Some(node.asDouble())
      }.toOption.flatten }.getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Scale points beyond 1x, as copy counts. The default single 10x point
    // is the judge-prescribed probe; SPARK_GRAFT_SCALE_POINTS="10,30" adds
    // a third point so the exponent can be fitted on the 10x->30x leg,
    // where the fixed costs that flatter the 1x->10x exponent (session
    // setup, codegen, 32-task floors) have already amortized.
    val points = sys.env.getOrElse("SPARK_GRAFT_SCALE_POINTS", "10")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.GraftSession()

    // CELL MODE: one (operator, dir) measurement in this (fresh) JVM —
    // the child side of the standalone probe. `SPARK_GRAFT_SF_DIR` IS the
    // cell's corpus dir (already built by the parent); no dir building,
    // no table, one JSON line.
    val cellOp = sys.env.get("SPARK_GRAFT_SCALE_CELL")
    if (cellOp.nonEmpty) {
      val fn = probesFor(skipGates = false).toMap.apply(cellOp.get)
      def dropCk(): Unit = spark.sparkContext.getPersistentRDDs
        .valuesIterator.foreach(_.unpersist(blocking = false))
      def runOnce(): Double = {
        val t0 = System.nanoTime()
        fn(spark, base).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      runOnce(); dropCk()
      val med = Seq.fill(3) { val t = runOnce(); dropCk(); t }.sorted.apply(1)
      println(s"""{"scale_cell":"${cellOp.get}","dir":"$base","sec":${
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(med))}}""")
      spark.stop()
      return
    }

    val dirs: Seq[(Int, String)] = points.map { k =>
      val out = if (k == 10)
        sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "target/scale10")
      else s"target/scale$k"
      buildScaled(spark, base, out, k)
      ensureScaledCustomer(spark, base, out, k)
      k -> out
    }

    // The 10 heaviest registered rows (judge's list) + the sketch side
    // alone, so profile_sketch's constant-state claim is measured without
    // its exact gate riding along. The two GATE rows (brute-truth
    // rebuilds, linear by construction and already adjudicated at 10x)
    // are probed only at the default point — SPARK_GRAFT_SCALE_GATES=1
    // forces them everywhere.
    val gateRows = Set("ann_artifact", "graph_artifact")
    val skipGates = points != Seq(10) &&
      !sys.env.get("SPARK_GRAFT_SCALE_GATES").exists(_.nonEmpty)
    // The 10 heaviest registered rows (judge's list) + the sketch-only /
    // serve paths — see [[probesFor]] (cell mode needs the same relation).
    // SPARK_GRAFT_SCALE_OPS=<csv> restricts the run to named probes (e.g.
    // a two-operator A/B doesn't pay for the other 13 cells).
    val onlyOps = sys.env.get("SPARK_GRAFT_SCALE_OPS")
      .map(_.split(",").map(_.trim).toSet)
    // A/B measurement twins (carry/rejoin/rarest spellings) are OPT-IN:
    // they exist so one of them can lose — sweeping them into the
    // default run (and scale_check's exponent gate) would fail CI on a
    // spelling that is documented as losing in this corpus regime.
    val abTwins = Set("dedup_contain_carry", "dedup_contain_rejoin",
      "dedup_contain_rarest", "dedup_contain_auto", "dedup_contain_capped",
      "dedup_jaccard_pos", "dedup_jaccard_rarest", "dedup_jaccard_auto",
      "dedup_jaccard_capped")
    val probes = probesFor(skipGates)
      .filter { case (n, _) =>
        onlyOps.map(_.contains(n)).getOrElse(!abTwins(n)) }

    def dropCheckpoints(): Unit =
      spark.sparkContext.getPersistentRDDs.valuesIterator
        .foreach(_.unpersist(blocking = false))
    def run(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def median3(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      run(fn, dir); dropCheckpoints() // warm-up, untimed
      val ts = Seq.fill(3) { val t = run(fn, dir); dropCheckpoints(); t }
      ts.sorted.apply(1)
    }

    // Per-op: median-of-3 at 1x and at each scale point; exponent per
    // LEG fitted as log(t_b/t_a)/log(b/a), so with points=10,30 the last
    // column is the asymptotic 10x->30x exponent.
    // SPARK_GRAFT_SCALE_STANDALONE=1: every cell runs in its own fresh
    // child JVM (see [[spawnCell]]) — the honest cross-scale comparator;
    // the default in-process mode stays for the cheap 1x/10x CI gate.
    val standalone =
      sys.env.get("SPARK_GRAFT_SCALE_STANDALONE").exists(_.nonEmpty)
    val scales: Seq[(Int, String)] = (1, base) +: dirs
    val rows = probes.map { case (name, fn) =>
      val ts = scales.map { case (k, dir) =>
        k -> (if (standalone) spawnCell(name, dir) else median3(fn, dir)) }
      val legs = ts.sliding(2).collect { case Seq((ka, ta), (kb, tb)) =>
        math.log(tb / ta) / math.log(kb.toDouble / ka)
      }.toSeq
      System.err.println(f"[scale] $name%-22s " +
        ts.map { case (k, t) => f"${k}x ${t}%7.2f s" }.mkString("  ") +
        "   exp " + legs.map(e => f"$e%5.2f").mkString(" -> "))
      (name, ts, legs)
    }

    // CAPPED-REGIME exponent leg (judge r15 Next #4): the Caesar scale
    // corpora above have content-disjoint copy vocabularies, so the
    // auto decision picks Carry and the 1x/10x sweep NEVER ENGAGES
    // stage-3's df cap — the capped plan's winning exponent lived only
    // in BASELINE prose. This leg drives the dedup_contain_capped gate
    // fixture's own corpus construction at 1x/10x doc counts (vocab
    // and boilerplate fraction FIXED: saturation deepens with n while
    // the df-outlier class stays a coverage fringe), VERIFIES the
    // decision lands CappedPlan at both scales — a Carry/Rarest cell
    // would time the wrong plan — and fits the auto path's exponent
    // under the same bound as every other operator.
    val zipfCapDirs = Seq(1 -> ("target/zipfcap1x", 2000L),
      10 -> ("target/zipfcap10x", 20000L))
    val zipfCapRow: Option[(Seq[(Int, Double)], Double)] =
      if (points != Seq(10)) None
      else {
        zipfCapDirs.foreach { case (_, (d, n)) =>
          ContainZipf.buildZipf(spark, d, nDocs = n, vocab = 2500,
            stopEvery = 40) }
        val plans = zipfCapDirs.map { case (_, (d, _)) =>
          d -> graft.operators.Dedup.choosePrefixPlan(spark, d, 0.95) }
        if (!plans.forall(_._2.isInstanceOf[graft.operators.Dedup.CappedPlan])) {
          System.err.println(s"[scale] zipfcap leg SKIPPED: fixture did " +
            s"not engage the cap at both scales — $plans")
          None
        } else {
          val fn = probesFor(skipGates = false).toMap
            .apply("dedup_contain_auto")
          val cells = zipfCapDirs.map { case (k, (d, _)) =>
            k -> (if (standalone) spawnCell("dedup_contain_auto", d)
                  else median3(fn, d)) }
          val exp = math.log(cells(1)._2 / cells(0)._2) / math.log(10.0)
          System.err.println(f"[scale] dedup_contain_zipfcap   " +
            cells.map { case (k, t) => f"${k}x ${t}%7.2f s" }.mkString("  ") +
            f"   exp $exp%5.2f   (CappedPlan engaged at both scales)")
          Some((cells, exp))
        }
      }

    def ms(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val json = rows.map { case (n, ts, legs) =>
      s""""$n":{"sec":[${ts.map(t => ms(t._2)).mkString(",")}],""" +
        s""""exp":[${legs.map(ms).mkString(",")}]}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","points":[${scales.map(_._1).mkString(",")}],"rows":$json,"base":"$base"}""")

    // 10x BENCH comparator lane (judge r15 Next #5): cross-round
    // regression detection AT the scale the exponents are fitted on.
    // The probe's 10x cells ARE the lane — this block persists them as
    // `bench10x_result.json` (committed at close, the bench_result.json
    // protocol) with a drift_vs_prev field (median common-row ratio vs
    // the committed artifact, Bench.driftFactor's definition), so a 10x
    // wall-clock regression surfaces as a number the next round's close
    // compares, not as prose.
    // Guard (r16): an SPARK_GRAFT_SCALE_OPS-restricted run must NOT
    // overwrite the committed lane artifact — a partial queries map
    // would poison the next round's drift_vs_prev (the truncated-
    // comparator hazard the Bench box-ratio guard exists for).
    if (points.headOption.contains(10) && onlyOps.isEmpty) {
      val cur: Seq[(String, Double)] = rows.flatMap { case (n, ts, _) =>
        ts.find(_._1 == 10).filter(_._2 > 0).map(n -> _._2) } ++
        zipfCapRow.map { case (cells, _) =>
          "dedup_contain_zipfcap" -> cells.last._2 }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val prevTen: Map[String, Double] = try {
        val node = mapper.readTree(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("bench10x_result.json"))).path("queries")
        val out = scala.collection.mutable.Map.empty[String, Double]
        val it = node.fieldNames()
        while (it.hasNext) { val k = it.next(); out(k) = node.path(k).asDouble() }
        out.toMap
      } catch { case _: Throwable => Map.empty }
      val drift = graft.Bench.driftFactor(cur, prevTen)
      val qs = cur.map { case (k, v) => s""""$k":${ms(v)}""" }
        .mkString("{", ",", "}")
      val line = s"""{"metric":"total10x","value":${ms(cur.map(_._2).sum)},""" +
        s""""unit":"sec","queries":$qs,""" +
        s""""drift_vs_prev":${drift.map(ms).getOrElse("null")},""" +
        s""""drift_n":${cur.count { case (k, _) => prevTen.contains(k) }},""" +
        s""""standalone":$standalone,"base":"$base"}"""
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench10x_result.json"),
        line.getBytes("UTF-8"))
      System.err.println(s"[scale] wrote bench10x_result.json — the 10x " +
        s"round comparator (drift_vs_prev=${drift.map(ms).getOrElse("null")})")
    }
    println("| operator | " + scales.map(s => s"${s._1}x (s)").mkString(" | ") +
      " | " + scales.sliding(2).map { case Seq(a, b) => s"exp ${a._1}->${b._1}" }
        .mkString(" | ") + " |")
    println("|---" * (scales.size * 2) + "|")
    rows.foreach { case (n, ts, legs) =>
      println(s"| $n | " + ts.map(t => f"${t._2}%.2f").mkString(" | ") +
        " | " + legs.map(e => f"$e%.2f").mkString(" | ") + " |") }

    // CI gate (judge r11 Next #8): SPARK_GRAFT_SCALE_MAX_EXP=<float>
    // turns the probe into a pass/fail check — any operator whose LAST
    // leg exponent exceeds the bound (super-linear creep) fails the run
    // with exit 2, so exponent regressions are caught by the round's own
    // close instead of a judge round-trip. Gate rows (brute-truth
    // rebuilds, ~linear BY CONSTRUCTION) are exempt. Rows named in
    // `outputBoundCandidates` may exceed the bound ONLY when the data
    // says so (ADVICE r13: the old name-allowlist exemption was
    // permanent and unconditional, hiding any future genuine plan-cost
    // regression): for a candidate over the bound, the gate re-counts
    // the operator's OUTPUT rows at the last two scale points and
    // exempts iff the output-growth exponent explains the wall-clock
    // exponent (within `OutputExplainsMargin`) — multimodal_phash's
    // super-linear leg is its one giant near-dup raster class
    // multiplying with the corpus (decomposed in BASELINE.md r12), so
    // its output exponent tracks its time exponent; a plan-cost
    // regression would open a gap and FAIL.
    val outputBoundCandidates = Set("multimodal_phash")
    val OutputExplainsMargin = 0.35
    sys.env.get("SPARK_GRAFT_SCALE_MAX_EXP").map(_.toDouble).foreach { bound =>
      val probeFns = probesFor(skipGates = false).toMap
      def outputExplains(n: String, legs: Seq[Double]): Boolean = {
        val Seq((ka, da), (kb, db)) = scales.takeRight(2)
        val ca = probeFns(n)(spark, da).count().toDouble
        val cb = probeFns(n)(spark, db).count().toDouble
        val outExp =
          if (ca <= 0 || cb <= 0) 0.0
          else math.log(cb / ca) / math.log(kb.toDouble / ka)
        val ok = legs.last <= outExp + OutputExplainsMargin
        System.err.println(f"[scale] $n over bound: time exp ${legs.last}%.2f, " +
          f"output exp $outExp%.2f (rows $ca%.0f -> $cb%.0f) — " +
          (if (ok) "exempt (output-bound)" else "NOT explained by output"))
        ok
      }
      // FRESH-JVM ADJUDICATION before failing (r14 close incident): the
      // cheap in-process gate shares one JVM across ~30 probes × 4 timed
      // executions each, and the r12-documented late-cell inflation
      // (same-JVM pressure) can push an honest sub-linear row over the
      // bound — observed at the r14 wave-2 close: profile_sketch read
      // 17.5 s at 10x in-process (exp 0.98, FAIL) vs 3.7 s in a fresh
      // JVM (exp 0.31, huge margin), with zero commits touching
      // profiling. So an over-bound row is re-measured cell-by-cell in
      // fresh child JVMs (the standalone protocol, [[spawnCell]]) and
      // the fresh-JVM exponent is the VERDICT; both readings print. A
      // real plan regression reproduces standalone and still fails; a
      // JVM-pressure artifact doesn't get to fail the close. No-op when
      // the run is already standalone.
      def standaloneClears(n: String): Boolean = {
        if (standalone) return false // already fresh-JVM; no second opinion
        val cells = scales.map { case (k, d) => k -> spawnCell(n, d) }
        if (cells.exists(_._2 <= 0)) return false // child failed: keep FAIL
        val legs2 = cells.sliding(2).collect { case Seq((ka, ta), (kb, tb)) =>
          math.log(tb / ta) / math.log(kb.toDouble / ka) }.toSeq
        System.err.println(f"[scale] $n adjudicated in fresh JVMs: " +
          cells.map { case (k, t) => f"${k}x $t%7.2f s" }.mkString("  ") +
          "   exp " + legs2.map(e => f"$e%5.2f").mkString(" -> ") +
          (if (legs2.last <= bound) " — CLEARED (in-process inflation)"
           else " — CONFIRMED over bound"))
        legs2.last <= bound
      }
      val bad = rows.filterNot { case (n, _, _) => gateRows(n) }
        .filter { case (_, _, legs) => legs.nonEmpty && legs.last > bound }
        .filterNot { case (n, _, legs) =>
          outputBoundCandidates(n) && outputExplains(n, legs) }
        .filterNot { case (n, _, _) => standaloneClears(n) }
      if (bad.nonEmpty) {
        bad.foreach { case (n, _, legs) =>
          System.err.println(f"[scale] FAIL $n: exponent ${legs.last}%.2f > $bound%.2f") }
        spark.stop()
        sys.exit(2)
      }
      // capped-regime leg under the SAME bound (judge r15 Next #4),
      // with the same fresh-JVM second opinion before failing
      zipfCapRow.foreach { case (_, exp) =>
        val confirmed = exp > bound && {
          if (standalone) true
          else {
            val cells2 = zipfCapDirs.map { case (k, (d, _)) =>
              k -> spawnCell("dedup_contain_auto", d) }
            if (cells2.exists(_._2 <= 0)) true // child failed: keep FAIL
            else {
              val exp2 =
                math.log(cells2(1)._2 / cells2(0)._2) / math.log(10.0)
              System.err.println(f"[scale] dedup_contain_zipfcap " +
                f"adjudicated in fresh JVMs: exp $exp2%5.2f" +
                (if (exp2 <= bound) " — CLEARED (in-process inflation)"
                 else " — CONFIRMED over bound"))
              exp2 > bound
            }
          }
        }
        if (confirmed) {
          System.err.println(
            f"[scale] FAIL dedup_contain_zipfcap: exponent $exp%.2f > $bound%.2f")
          spark.stop()
          sys.exit(2)
        }
      }
      System.err.println(f"[scale] PASS: all ${rows.size} non-gate exponents <= $bound%.2f" +
        zipfCapRow.map(z => f" (capped-regime leg ${z._2}%.2f)").getOrElse(""))
    }
    spark.stop()
  }
}
