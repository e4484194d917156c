package graft.functions

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.{Singer, StateFold, StateMessage}

/** Property tests: the codegen kernels must agree with their naive Scala
  * definitions on arbitrary inputs (both the interpreted `nullSafeEval`
  * and the generated code paths execute under local[4]). */
class KernelPropertySpec extends SparkSpec {

  /** Deterministic sampling in place of the scalatestplus bridge (not in
    * the offline dependency cache): 40 seeded samples per property. */
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until 40).foreach { i =>
      for {
        a <- ga(Gen.Parameters.default, Seed(i.toLong))
        b <- gb(Gen.Parameters.default, Seed(i.toLong + 1000))
      } f(a, b)
    }
  private def forAll[A](ga: Gen[A])(f: A => Unit): Unit =
    (0 until 40).foreach(i => ga(Gen.Parameters.default, Seed(i.toLong)).foreach(f))


  private val longArr = Gen.listOfN(16, Gen.chooseNum(-5L, 5L))
  private val floatArr = Gen.listOfN(8, Gen.chooseNum(-10.0f, 10.0f))

  private def eval2(a: Seq[Any], b: Seq[Any], f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column): Any = {
    import spark.implicits._
    val df = a match {
      case la: Seq[_] if la.headOption.exists(_.isInstanceOf[Long]) =>
        Seq((a.asInstanceOf[Seq[Long]], b.asInstanceOf[Seq[Long]])).toDF("a", "b")
      case _ =>
        Seq((a.asInstanceOf[Seq[Float]], b.asInstanceOf[Seq[Float]])).toDF("a", "b")
    }
    df.select(f(col("a"), col("b")).as("r")).collect().head.get(0)
  }

  test("SortedIntersectCount == set-intersection size on sorted distinct arrays") {
    forAll(longArr, longArr) { (a, b) =>
      val sa = a.distinct.sorted; val sb = b.distinct.sorted
      val expected = sa.toSet.intersect(sb.toSet).size
      assert(eval2(sa, sb, ArrayOps.sortedIntersectCount) == expected)
    }
  }

  test("PositionalMatchCount == zip equality count") {
    forAll(longArr, longArr) { (a, b) =>
      val expected = a.zip(b).count { case (x, y) => x == y }
      assert(eval2(a, b, ArrayOps.positionalMatchCount) == expected)
    }
  }

  test("SortedFirstCommon == min of set intersection, null when disjoint") {
    forAll(longArr, longArr) { (a, b) =>
      val sa = a.distinct.sorted; val sb = b.distinct.sorted
      val inter = sa.toSet.intersect(sb.toSet)
      val expected = if (inter.isEmpty) null else inter.min
      assert(eval2(sa, sb, ArrayOps.sortedFirstCommon) == expected)
    }
  }

  test("PositionalFirstMatch == first zip-equal index, null when none") {
    forAll(longArr, longArr) { (a, b) =>
      val idx = a.zip(b).indexWhere { case (x, y) => x == y }
      val expected = if (idx < 0) null else idx
      assert(eval2(a, b, ArrayOps.positionalFirstMatch) == expected)
    }
  }

  private def eval1(a: Seq[Long], f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Seq[Long] = {
    import spark.implicits._
    Seq(Tuple1(a)).toDF("a").select(f(col("a")).as("r"))
      .collect().head.getSeq[Long](0).toSeq
  }

  test("HashedNGrams == per-gram chained hash; short docs yield one gram") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    forAll(longArr) { a =>
      val n = 3
      def gram(i: Int): Long =
        a.slice(i, math.min(i + n, a.length)).foldLeft(42L)((h, t) => XXH64.hashLong(t, h))
      val expected = (0 until math.max(a.length - n + 1, 1)).map(gram)
      assert(eval1(a, c => NGramOps.hashedNGrams(c, n)) == expected)
    }
  }

  /** Naive word-level Levenshtein DP — the reference definition for
    * WordEditOps' prefix/suffix shortcut. */
  private def lev(a: Seq[Long], b: Seq[Long]): Int = {
    val d = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 0 to a.length) d(i)(0) = i
    for (j <- 0 to b.length) d(0)(j) = j
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("WordEditOps == min(word Levenshtein, 2) on random and mutated pairs") {
    forAll(longArr, longArr) { (a, b) =>
      assert(eval2(a, b, EditOps.wordEditOps) == math.min(lev(a, b), 2))
    }
    // Random 16-long pairs are almost always far apart; exercise the
    // ed<=1 branches with derived single-token mutations.
    forAll(longArr, Gen.chooseNum(0, 15)) { (a, i0) =>
      val i = i0 % a.length
      val mutants = Seq(a.updated(i, 99L), a.patch(i, Nil, 1),
        a.patch(i, Seq(99L), 0), a)
      mutants.foreach { m =>
        assert(eval2(a, m, EditOps.wordEditOps) == math.min(lev(a, m), 2))
      }
    }
  }

  test("DeletionHashes: variant i+1 == full hash of sequence-minus-i; order-sensitive") {
    forAll(longArr) { a =>
      val h = eval1(a, EditOps.deletionHashes)
      assert(h.length == a.length + 1)
      a.indices.foreach { i =>
        assert(h(i + 1) == eval1(a.patch(i, Nil, 1), EditOps.deletionHashes).head)
      }
      if (a.distinct.size > 1 && a != a.reverse)
        assert(eval1(a.reverse, EditOps.deletionHashes).head != h.head)
    }
    assert(eval1(Seq.empty[Long], EditOps.deletionHashes).length == 1)
  }

  test("WinnowingMins == per-window minimum with shortened tail windows") {
    forAll(longArr) { a =>
      val w = 4
      val expected = a.indices.map(i => a.slice(i, math.min(i + w, a.length)).min)
      assert(eval1(a, c => NGramOps.winnowingMins(c, w)) == expected)
    }
  }

  test("MinHashSignature == per-seed min of XXH64.hashLong; empty set -> null") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import spark.implicits._
    forAll(longArr) { a =>
      val k = 8
      val expected = (0 until k).map(i => a.map(t => XXH64.hashLong(t, i.toLong)).min)
      assert(eval1(a, c => MinHashSignature.minhashSignature(c, k)) == expected)
    }
    // empty token set must yield NULL, not an all-MaxValue signature that
    // would band-collide every pair of empty docs at est_jaccard 1.0
    val r = Seq(Tuple1(Seq.empty[Long])).toDF("a")
      .select(MinHashSignature.minhashSignature(col("a"), 8).as("r"))
      .collect().head
    assert(r.isNullAt(0))
  }

  test("DotProduct == naive double sum over float arrays") {
    forAll(floatArr, floatArr) { (a, b) =>
      val expected = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val got = eval2(a, b, DotProduct.dot).asInstanceOf[Double]
      assert(math.abs(got - expected) < 1e-9)
    }
  }

  test("SortedRunStats == (distinct count, max multiplicity) on sorted arrays") {
    forAll(longArr) { a =>
      val s = a.sorted
      val expected =
        if (s.isEmpty) Seq(0L, 0L)
        else Seq(s.distinct.size.toLong,
          s.groupBy(identity).values.map(_.size).max.toLong)
      assert(eval1(s, ArrayOps.sortedRunStats) == expected)
    }
  }

  test("SortedJaccard: exact value for passing pairs, rejection-equivalent otherwise") {
    import org.apache.spark.sql.Column
    val tGen = Gen.oneOf(0.3, 0.5, 0.85, 0.9)
    forAll(longArr, longArr) { (a, b) =>
      val sa = a.distinct.sorted; val sb = b.distinct.sorted
      val inter = sa.toSet.intersect(sb.toSet).size
      val naive = inter.toDouble / (sa.size + sb.size - inter) // NaN for two empties
      tGen.sample.foreach { t =>
        val got = eval2(sa, sb, (x: Column, y: Column) =>
          ArrayOps.sortedJaccard(x, y, t)).asInstanceOf[Double]
        if (naive >= t) assert(got == naive)     // passing pairs: bit-exact value
        else assert(got == naive || got == -1.0) // rejects: true value or early exit
        assert((got >= t) == (naive >= t))       // the decision NEVER differs
      }
    }
  }

  test("PqEncode == naive argmin; PqIpTables == naive dot tables") {
    import spark.implicits._
    val m = 4; val ksub = 3; val dsub = 2 // dim 8
    val bookGen = Gen.listOfN(m, Gen.listOfN(ksub, Gen.listOfN(dsub,
      Gen.chooseNum(-2.0, 2.0))))
    // strictly positive norms: the operators only ever call these with
    // nrm = ||v|| of a nonzero vector
    val vecGen = Gen.listOfN(m * dsub, Gen.chooseNum(-10.0f, 10.0f))
      .suchThat(v => v.exists(_ != 0.0f))
    forAll(bookGen, vecGen) { (books, vec) =>
      val nrm = math.sqrt(vec.map(x => x.toDouble * x).sum)
      val df = Seq((vec, nrm)).toDF("v", "nrm")
      val got = df.select(
          PqOps.encode(col("v"), col("nrm"), books).as("codes"),
          PqOps.ipTables(col("v"), col("nrm"), books).as("qdt"))
        .collect().head
      // naive: full ||v/nrm - c||^2 argmin (the kernel drops the constant
      // term; both must pick the same centroid)
      val naiveCodes = (0 until m).map { j =>
        val sub = (0 until dsub).map(i => vec(j * dsub + i).toDouble / nrm)
        (0 until ksub).minBy { c =>
          val cent = books(j)(c)
          val d = sub.zip(cent).map { case (x, y) => (x - y) * (x - y) }.sum
          (d, c) // strict first-min tie-break like the kernel
        }
      }
      assert(got.getSeq[Int](0) == naiveCodes)
      val naiveTables = (0 until m).map { j =>
        (0 until ksub).map { c =>
          (0 until dsub).map(i => vec(j * dsub + i).toDouble * books(j)(c)(i)).sum / nrm
        }
      }
      val gotTables = got.getSeq[scala.collection.Seq[Double]](1).map(_.toSeq)
      assert(gotTables.size == m)
      gotTables.zip(naiveTables).foreach { case (g, n) =>
        g.zip(n).foreach { case (x, y) => assert(math.abs(x - y) < 1e-12) }
      }
    }
  }

  test("pyRepr string quoting: reference quote-choice rule holds") {
    forAll(Gen.asciiPrintableStr) { s =>
      val r = PyRepr.reprString(s)
      if (s.contains("'") && !s.contains("\""))
        assert(r.head == '"' && r.last == '"')
      else assert(r.head == '\'' && r.last == '\'')
    }
  }

  test("SpanJoinExcept == filter-by-position join on arbitrary token/cover sets") {
    import spark.implicits._
    val toksGen = Gen.listOfN(12, Gen.oneOf("a", "bb", "ccc", "d"))
    val coverGen = Gen.listOf(Gen.chooseNum(0, 14)) // may exceed bounds
    forAll(toksGen, coverGen) { (toks, cover) =>
      val sortedCover = cover.distinct.sorted
      val expected = toks.zipWithIndex
        .filterNot { case (_, i) => sortedCover.contains(i) }
        .map(_._1).mkString(" ")
      val got = Seq((toks, sortedCover)).toDF("t", "c")
        .select(SpanOps.joinTokensExcept(col("t"), col("c")).as("r"))
        .collect().head.getString(0)
      assert(got == expected, s"toks=$toks cover=$sortedCover")
    }
  }

  test("SpanCutCovered == per-position filter on arbitrary texts and window starts") {
    import spark.implicits._
    val L = 5
    val textGen = Gen.listOfN(30, Gen.oneOf('a', 'b', ' ', 'é')).map(_.mkString)
    forAll(textGen, Gen.listOf(Gen.chooseNum(0, 25))) { (text, rawStarts) =>
      val n = text.codePointCount(0, text.length)
      val starts = rawStarts.filter(_ <= n - L).distinct.sorted
      val covered = starts.flatMap(p => p until p + L).toSet
      val cps = text.codePoints().toArray
      val expected = cps.indices.filterNot(covered).map(i => new String(Character.toChars(cps(i)))).mkString
      val got = Seq((text, starts)).toDF("t", "s")
        .select(SpanOps.cutCoveredText(col("t"), col("s"), L).as("r"))
        .collect().head.getString(0)
      assert(got == expected, s"text=$text starts=$starts")
    }
  }

  test("BloomMightContainLong: no false negatives; prunes some non-members") {
    import spark.implicits._
    val memberGen = Gen.listOfN(64, Gen.chooseNum(Long.MinValue, Long.MaxValue))
    forAll(memberGen) { members =>
      val bf = org.apache.spark.util.sketch.BloomFilter.create(64, 0.05)
      members.foreach(bf.putLong)
      val probes = members ++ (1L to 64L).map(i => i * 1000003L)
      val got = probes.toDF("h")
        .select(col("h"), BloomOps.mightContain(col("h"), bf).as("p"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      members.foreach(m => assert(got(m), s"false negative on $m"))
    }
    // Determinism + rejection: a fixed filter must reject at least one
    // of many non-members at fpp=0.05 (probability of this failing for a
    // correct filter is ~0.05^64).
    val bf = org.apache.spark.util.sketch.BloomFilter.create(64, 0.05)
    (1L to 64L).foreach(bf.putLong)
    val rejected = (100000L to 100063L).map(i => !bf.mightContainLong(i))
    assert(rejected.exists(identity))
  }

  test("BpeOps.applyMerges == a functional all-occurrences-per-pass reference") {
    // Functional reference of canonical BPE apply: per iteration, the
    // lowest-rank pair TYPE present merges at every left-to-right
    // non-overlapping occurrence. (Merging one occurrence at a time is
    // NOT equivalent: the first merge can create a better-ranked pair —
    // e.g. symbols "...b c b..." with ranks (bc,b)=0 < (b,c)=1 — that
    // all-occurrences-per-pass never sees; the single-occurrence
    // variant's divergence on that shape is what this comment records.)
    def naive(sy0: List[String], ranks: Map[(String, String), Int]): List[String] = {
      @annotation.tailrec
      def mergeAll(rest: List[String], best: (String, String),
                   acc: List[String]): List[String] = rest match {
        case a :: b :: tail if (a, b) == best => mergeAll(tail, best, (a + b) :: acc)
        case a :: tail => mergeAll(tail, best, a :: acc)
        case Nil => acc.reverse
      }
      @annotation.tailrec
      def loop(sy: List[String]): List[String] = {
        val present = sy.zip(sy.drop(1)).filter(ranks.contains)
        if (present.isEmpty) sy
        else loop(mergeAll(sy, present.minBy(ranks), Nil))
      }
      loop(sy0)
    }
    val symGen = Gen.listOfN(10, Gen.oneOf("a", "b", "c"))
    val mergeGen = Gen.listOfN(6,
      Gen.zip(Gen.oneOf("a", "b", "c", "ab", "bc", "ca"), Gen.oneOf("a", "b", "c")))
    forAll(symGen, mergeGen) { (syms, merges) =>
      val distinct = merges.distinct
      val ranks = new java.util.HashMap[String, Integer]()
      distinct.zipWithIndex.foreach { case ((l, r), i) =>
        ranks.put(l + BpeOps.Sep + r, i)
      }
      val got = BpeOps.applyMerges(syms.toArray, ranks).toList
      val want = naive(syms, distinct.zipWithIndex.toMap)
      assert(got == want, s"syms=$syms merges=$distinct")
    }
  }

  test("state fold: emitted iff a STATE exists and no record follows it") {
    val gen = for {
      stateIdxs <- Gen.listOf(Gen.chooseNum(0L, 100L))
      maxRec <- Gen.option(Gen.chooseNum(0L, 100L))
    } yield (stateIdxs.distinct, maxRec)
    forAll(gen) { case (idxs, maxRec) =>
      val states = idxs.map(i => StateMessage(i, Singer.parseJson(s"""{"i":$i}""")))
      val out = StateFold.emittedState(states, maxRec)
      val expectEmitted = idxs.nonEmpty && maxRec.forall(_ < idxs.max)
      assert(out.isDefined == expectEmitted)
      if (expectEmitted) assert(Singer.toJsonString(out.get) == s"""{"i":${idxs.max}}""")
    }
  }
}
