package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.functions._
import graft.functions.VectorOps
import graft.operators.Components

/** Property-based tests over RANDOM inputs (seeded — fully deterministic).
  *
  * RegressionSpec pins the fused kernels bit-identical to their
  * declarative twins on the fixture corpus plus hand-picked edge cases;
  * this suite widens that to generated adversarial input — arbitrary
  * unicode (combining marks, astral plane, CJK, every whitespace byte),
  * random vectors, and random graphs — the same way the reference's
  * fuzzed string suites stress its kernels beyond the e2e data
  * (tests/BlazingSQLTest string/unicode batteries).
  *
  * Two styles:
  *  - DataFrame batch: generate N samples with a seeded Gen, run ONE
  *    Spark job comparing fused vs declarative over all of them (a
  *    per-sample forAll would pay job-submission latency per case).
  *  - Pure forAll: kernel vs a plain-Scala reference model, hundreds of
  *    cases, no Spark in the loop.
  */
class PropertySpec extends SparkSuite {
  import spark.implicits._

  private val P = Gen.Parameters.default
  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    (0 until n).map(i => g.pureApply(P, Seed(seed + i)))

  private def check(prop: Prop, cases: Int = 200, seed: Long = 7L): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(cases)
        .withInitialSeed(Seed(seed)),
      prop)
    assert(res.passed, res.status.toString)
  }

  // ---- generators ---------------------------------------------------

  /** Strings mixing ascii, every fused-kernel whitespace byte, \v (NOT
    * whitespace under the RE2/DuckDB contract), Latin-1 case pairs, CJK,
    * astral-plane and combining characters. */
  private val nastyPiece: Gen[String] = Gen.frequency(
    8 -> Gen.alphaNumChar.map(_.toString),
    3 -> Gen.oneOf(" ", "\t", "\n", "\r", "\f", ""),
    2 -> Gen.oneOf("é", "Ü", "ß", "ç", "Æ", "Ñ"),
    2 -> Gen.oneOf("的", "人", "在", "中", "我"),
    1 -> Gen.oneOf("😀", "𝕏", "🚀"),
    1 -> Gen.oneOf("é", "ä"),
    1 -> Gen.oneOf(".", ",", "!", "-", "_", "'", "\""))
  private val nastyString: Gen[String] =
    Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, nastyPiece).map(_.mkString))

  // ---- string kernels vs declarative twins (one batch job each) -----

  test("property: fused normalize_text ≡ regex form on 400 random unicode strings") {
    val docs = sample(nastyString, 400, 100L).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val bad = docs.select(
        normalize_text($"text").as("fused"),
        trim(regexp_replace(lower($"text"), "[ \t\n\f\r]+", " ")).as("composed"))
      .filter(not($"fused" <=> $"composed")).count()
    assert(bad == 0, s"$bad random strings where fused normalize_text diverges")
  }

  test("property: fused char_entropy ≡ declarative fold on random unicode strings") {
    val docs = sample(nastyString, 400, 200L).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
      .filter(length($"text") > 0)
    val bad = docs.select(
        char_entropy($"text").as("fused"),
        graft.operators.TextAnalysis.charEntropyDeclarative($"text").as("composed"))
      .filter(not($"fused" <=> $"composed")).count()
    assert(bad == 0, s"$bad random strings where fused char_entropy diverges bit-for-bit")
  }

  test("property: fused minhash_text ≡ composed shingle+minhash across (n,k,seed)") {
    val texts = sample(nastyString, 150, 300L).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    for ((n, k, seed) <- Seq((2, 16, 1L), (3, 64, 7L), (5, 32, 123L))) {
      val bad = texts.select(
          minhash_text($"text", n, k, seed).as("fused"),
          minhash_signature(word_shingles(tokens($"text"), n), k, seed).as("composed"))
        .filter(not($"fused" === $"composed")).count()
      assert(bad == 0, s"(n=$n,k=$k,seed=$seed): $bad diverging signatures")
    }
  }

  test("property: fused lang_id ≡ declarative argmax on random stopword soups") {
    val allSw = VectorOps.stopwords.values.flatten.toSeq.distinct
    val word: Gen[String] = Gen.frequency(
      6 -> Gen.oneOf(allSw),
      3 -> Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString),
      1 -> Gen.oneOf("的", "人", "中", "😀"))
    val soup: Gen[String] =
      Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    val docs = sample(soup, 300, 400L).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toDF("doc_id", "text")
    val bad = docs.select(
        lang_id($"text").as("fused"),
        graft.operators.TextAnalysis.langIdDeclarative($"text").as("composed"))
      .filter(not($"fused" <=> $"composed")).count()
    assert(bad == 0, s"$bad random soups where fused lang_id diverges")
  }

  // ---- pure-kernel properties (no Spark in the loop) ----------------

  private val genVec: Gen[Array[Float]] =
    Gen.chooseNum(1, 24).flatMap(d =>
      Gen.listOfN(d, Gen.chooseNum(-4.0f, 4.0f)).map(_.toArray))

  test("property: cosine kernel matches plain-Scala fold (float and double)") {
    val prop = Prop.forAll(genVec, genVec) { (a, b) =>
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- 0 until n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      val expect = if (denom == 0.0) 0.0 else dot / denom
      val gotF = VectorOps.cosine(new GenericArrayData(a), new GenericArrayData(b), isFloat = true)
      val gotD = VectorOps.cosine(new GenericArrayData(a.map(_.toDouble)),
        new GenericArrayData(b.map(_.toDouble)), isFloat = false)
      java.lang.Double.compare(gotF, expect) == 0 &&
        java.lang.Double.compare(gotD, expect) == 0
    }
    check(prop)
  }

  test("property: argmax_cosine matches plain-Scala argmax with smallest-j ties") {
    val genCase = for {
      dim <- Gen.chooseNum(2, 8)
      k <- Gen.chooseNum(1, 12)
      cents <- Gen.listOfN(k * dim, Gen.chooseNum(-2.0f, 2.0f)).map(_.toArray)
      vec <- Gen.listOfN(dim, Gen.chooseNum(-2.0f, 2.0f)).map(_.toArray)
      // duplicate a centroid block sometimes to force exact cosine ties
      dup <- Gen.oneOf(true, false)
    } yield {
      val c = if (dup && k >= 2) {
        val cc = cents.clone()
        System.arraycopy(cc, 0, cc, (k - 1) * dim, dim) // cent[k-1] := cent[0]
        cc
      } else cents
      (vec, c, k, dim)
    }
    val prop = Prop.forAll(genCase) { case (vec, cents, k, dim) =>
      def cosAt(j: Int): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        for (i <- 0 until dim) {
          val x = vec(i).toDouble; val y = cents(j * dim + i).toDouble
          dot += x * y; na += x * x; nb += y * y
        }
        val denom = math.sqrt(na) * math.sqrt(nb)
        if (denom == 0.0) 0.0 else dot / denom
      }
      var bestJ = 0
      for (j <- 1 until k)
        if (java.lang.Double.compare(cosAt(j), cosAt(bestJ)) > 0) bestJ = j
      VectorOps.argmaxCosine(new GenericArrayData(vec), cents, k, dim, isFloat = true) == bestJ
    }
    check(prop)
  }

  test("property: pq_encode matches plain-Scala per-subspace argmin") {
    val genCase = for {
      m <- Gen.chooseNum(1, 4)
      ksub <- Gen.chooseNum(1, 8)
      dsub <- Gen.chooseNum(1, 4)
      books <- Gen.listOfN(m * ksub * dsub, Gen.chooseNum(-3.0, 3.0)).map(_.toArray)
      vec <- Gen.listOfN(m * dsub, Gen.chooseNum(-3.0f, 3.0f)).map(_.toArray)
    } yield (vec, books, m, ksub, dsub)
    val prop = Prop.forAll(genCase) { case (vec, books, m, ksub, dsub) =>
      val expect = (0 until m).map { mi =>
        var bestJ = 0; var bestDist = Double.PositiveInfinity
        for (j <- 0 until ksub) {
          var acc = 0.0
          for (i <- 0 until dsub) {
            val d = vec(mi * dsub + i).toDouble - books((mi * ksub + j) * dsub + i)
            acc += d * d
          }
          if (java.lang.Double.compare(acc, bestDist) < 0) { bestDist = acc; bestJ = j }
        }
        bestJ.toByte
      }.toArray
      val got = VectorOps.pqEncode(new GenericArrayData(vec), books, m, ksub, isFloat = true)
      (0 until m).forall(i => got.getByte(i) == expect(i))
    }
    check(prop)
  }

  test("property: simhash64 is token-order invariant and deterministic") {
    val word: Gen[String] =
      Gen.chooseNum(1, 6).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val toks: Gen[List[String]] = Gen.chooseNum(1, 40).flatMap(Gen.listOfN(_, word))
    val prop = Prop.forAll(toks) { ts =>
      def sh(xs: List[String]): Long = VectorOps.simHash(new GenericArrayData(
        xs.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray))
      sh(ts) == sh(ts.reverse) && sh(ts) == sh(scala.util.Random.shuffle(ts))
    }
    check(prop, cases = 100)
  }

  // ---- custom physical operator vs built-in window ------------------

  test("property: TopKPerGroup ≡ window row_number on random grouped data") {
    // heavy ties (10 values over 300 rows) and nulls; the unique id makes
    // the order total so row_number is deterministic on both paths
    val genRow: Gen[(Int, Option[Int])] = for {
      g <- Gen.chooseNum(0, 6)
      v <- Gen.option(Gen.chooseNum(0, 9))
    } yield (g, v)
    for ((seedBase, k) <- Seq((600L, 1), (700L, 3), (800L, 7))) {
      val data = sample(genRow, 300, seedBase).zipWithIndex
        .map { case ((g, v), i) => (g, v, i.toLong) }
      val df = data.toDF("g", "v", "id")
      val order = Seq(col("v").desc_nulls_last, col("id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(order: _*)
      val top = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).drop("rn")
        .orderBy(col("g"), col("v").desc_nulls_last, col("id"))
      assert(top.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
      val ours = top.collect()
      // the reference: the same query where Spark infers no group limit
      val plain = org.apache.spark.sql.graft.Shims.cloneSession(spark,
        Seq("spark.sql.optimizer.windowGroupLimitThreshold" -> "-1"))
      val ref = org.apache.spark.sql.graft.Shims
        .ofRows(plain, top.queryExecution.logical).collect()
      assert(ours.length == ref.length && ours.sameElements(ref),
        s"seed=$seedBase k=$k: heap path diverges from window formulation")
    }
  }

  // ---- connected components vs union-find oracle --------------------

  test("property: connectedComponents ≡ union-find on random graphs") {
    case class G(edges: List[(Long, Long)])
    val genGraph: Gen[G] = for {
      n <- Gen.chooseNum(2, 50)
      m <- Gen.chooseNum(1, 80)
      edges <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0, n - 1)
        b <- Gen.chooseNum(0, n - 1) // self-loops allowed: operator must drop them
      } yield (a.toLong, b.toLong))
    } yield G(edges)

    for ((g, gi) <- sample(genGraph, 4, 500L).zipWithIndex) {
      // plain-Scala union-find with min-label components
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      def union(a: Long, b: Long): Unit = {
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      g.edges.foreach { case (a, b) => union(a, b) }
      val nodes = g.edges.flatMap(e => Seq(e._1, e._2)).distinct
      // min-label per component (union-find root is already the min by construction)
      val expect = nodes.map(n => (n, find(n))).toMap

      val pairs = g.edges.toDF("id_a", "id_b")
      val got = Components.connectedComponents(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect,
        s"graph #$gi (${g.edges.size} edges): spark=$got expected=$expect")
    }
  }
}
