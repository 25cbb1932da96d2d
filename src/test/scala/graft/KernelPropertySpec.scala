package graft

import java.security.MessageDigest

import graft.functions.{Kernels, KmvSketch, NearestCell}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Test => SCTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (ScalaCheck) for the native kernels against independent
  * scala reference implementations — no Spark round-trip per sample, so
  * hundreds of cases run in milliseconds. These are the §5-style property
  * obligations: hash/permutation correctness, sketch merge laws, metric
  * bounds.
  */
class KernelPropertySpec extends AnyFunSuite {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(200)
  private def check(prop: org.scalacheck.Prop, label: String): Unit = {
    val r = SCTest.check(params, prop)
    assert(r.passed, s"$label: $r")
  }

  private val genWord: Gen[String] = Gen.choose(1, 8)
    .flatMap(n => Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
  private val genToks: Gen[List[String]] = Gen.choose(0, 30)
    .flatMap(n => Gen.listOfN(n, genWord))

  private def arr(toks: Seq[String]): GenericArrayData =
    new GenericArrayData(toks.map(UTF8String.fromString).toArray[Any])

  /** Independent md5-prefix reference: first 15 hex chars as a long. */
  private def refHash60(s: String): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("shingle hashes equal the string-join + md5-prefix reference") {
    check(forAll(genToks, Gen.choose(1, 5)) { (toks, n) =>
      val got = Kernels.shingleHash64(arr(toks), n, distinct = false).toLongArray()
      val expected =
        if (toks.length < n) Array(refHash60(toks.mkString(" ")))
        else toks.sliding(n).map(w => refHash60(w.mkString(" "))).toArray
      got.sameElements(expected)
    }, "shingleHash64")
  }

  test("distinct shingle hashing keeps first occurrences in order") {
    check(forAll(genToks, Gen.choose(1, 4)) { (toks0, n) =>
      val toks = toks0 ++ toks0 // force duplicates
      val got = Kernels.shingleHash64(arr(toks), n, distinct = true).toLongArray()
      val all = Kernels.shingleHash64(arr(toks), n, distinct = false).toLongArray()
      got.sameElements(all.distinct)
    }, "shingleHash64 distinct")
  }

  test("minhash permutation equals BigInt modular multiply; values stay in [0, 2^60)") {
    val mask = (BigInt(1) << 60) - 1
    check(forAll(Gen.nonEmptyListOf(Gen.choose(0L, Kernels.mask60)), Gen.choose(1, 16)) {
      (hs, k) =>
        val sig = Kernels.minhashSig(new GenericArrayData(hs.toArray), k).toLongArray()
        val mults = Kernels.multipliers(k)
        val expected = mults.map(c =>
          hs.map(h => ((BigInt(h) * BigInt(c)) & mask).toLong).min)
        sig.sameElements(expected) && sig.forall(v => v >= 0 && v <= Kernels.mask60)
    }, "minhashSig")
  }

  test("jaccard: bounds, symmetry, self-similarity = 1") {
    val genSet = Gen.nonEmptyListOf(Gen.choose(0L, 1000L)).map(_.distinct)
    check(forAll(genSet, genSet) { (a, b) =>
      val da = new GenericArrayData(a.toArray)
      val db = new GenericArrayData(b.toArray)
      val j = Kernels.jaccard64(da, db)
      val sym = Kernels.jaccard64(db, da)
      val self = Kernels.jaccard64(da, da)
      val ref = a.toSet.intersect(b.toSet).size.toDouble / a.toSet.union(b.toSet).size
      j == sym && self == 1.0 && j >= 0.0 && j <= 1.0 && j == ref
    }, "jaccard64")
  }

  test("simhash equals the tf-weighted bit-vote reference") {
    check(forAll(genToks) { toks =>
      val got = Kernels.simhash64(arr(toks), 60)
      val tf = toks.groupBy(identity).view.mapValues(_.size)
      val expected = (0 until 60).map { j =>
        val vote = tf.map { case (t, c) =>
          if (((refHash60(t) >>> j) & 1L) == 1L) c else -c
        }.sum
        if (vote > 0) 1L << j else 0L
      }.sum
      got == expected
    }, "simhash64")
  }

  test("CMS build and probe bucket paths agree (JVM wrap-multiply vs 30-bit split)") {
    // CmsSketch.reduce buckets via Kernels.multipliers + JVM wrap-multiply;
    // CmsSketch.estimate buckets via DedupOps.permuteHash (30-bit-split
    // column form) + pmod. The one-sided CMS guarantee dies silently if
    // these ever diverge — pin their equality over random hashes.
    val d = 3; val w = 1024
    val mults = Kernels.multipliers(d)
    def splitBucket(h: Long, j: Int): Int = {
      // the exact arithmetic DedupOps.permuteHash emits as columns
      val mask30 = (1L << 30) - 1
      val c = mults(j)
      val c1 = c >> 30; val c0 = c & mask30
      val h1 = h >>> 30; val h0 = h & mask30
      val mid = (h0 * c1 + h1 * c0) & mask30
      val perm = (h0 * c0 + (mid << 30)) & Kernels.mask60
      (perm % w).toInt
    }
    check(forAll(Gen.chooseNum(0L, (1L << 60) - 1)) { h =>
      (0 until d).forall(j =>
        graft.functions.CmsSketch.bucket(h, j, d, w) == splitBucket(h, j))
    }, "cms bucket parity")
  }

  test("KMV sketch: merge is commutative/associative, partition-order invariant") {
    val agg = new KmvSketch.Agg(32)
    val genHs = Gen.listOf(Gen.choose(0L, Kernels.mask60))
    check(forAll(genHs, genHs, genHs) { (xs, ys, zs) =>
      def sk(vs: Seq[Long]) = vs.foldLeft(agg.zero)(agg.reduce)
      val (a, b, c) = (sk(xs), sk(ys), sk(zs))
      val comm = agg.merge(a, b).sameElements(agg.merge(b, a))
      val assoc = agg.merge(agg.merge(a, b), c)
        .sameElements(agg.merge(a, agg.merge(b, c)))
      // one-pass == any split of the stream
      val whole = sk(xs ++ ys ++ zs)
      val split = agg.merge(agg.merge(a, b), c)
      comm && assoc && whole.sameElements(split)
    }, "kmv merge laws")
  }

  test("KMV estimate is exact below k, positive and finite always") {
    val agg = new KmvSketch.Agg(64)
    check(forAll(Gen.listOf(Gen.choose(0L, Kernels.mask60))) { vs =>
      val st = vs.foldLeft(agg.zero)(agg.reduce)
      val est = agg.finish(st)
      val distinct = vs.distinct.size
      if (distinct < 64) est == distinct.toDouble
      else est > 0 && java.lang.Double.isFinite(est)
    }, "kmv estimate")
  }

  test("stop hits never exceed the token count and sum profile overlaps correctly") {
    import graft.operators.TextAnalysisOps.stopwordProfiles
    val words = stopwordProfiles.values.flatten.toSeq
    val genMix = Gen.listOf(Gen.oneOf(Gen.oneOf(words), genWord))
    check(forAll(genMix) { toks =>
      val hits = Kernels.stopHits(arr(toks)).toLongArray()
      functions.StopwordHits.langs.zipWithIndex.forall { case (lang, i) =>
        val expected = toks.count(stopwordProfiles(lang).contains)
        hits(i) == expected && hits(i) <= toks.length
      }
    }, "stopHits")
  }

  /** Independent nearest cell: every score from a left fold of products,
    * -0.0 folded into 0.0, then ranked by Scala's total order of doubles
    * (NaN highest), ties to the lowest index. */
  private def refNearest(cells: Seq[Array[Double]], v: Array[Double],
                         cosine: Boolean): Int = {
    def dot(a: Array[Double], b: Array[Double]) =
      a.indices.foldLeft(0.0)((s, i) => s + a(i) * b(i))
    val scores = cells.map(c =>
      if (cosine) dot(v, c) / (math.sqrt(dot(c, c)) * math.sqrt(dot(v, v)))
      else dot(c, c) - 2 * dot(v, c)).map(_ + 0.0)
    val ord = Ordering.Double.TotalOrdering
    cells.indices.reduce { (best, i) =>
      val c = ord.compare(scores(i), scores(best))
      if (if (cosine) c > 0 else c < 0) i else best
    }
  }

  private def nearest(cells: Seq[Array[Double]], cosine: Boolean, v: Array[Double],
                      from: Int = 0, len: Int = -1): Int =
    NearestCell.index(cells.toArray, cells.map(NearestCell.norm(_, cosine)).toArray,
      cosine, v, from, if (len < 0) v.length - from else len)

  test("nearest cell equals a brute-force argmax/argmin: ties, -0.0, NaN, " +
      "one cell, zero norms, slices and wrong widths") {
    // few distinct coordinates, so equal scores (ties) are common
    val coord = Gen.frequency(9 -> Gen.oneOf(-2.0, -1.0, -0.0, 0.0, 1.0, 2.0),
      1 -> Gen.const(Double.NaN))
    val gen = for {
      dim <- Gen.choose(1, 4)
      n <- Gen.choose(1, 6)
      cells <- Gen.listOfN(n, Gen.listOfN(dim, coord).map(_.toArray))
      v <- Gen.listOfN(dim, coord).map(_.toArray)
      pad <- Gen.choose(0, 3)
      cosine <- Gen.oneOf(true, false)
    } yield (cells, v, pad, cosine)
    check(forAll(gen) { case (cells, v, pad, cosine) =>
      // a cosine whose denominator ‖c‖·‖v‖ is zero must throw
      val zeroNorm = cosine && cells.exists(c =>
        NearestCell.norm(c, cosine) * NearestCell.norm(v, cosine) == 0.0)
      val got = scala.util.Try(nearest(cells, cosine, v))
      // the same slice inside a wider array: the in-task call shape
      val padded = Array.fill(pad)(7.0) ++ v ++ Array.fill(pad)(7.0)
      val sliced = scala.util.Try(nearest(cells, cosine, padded, pad, v.length))
      val wrongWidth = nearest(cells, cosine, v :+ 1.0) == -1 &&
        nearest(cells, cosine, padded, pad, v.length + 1) == -1
      if (zeroNorm) got.failed.toOption.exists(_.isInstanceOf[ArithmeticException]) &&
        sliced.isFailure && wrongWidth
      else got.toOption.contains(refNearest(cells, v, cosine)) && sliced == got && wrongWidth
    }, "nearest cell")
    // a cosine that underflows to -0.0 ties with 0.0: the lower cell wins
    val underflow = Seq(Array(-1e-200, 1e150), Array(0.0, 1.0))
    assert(nearest(underflow, cosine = true, Array(1.0, 0.0)) === 0)
    assert(refNearest(underflow, Array(1.0, 0.0), cosine = true) === 0)
    assert(nearest(Seq(Array(3.0)), cosine = false, Array(-5.0)) === 0, "one cell")
  }
}
