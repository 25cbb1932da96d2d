package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values) distinct-count sketch as a typed Aggregator.
  *
  * State is the k smallest DISTINCT 60-bit hashes seen — bounded at k
  * longs per group no matter how many rows flow in, and `merge` makes it
  * partial-aggregation friendly (Catalyst runs it map-side, the
  * MapReduce-combiner analogue). Estimate: with the k-th smallest distinct
  * hash at height h over a hash space of size 2^60, distinct ≈
  * (k-1) * 2^60 / h; when fewer than k distinct hashes exist the sketch is
  * exact. Unlike HyperLogLog the whole computation is elementary arithmetic
  * on sorted hashes, so a SQL oracle can reproduce it bit-for-bit.
  *
  * At 100 TB: the shuffle carries k longs per (group, partition) instead
  * of the full value set — the same reason the reference pushed combiners
  * so hard (e.g. reference/assignment2/src/main/WordCount.java:138).
  */
object KmvSketch {

  val hashSpace: Double = math.pow(2.0, 60)

  /** Sorted ascending, distinct, at most k entries. */
  type State = Array[Long]

  class Agg(k: Int) extends Aggregator[Long, Array[Long], Double] {
    override def zero: Array[Long] = Array.emptyLongArray

    override def reduce(b: Array[Long], h: Long): Array[Long] = {
      val pos = java.util.Arrays.binarySearch(b, h)
      if (pos >= 0) b // already present
      else {
        val ins = -pos - 1
        if (b.length < k) {
          val out = new Array[Long](b.length + 1)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(b, ins, out, ins + 1, b.length - ins)
          out
        } else if (ins < k) {
          // drops the current max to make room
          val out = new Array[Long](k)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(b, ins, out, ins + 1, k - ins - 1)
          out
        } else b
      }
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      // merge two sorted distinct arrays, keep k smallest
      val out = new Array[Long](math.min(a.length + b.length, k))
      var i = 0; var j = 0; var o = 0
      var last = Long.MinValue; var first = true
      while (o < out.length && (i < a.length || j < b.length)) {
        val v =
          if (j >= b.length || (i < a.length && a(i) <= b(j))) { val x = a(i); i += 1; x }
          else { val x = b(j); j += 1; x }
        if (first || v != last) { out(o) = v; o += 1; last = v; first = false }
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }

    override def finish(st: Array[Long]): Double =
      if (st.length < k) st.length.toDouble
      // degenerate guard: hash 0 as the k-th minimum (p = k/2^60) would
      // divide by zero; all-zero-prefixed is indistinguishable from "huge"
      else if (st(k - 1) == 0L) hashSpace
      else (k - 1).toDouble * hashSpace / st(k - 1).toDouble

    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Column aggregate: KMV distinct estimate over a 60-bit hash column. */
  def kmvDistinct(hashes: Column, k: Int): Column =
    udaf(new Agg(k)).apply(hashes)
}

/** Bounded-state quantile sketch: keep the k rows whose 60-bit row-key
  * hashes are smallest (a deterministic uniform sample — the md5 order IS
  * the reservoir), then answer quantiles by linear interpolation over the
  * sample. Merge = bottom-k merge of two sorted samples, so Catalyst runs
  * it map-side like every other sketch here. Error ~ O(1/sqrt(k)) in rank;
  * state is k (hash, value) pairs no matter how many rows flow in.
  * Everything — membership, sort, interpolation — is elementary and
  * deterministic, so a SQL oracle reproduces the estimate bit-for-bit
  * (t-digest/GK give tighter tails but are not engine-portable).
  */
object QuantileSketch {

  /** Sample entries sorted ascending by hash, at most k, hash-distinct. */
  class Agg(k: Int, q: Double) extends Aggregator[(Long, Double), Array[(Long, Double)], Double] {
    require(k >= 2 && q >= 0.0 && q <= 1.0)

    override def zero: Array[(Long, Double)] = Array.empty

    override def reduce(b: Array[(Long, Double)], in: (Long, Double)): Array[(Long, Double)] = {
      val (h, v) = in
      var lo = 0; var hi = b.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (b(mid)._1 < h) lo = mid + 1 else hi = mid
      }
      if (lo < b.length && b(lo)._1 == h) b // hash already sampled
      else if (b.length < k) {
        val out = new Array[(Long, Double)](b.length + 1)
        System.arraycopy(b, 0, out, 0, lo)
        out(lo) = (h, v)
        System.arraycopy(b, lo, out, lo + 1, b.length - lo)
        out
      } else if (lo < k) {
        val out = new Array[(Long, Double)](k)
        System.arraycopy(b, 0, out, 0, lo)
        out(lo) = (h, v)
        System.arraycopy(b, lo, out, lo + 1, k - lo - 1)
        out
      } else b
    }

    override def merge(a: Array[(Long, Double)], b: Array[(Long, Double)]): Array[(Long, Double)] = {
      val out = new Array[(Long, Double)](math.min(a.length + b.length, k))
      var i = 0; var j = 0; var o = 0
      var lastH = Long.MinValue; var first = true
      while (o < out.length && (i < a.length || j < b.length)) {
        val e =
          if (j >= b.length || (i < a.length && a(i)._1 <= b(j)._1)) { val x = a(i); i += 1; x }
          else { val x = b(j); j += 1; x }
        if (first || e._1 != lastH) { out(o) = e; o += 1; lastH = e._1; first = false }
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }

    override def finish(st: Array[(Long, Double)]): Double = {
      if (st.isEmpty) return Double.NaN
      val vs = st.map(_._2)
      java.util.Arrays.sort(vs)
      // linear interpolation at rank q*(n-1) — quantile_cont semantics,
      // spelled out so the oracle can reproduce the exact arithmetic
      val pos = q * (vs.length - 1)
      val lo = pos.toInt
      val frac = pos - lo
      if (lo + 1 >= vs.length) vs(vs.length - 1)
      else vs(lo) + (vs(lo + 1) - vs(lo)) * frac
    }

    override def bufferEncoder: Encoder[Array[(Long, Double)]] =
      ExpressionEncoder[Array[(Long, Double)]]()
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Column aggregate: approximate q-quantile of `value` sampled by the
    * k smallest `hash` values.
    *
    * `hash` MUST be a hash of a UNIQUE row key (event_id, (doc_id, pos),
    * ...), never of the value or another non-unique column: rows whose
    * hash is already sampled are discarded (that dedup is what makes the
    * sample retry-stable), so a non-unique hash collapses duplicate-key
    * rows and biases the estimate toward the distinct-key distribution.
    */
  def quantile(hash: Column, value: Column, k: Int, q: Double): Column =
    udaf(new Agg(k, q)).apply(hash, value)
}

/** HyperLogLog distinct-count sketch over 60-bit md5 hashes: 2^p one-byte
  * registers, register j = max rank (leading-zero run + 1) of hashes
  * routed to j by their top p bits. Merge is element-wise max — fully
  * partial-aggregation friendly, and the state is a FIXED 2^p bytes
  * per group (vs KMV's k longs): the classic trade — HLL's relative
  * error ~1.04/sqrt(m) with tiny constant state, KMV exact below k.
  * Deterministic md5 hashing keeps the whole estimate (registers,
  * harmonic mean, linear-counting correction) reproducible in SQL.
  */
object HllSketch {

  class Agg(p: Int) extends Aggregator[Long, Array[Byte], Double] {
    // floor 7 (m=128): the closed-form alpha = 0.7213/(1+1.079/m) only
    // holds for m >= 128 (Flajolet et al. 2007 give fixed constants for
    // m in {16,32,64}); admitting smaller p would bake in a systematic
    // bias outside the linear-counting regime
    require(p >= 7 && p <= 16, s"precision p must be in [7,16], got $p")
    private val m = 1 << p
    private val lowBits = 60 - p
    private val lowMask = (1L << lowBits) - 1

    override def zero: Array[Byte] = new Array[Byte](m)

    override def reduce(b: Array[Byte], h: Long): Array[Byte] = {
      val idx = (h >>> lowBits).toInt & (m - 1)
      val v = h & lowMask
      // rank = leading-zero run of the low bits + 1; all-zero low bits
      // take the max rank lowBits+1
      val rank =
        if (v == 0L) lowBits + 1
        else lowBits - (64 - java.lang.Long.numberOfLeadingZeros(v)) + 1
      if (rank > b(idx)) b(idx) = rank.toByte
      b
    }

    override def merge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < a.length) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
      a
    }

    override def finish(st: Array[Byte]): Double = {
      var s = 0.0
      var zeros = 0
      var i = 0
      while (i < m) {
        s += math.pow(2.0, -st(i).toInt)
        if (st(i) == 0) zeros += 1
        i += 1
      }
      val alpha = 0.7213 / (1 + 1.079 / m)
      val raw = alpha * m * m / s
      // linear-counting small-range correction (Flajolet et al. 2007)
      if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    }

    override def bufferEncoder: Encoder[Array[Byte]] = ExpressionEncoder[Array[Byte]]()
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Column aggregate: HLL distinct estimate over a 60-bit hash column. */
  def hllDistinct(hashes: Column, p: Int = 8): Column =
    udaf(new Agg(p)).apply(hashes)
}

/** Count-min sketch (Cormode-Muthukrishnan): d x w counter matrix; each
  * item increments one counter per row (bucket = md5-permutation of the
  * item hash mod w), and a frequency estimate is the MIN over the d
  * counters — never an under-estimate, over by at most the collision
  * mass. Merge is element-wise sum, so partial aggregation applies, and
  * the state is a fixed d*w longs however many rows flow in: frequency /
  * heavy-hitter estimation over 100 TB with a KB-scale buffer. The
  * md5-derived buckets make estimates engine-portable (SQL-oracle-able).
  */
object CmsSketch {

  /** Bucket of `h` in row `j`: md5-permuted hash mod w — the same odd-
    * multiplier permutation family the MinHash/Bloom machinery uses
    * (multipliers from the cached Kernels table). JVM wrap-multiply
    * masked to 60 bits equals the 30-bit-split column form. */
  def bucket(h: Long, j: Int, d: Int, w: Int): Int = {
    val c = Kernels.multipliers(d)(j)
    (((h * c) & Kernels.mask60) % w).toInt
  }

  class Agg(d: Int, w: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    require(d >= 1 && w >= 1, s"need d,w >= 1, got d=$d w=$w")

    override def zero: Array[Long] = new Array[Long](d * w)

    override def reduce(b: Array[Long], h: Long): Array[Long] = {
      var j = 0
      while (j < d) { b(j * w + bucket(h, j, d, w)) += 1; j += 1 }
      b
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) += b(i); i += 1 }
      a
    }

    override def finish(st: Array[Long]): Array[Long] = st

    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Column aggregate: the d*w counter matrix over a 60-bit hash column. */
  def cmsMatrix(hashes: Column, d: Int, w: Int): Column =
    udaf(new Agg(d, w)).apply(hashes)

  /** Point estimate from a matrix column for an item-hash column:
    * min over rows of the item's counter. Pure column arithmetic
    * (element_at + least) — usable after broadcasting the 1-row matrix. */
  def estimate(matrix: Column, itemHash: Column, d: Int, w: Int): Column = {
    val rows = (0 until d).map { j =>
      val c = Kernels.multipliers(d)(j)
      val pos = pmod(graft.operators.DedupOps.permuteHash(itemHash, c), lit(w.toLong))
      element_at(matrix, (lit(j * w) + pos).cast("int") + lit(1))
    }
    if (rows.size == 1) rows.head else least(rows: _*)
  }
}

/** Bloom filter over 60-bit value hashes as a typed Aggregator: `reduce`
  * sets the value's k bit positions (null hashes are skipped), state is
  * the fixed `numBits/64` long words, merge is word-wise OR. Bounded state
  * + associative merge = map-side partial aggregation, so building a bloom
  * over 100 TB of benchmark shingles shuffles only `numBits/64` longs per
  * partition — the bounded cousin of the exact distinct-hash-set broadcast
  * in PipelineOps.contamination (which is exact but unbounded).
  *
  * Position i of hash h is ((h * C_i) mod 2^60) & (numBits - 1), the C_i
  * the md5-derived odd multipliers ([[Kernels.multipliers]]): the bits
  * manifests store and every probe ([[mightContain]], LayoutOps' host-side
  * file pruning) tests.
  */
object BloomSketch {

  /** A bloom holds at least one long word: `numBits` must be a power of
    * two >= 64. Callers check this on the driver, before any job — a
    * smaller power of two would allocate zero words and fail inside the
    * executor aggregator. */
  def requireBits(numBits: Int): Unit =
    require(numBits >= 64 && (numBits & (numBits - 1)) == 0,
      s"bloom bits must be a power of two >= 64 (one long word), got $numBits")

  class Agg(numBits: Int, numHashes: Int)
      extends Aggregator[java.lang.Long, Array[Long], Array[Long]] {
    requireBits(numBits)
    private val mults = Kernels.multipliers(numHashes)

    override def zero: Array[Long] = new Array[Long](numBits >> 6)

    override def reduce(b: Array[Long], h: java.lang.Long): Array[Long] = {
      if (h != null) {
        var i = 0
        while (i < mults.length) {
          val pos = ((h.longValue * mults(i)) & Kernels.mask60) & (numBits - 1L)
          b((pos >> 6).toInt) |= 1L << (pos & 63)
          i += 1
        }
      }
      b
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }

    override def finish(st: Array[Long]): Array[Long] = st

    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** Column aggregate: the bloom words over a column of 60-bit hashes. */
  def bloom(hashes: Column, numBits: Int, numHashes: Int): Column =
    udaf(new Agg(numBits, numHashes)).apply(hashes)

  /** Column probe: true when all k bits of hash `h` are set in `words` (a
    * bloom column, e.g. a broadcast 1-row aggregate, or a literal array).
    * Pure column arithmetic; the 30-bit-split permutation equals the
    * aggregator's wrapping multiply in the low 60 bits. */
  def mightContain(words: Column, h: Column, numBits: Int,
                   numHashes: Int): Column =
    Kernels.multipliers(numHashes).toSeq.map { c =>
      val pos = graft.operators.DedupOps.permuteHash(h, c)
        .bitwiseAND(lit(numBits - 1L))
      call_function("shiftright",
        element_at(words, shiftright(pos, 6).cast("int") + lit(1)),
        pos.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
}
