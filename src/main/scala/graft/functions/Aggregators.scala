package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Shared half-up decimal rounding — THE load-bearing rounding mode of
  * every cross-engine oracle (matches Spark's `round()`; agrees with
  * DuckDB's `round()` away from half-ulp decimal boundaries). One
  * definition so a future change cannot silently desynchronize a subset
  * of oracles.
  *
  * Tie-breaking caveat: `BigDecimal.valueOf` rounds the SHORTEST decimal
  * rendering of the double (0.285 -> 0.29 at scale 2), while DuckDB rounds
  * the binary value (0.285 is stored as 0.28499…, so -> 0.28). The engines
  * can disagree on inputs that sit exactly on such a boundary; every
  * oracle-checked pipeline here rounds values whose decimal expansion is
  * already exact at the target scale or strictly away from the .5 tie, so
  * the fixture hashes agree — but the match is conditional, not universal.
  */
object Rounding {
  def halfUp(x: Double, scale: Int): Double =
    java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()
}

/** Typed UDAF surface (SURVEY.md §2.2: the reference has no user extension
  * points — its hard-coded partial+final sum, `/root/reference/
  * D/Program.cs:312-315` + `:162`, generalizes to Spark's Aggregator
  * contract: `reduce` is the worker partial, `merge` is the master fold).
  */
object Aggregators {

  /** The reference's two-level sum as an explicit Aggregator: `reduce` is
    * the per-worker running sum (D/Program.cs:312-315), `merge` the
    * master's AddOrUpdate fold (D/Program.cs:162). Functionally identical
    * to `sum`; exists to document the mapping and exercise the UDAF path.
    * Generic in the input type via an extractor so it composes with any
    * typed Dataset.
    */
  class TwoLevelSumOf[T](f: T => Double) extends Aggregator[T, Double, Double] {
    override def zero: Double = 0.0
    override def reduce(acc: Double, x: T): Double = acc + f(x)
    override def merge(a: Double, b: Double): Double = a + b
    override def finish(r: Double): Double = r
    override def bufferEncoder: Encoder[Double] = Encoders.scalaDouble
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Element-wise vector sum over `array<double>` columns — the aggregation
    * that keeps k-means centroid updates shuffle-light: per-partition
    * partial sums reduce corpus×dim values down to one dim-length buffer
    * per (cluster, partition), so the exchange carries k×dim doubles, not
    * corpus×dim rows (the `posexplode`-then-groupBy alternative). The
    * buffer stays a deserialized mutable array within a partition
    * (TypedImperativeAggregate), so `reduce` is an in-place add.
    * Mismatched vector lengths fail fast rather than mis-summing.
    */
  class VectorSum extends Aggregator[Seq[Double], Array[Double], Seq[Double]] {
    override def zero: Array[Double] = Array.emptyDoubleArray
    override def reduce(b: Array[Double], v: Seq[Double]): Array[Double] =
      if (v == null) b // a null vector must not poison the buffer (KMV convention)
      else if (b.isEmpty) {
        val r = new Array[Double](v.length)
        var i = 0
        while (i < r.length) { r(i) = v(i); i += 1 }
        r
      } else {
        require(b.length == v.length,
          s"VectorSum: mismatched vector lengths ${b.length} vs ${v.length}")
        var i = 0
        while (i < b.length) { b(i) += v(i); i += 1 }
        b
      }
    override def merge(a: Array[Double], b: Array[Double]): Array[Double] =
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else {
        require(a.length == b.length,
          s"VectorSum: mismatched vector lengths ${a.length} vs ${b.length}")
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }
    override def finish(r: Array[Double]): Seq[Double] = r.toSeq
    override def bufferEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    override def outputEncoder: Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** Numeric value of the first `digits` hex characters of `h` as a binary
    * fraction in [0, 1). Every term d*16^-i is exact in double (16^-i is a
    * power of two) and every partial sum carries <= 4*digits significand
    * bits, so with digits <= 13 the result is EXACT — any engine summing
    * the same digits in any order produces the identical double.
    */
  def hexFraction(h: String, digits: Int): Double = {
    var f = 0.0
    var i = 1
    while (i <= digits) {
      f += Character.digit(h.charAt(i - 1), 16) * math.pow(16.0, -i)
      i += 1
    }
    f
  }

  case class KMVEstimate(kth_hash: String, distinct_estimate: Double)

  /** KMV (k-minimum-values) distinct-count sketch: keep the k smallest
    * DISTINCT md5 hashes of the keys; estimate = (k-1)/frac(kth smallest),
    * frac = exact 13-hex-digit fraction (see `hexFraction`). Fewer than k
    * distinct keys -> the count is exact. Constant memory per group,
    * associative merge — the partial/final shape of every distributive
    * sketch at 100 TB.
    *
    * Unlike `approx_count_distinct` (HLL, implementation-defined, no
    * cross-engine value oracle — q38 checks it against an error ENVELOPE
    * the oracle states literally, not by value), the KMV
    * sketch is DETERMINISTIC given the hash function: any engine computing
    * "kth smallest md5" reproduces the identical sketch and estimate, so
    * this is a sketch WITH an exact DuckDB oracle (q54).
    *
    * Buffer = the sorted hashes joined with ',' (md5 hex is fixed-width, so
    * string order == numeric order); the common no-op path (hash beyond the
    * current kth) is decided from the buffer tail without parsing.
    */
  class KMVSketchOf[T](f: T => String, k: Int)
      extends Aggregator[T, String, KMVEstimate] {
    private val W = 32 // md5 hex width

    override def zero: String = ""

    private def insert(b: String, h: String): String =
      if (b.isEmpty) h
      else {
        val size = (b.length + 1) / (W + 1)
        if (size >= k && h >= b.substring(b.length - W)) b
        else {
          val arr = b.split(',')
          if (arr.contains(h)) b
          else (arr :+ h).sorted.take(k).mkString(",")
        }
      }

    override def reduce(b: String, x: T): String = {
      // null keys carry no hash and are excluded from the distinct count —
      // the same convention as SQL count(DISTINCT), and it keeps a null
      // from poisoning the buffer
      val h = f(x)
      if (h == null) b else insert(b, h)
    }
    override def merge(a: String, b: String): String =
      if (b.isEmpty) a else b.split(',').foldLeft(a)(insert)

    override def finish(b: String): KMVEstimate =
      if (b.isEmpty) KMVEstimate("", 0.0)
      else {
        val arr = b.split(',')
        val frac = hexFraction(arr.last, 13)
        // frac == 0.0 (kth hash's first 13 hex digits all zero, p ~ 16^-13)
        // would divide to Infinity; the buffer size is an exact lower bound
        // and the honest answer in that degenerate case
        if (arr.length < k || frac == 0.0) KMVEstimate(arr.last, arr.length.toDouble)
        else KMVEstimate(arr.last, (k - 1) / frac)
      }

    override def bufferEncoder: Encoder[String] = Encoders.STRING
    override def outputEncoder: Encoder[KMVEstimate] = Encoders.product[KMVEstimate]
  }

  /** One-pass EXACT scatter-moment accumulator for the spectral family:
    * per input micro-vector v (dim d), accumulates the upper-triangle
    * second moments Σ v_i·v_j (i <= j, row-major), the first moments
    * Σ v_i, and the count, into one flat long buffer of d(d+1)/2 + d + 1
    * cells. All arithmetic is exact long (a double accumulator would
    * silently lose exactness past 2^53 — corpus-scale moment sums reach
    * ~1e16), and the hot path is a primitive multiply-add loop with NO
    * per-row allocation beyond one d-long staging array — the
    * expression-built alternatives (d²-cell explode + hash agg, or a
    * per-row HOF-built product array) both measured slower at sf0.1 by
    * the interpreted-HOF allocation alone (4–14 s vs sub-second).
    */
  class ScatterMoments extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    private def sized(d: Int): Int = d * (d + 1) / 2 + d + 1
    override def zero: Array[Long] = Array.emptyLongArray
    override def reduce(b0: Array[Long], v: Seq[Long]): Array[Long] =
      if (v == null) b0
      else {
        val a = v.toArray
        val d = a.length
        val b = if (b0.isEmpty) new Array[Long](sized(d)) else b0
        require(b.length == sized(d),
          s"ScatterMoments: mixed dims (buffer ${b.length}, vector $d)")
        val tri = d * (d + 1) / 2
        // exact arithmetic: second moments reach ~1e16 at current scale
        // and headroom to Long.MaxValue is only ~900×, so a larger corpus
        // or hotter micro-vectors must fail loudly (ArithmeticException),
        // never wrap silently into a corrupted spectral fit. addExact /
        // multiplyExact are JIT intrinsics — no measurable cost vs +/*.
        var p = 0
        var i = 0
        while (i < d) {
          val vi = a(i)
          var j = i
          while (j < d) {
            b(p) = Math.addExact(b(p), Math.multiplyExact(vi, a(j)))
            p += 1; j += 1
          }
          b(tri + i) = Math.addExact(b(tri + i), vi)
          i += 1
        }
        b(tri + d) += 1L
        b
      }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (a.isEmpty) b
      else if (b.isEmpty) a
      else {
        require(a.length == b.length,
          s"ScatterMoments: mismatched buffer lengths ${a.length} vs ${b.length}")
        var i = 0
        while (i < a.length) { a(i) = Math.addExact(a(i), b(i)); i += 1 }
        a
      }
    override def finish(r: Array[Long]): Seq[Long] = r.toSeq
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }

  /** A Misra-Gries frequent-items summary: at most `k` (token, weight)
    * counters plus the exact processed-item count.
    */
  case class MgSummary(n: Long, toks: Seq[String], cnts: Seq[Long])

  /** Misra-Gries heavy-hitter sketch (mergeable-summaries form, Agarwal
    * et al. 2013): the buffer holds at most `k` counters; combining two
    * summaries (or adding one item) sums counters and, when k is
    * exceeded, subtracts the (k+1)-th largest count from every counter
    * and drops the non-positives. The total undercount after ANY merge
    * tree is <= n/(k+1), so every token with true count > n/(k+1) is
    * guaranteed present in the final summary — the superset guarantee
    * the exact second pass of `TextAnalysis.heavyHitters` relies on.
    * Counter VALUES (and which sub-threshold tokens survive) depend on
    * the merge order, which is why consumers treat the summary as a
    * candidate set, never as output.
    */
  /** Misra-Gries running buffer: the counter map is kept as a persistent
    * Map so the per-row hot path is one O(1) `updated` (the original
    * Seq-pair buffer re-built the whole map per token — an O(k) alloc per
    * row that dominated the q154 scan).
    */
  case class MgBuf(n: Long, m: Map[String, Long])

  class MisraGries(k: Int) extends Aggregator[String, MgBuf, MgSummary] {
    require(k >= 1, "MisraGries needs k >= 1 counters")
    private def shrink(m: Map[String, Long]): Map[String, Long] =
      if (m.size <= k) m
      else {
        val cut = m.values.toArray.sortBy(-_).apply(k) // (k+1)-th largest
        m.collect { case (t, c) if c > cut => t -> (c - cut) }
      }
    override def zero: MgBuf = MgBuf(0L, Map.empty)
    override def reduce(b: MgBuf, tok: String): MgBuf =
      MgBuf(b.n + 1L, shrink(b.m.updated(tok, b.m.getOrElse(tok, 0L) + 1L)))
    override def merge(a: MgBuf, b: MgBuf): MgBuf =
      MgBuf(a.n + b.n, shrink(b.m.foldLeft(a.m) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c) }))
    // sorted (-count, token) so the emitted summary is deterministic for a
    // given final counter CONTENT whatever map implementation iterates it
    override def finish(r: MgBuf): MgSummary = {
      val s = r.m.toSeq.sortBy { case (t, c) => (-c, t) }
      MgSummary(r.n, s.map(_._1), s.map(_._2))
    }
    override def bufferEncoder: Encoder[MgBuf] = Encoders.product[MgBuf]
    override def outputEncoder: Encoder[MgSummary] = Encoders.product[MgSummary]
  }
}
