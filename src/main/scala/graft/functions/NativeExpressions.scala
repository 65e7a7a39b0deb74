package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the deterministic scalar functions —
  * one tier above Scala UDFs (builder-prompt preference order: compose
  * built-ins > custom Expression > UDF): `doGenCode` emits a direct
  * static call inside whole-stage codegen, so no UDF closure
  * serialization, no Row boxing, and the expression participates in
  * constant folding when inputs are literals.
  */
case class Uuid5Expr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "uuid5"
  override def foldable: Boolean = children.forall(_.foldable)

  override def nullSafeEval(ns: Any, name: Any): Any =
    UTF8String.fromString(Uuids.uuid5(ns.toString, name.toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (n, c) =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Uuids.uuid5($n.toString(), $c.toString()))")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

case class TitleCaseExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "title_case"
  override def foldable: Boolean = child.foldable

  override def nullSafeEval(s: Any): Any =
    UTF8String.fromString(TitleCase.titleCase(s.toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.TitleCase.titleCase($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Codegen'd dot product over float/double array columns in double
  * precision, summing left-to-right — bit-identical to the
  * `aggregate(zip_with(...))` HOF formulation but ~4× faster: HOF
  * lambdas are CodegenFallback (interpreted, per-element boxing), which
  * dominated the ANN pair-scoring stage at sf0.1. This is the "custom
  * Expression where built-ins genuinely fall short" tier: the semantics
  * are expressible with HOFs, the performance is not.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    val lf = isFloat(left); val rf = isFloat(right)
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // fresh names: a fixed `i` shadows UnsafeProjection's InternalRow
      // parameter (illegal in Java) and a fixed `n`/`acc` collides when
      // two dot products share one projection — either way Janino fails
      // and the WHOLE projection silently drops to interpreter mode
      val n = ctx.freshName("dpN")
      val idx = ctx.freshName("dpI")
      val acc = ctx.freshName("dpAcc")
      val lGet = if (isFloat(left)) s"(double) $a.getFloat($idx)"
                 else s"$a.getDouble($idx)"
      val rGet = if (isFloat(right)) s"(double) $b.getFloat($idx)"
                 else s"$b.getDouble($idx)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $idx = 0; $idx < $n; $idx++) { $acc += ($lGet) * ($rGet); }
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One-pass hashed k-shingling: tokenize on ASCII whitespace, xxhash64
  * each token's bytes in place, hash every k-token window with the same
  * seed-fold Spark's `xxhash64(array<long>)` uses, sort + dedup. The
  * HOF formulation (split → transform(xxhash64) → transform(slice) →
  * array_distinct) evaluates interpreted per ELEMENT with boxing — it
  * was the dominant cost of both near-dup operators at sf0.1; this is
  * one static call per ROW with zero per-token allocation.
  */
object HashedShingles {
  private val Seed = 42L // xxhash64's default seed

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  def compute(text: UTF8String, k: Int): ArrayData =
    compute(text, k, strict = false)

  /** strict = true: a text with fewer than k tokens yields NO windows
    * (decontamination semantics — a short doc cannot contain a k-gram),
    * instead of the whole-text fallback shingle near-dup blocking uses. */
  def compute(text: UTF8String, k: Int, strict: Boolean): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes()
    // token hashes: whitespace bytes are ASCII, so byte scanning is
    // UTF-8 safe (multi-byte sequences never contain ASCII bytes)
    var toks = new Array[Long](math.max(8, n / 8))
    var nt = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(text.getByte(i))) i += 1
      val start = i
      while (i < n && !isWs(text.getByte(i))) i += 1
      if (i > start) {
        if (nt == toks.length) toks = java.util.Arrays.copyOf(toks, nt * 2)
        toks(nt) = XXH64.hashUnsafeBytes(base, off + start, i - start, Seed)
        nt += 1
      }
    }
    val out =
      if (nt < k && strict) Array.emptyLongArray
      else if (nt < k) { // whole text as the single shingle, like shingles()
        var h = Seed
        var j = 0
        while (j < nt) { h = XXH64.hashLong(toks(j), h); j += 1 }
        Array(h)
      } else {
        val hs = new Array[Long](nt - k + 1)
        var s = 0
        while (s <= nt - k) {
          var h = Seed
          var j = s
          while (j < s + k) { h = XXH64.hashLong(toks(j), h); j += 1 }
          hs(s) = h
          s += 1
        }
        java.util.Arrays.sort(hs)
        var w = 1
        var r = 1
        while (r < hs.length) {
          if (hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
          r += 1
        }
        if (w == hs.length) hs else java.util.Arrays.copyOf(hs, w)
      }
    new GenericArrayData(out)
  }

  /** Per-position k-gram hashes: index i holds the hash of the window
    * starting at token i (0-based) — NO sort, NO dedup, so callers get
    * (position, hash) pairs via `posexplode`. Fewer than k tokens →
    * empty (strict window semantics). Same tokenization and hash
    * composition as [[compute]]. */
  def computePositional(text: UTF8String, k: Int): ArrayData = {
    val n = text.numBytes()
    var toks = new Array[Long](math.max(8, n / 8))
    var nt = 0
    var i = 0
    while (i < n) {
      while (i < n && isWs(text.getByte(i))) i += 1
      val start = i
      while (i < n && !isWs(text.getByte(i))) i += 1
      if (i > start) {
        if (nt == toks.length) toks = java.util.Arrays.copyOf(toks, nt * 2)
        toks(nt) = XXH64.hashUnsafeBytes(text.getBaseObject,
          text.getBaseOffset + start, i - start, Seed)
        nt += 1
      }
    }
    if (nt < k) new GenericArrayData(Array.emptyLongArray)
    else {
      val hs = new Array[Long](nt - k + 1)
      var s = 0
      while (s <= nt - k) {
        var h = Seed
        var j = s
        while (j < s + k) { h = XXH64.hashLong(toks(j), h); j += 1 }
        hs(s) = h
        s += 1
      }
      new GenericArrayData(hs)
    }
  }
}

/** Fused MinHash signature: all `numPerm` per-permutation minima in one
  * pass over a doc's hashed-shingle array. Permutation i is the
  * multiply-add bijection `a_i * h + b_i (mod 2⁶⁴)` with SplitMix64-
  * derived odd multipliers — a genuine permutation of the hash space, so
  * min-over-permutation is the textbook MinHash estimator, at 2 ALU ops
  * per (element, perm) instead of a full xxhash64. Replaces an
  * explode + 256-way min-aggregate: no explode, no shuffle, no
  * aggregation buffers — the signature never leaves the row.
  */
object MinHashSig {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]

  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def constants(numPerm: Int): (Array[Long], Array[Long]) =
    cache.computeIfAbsent(numPerm, n => {
      val a = Array.tabulate(n)(i => splitmix64(2L * i) | 1L) // odd → bijective
      val b = Array.tabulate(n)(i => splitmix64(2L * i + 1))
      (a, b)
    })

  def compute(arr: ArrayData, numPerm: Int): ArrayData = {
    val (a, b) = constants(numPerm)
    val mins = Array.fill(numPerm)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < numPerm) {
        val v = a(j) * h + b(j)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }
}

case class MinHashSigExpr(child: Expression, numPerm: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(x: Any): Any =
    MinHashSig.compute(x.asInstanceOf[ArrayData], numPerm)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashSig.compute($c, $numPerm)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass text statistics: token count, distinct-token count, mean
  * word length and stopword ratio from a single tokenize scan —
  * replacing four per-column HOF pipelines that each re-split the text
  * interpreted. Being codegen-capable also means whole-stage codegen's
  * subexpression elimination computes the struct ONCE when a projection
  * extracts all four fields. Semantics mirror the Column formulations
  * exactly (ratios on the lowercased token, nulls when no tokens). */
object TextStats {
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  def compute(text: UTF8String, stopSet: java.util.HashSet[UTF8String]): InternalRow = {
    // Tokens are built straight from BYTE ranges with fromBytes —
    // UTF8String.substring is CHARACTER-indexed, so feeding it the byte
    // offsets this scanner produces corrupts any multi-byte UTF-8 text
    // ("für die" → token "ie"). Whitespace bytes are ASCII, so the byte
    // scan itself is UTF-8 safe (continuation bytes are all >= 0x80).
    val bytes = text.getBytes
    val n = bytes.length
    val seen = new java.util.HashSet[UTF8String]()
    var nToks = 0
    var stopHits = 0
    var wsChars = 0 // ws is ASCII → byte count == char count
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) { wsChars += 1; i += 1 }
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        nToks += 1
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        seen.add(tok)
        if (stopSet.contains(tok.toLowerCase)) stopHits += 1
      }
    }
    val nonWs = text.numChars() - wsChars
    val row = new GenericInternalRow(4)
    row.setInt(0, nToks)
    row.setInt(1, seen.size)
    if (nToks == 0) { row.setNullAt(2); row.setNullAt(3) }
    else {
      row.setDouble(2, nonWs.toDouble / nToks)
      row.setDouble(3, stopHits.toDouble / nToks)
    }
    row
  }
}

case class TextStatsExpr(child: Expression, stop: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("n_toks", IntegerType, nullable = false),
    StructField("n_uniq", IntegerType, nullable = false),
    StructField("mean_wlen", DoubleType, nullable = true),
    StructField("stop_ratio", DoubleType, nullable = true)))
  override def prettyName: String = "text_stats"

  // built once per expression instance (not per row) and shared by the
  // interpreted and codegen paths via addReferenceObj
  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](stop.length * 2)
    stop.foreach(w => s.add(UTF8String.fromString(w.toLowerCase)))
    s
  }

  override def nullSafeEval(s: Any): Any =
    TextStats.compute(s.asInstanceOf[UTF8String], stopSet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextStats.compute($c, $ref)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One-pass stopword-vote language ID: per-language hit counters over a
  * single lowercased tokenize scan, argmax with earlier-language tie
  * wins, "und" when no language scores. Mirrors the array_max-of-structs
  * Column formulation exactly, at one static call per row. */
object LangVotes {
  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  def compute(text: UTF8String, labels: Array[UTF8String],
              sets: Array[java.util.HashSet[UTF8String]],
              und: UTF8String): UTF8String = {
    // byte-range token build (fromBytes), NOT substring — substring is
    // character-indexed and byte offsets corrupt multi-byte UTF-8 (the
    // multilingual input this heuristic exists for; see TextStats)
    val bytes = text.toLowerCase.getBytes
    val n = bytes.length
    val scores = new Array[Int](sets.length)
    var i = 0
    while (i < n) {
      while (i < n && isWs(bytes(i))) i += 1
      val start = i
      while (i < n && !isWs(bytes(i))) i += 1
      if (i > start) {
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        var j = 0
        while (j < sets.length) {
          if (sets(j).contains(tok)) scores(j) += 1
          j += 1
        }
      }
    }
    var best = 0
    var j = 1
    while (j < scores.length) { // strict > keeps the earlier language on ties
      if (scores(j) > scores(best)) best = j
      j += 1
    }
    if (scores(best) <= 0) und else labels(best)
  }
}

case class LangIdExpr(child: Expression, langs: Seq[(String, Seq[String])])
    extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"

  @transient private lazy val labels: Array[UTF8String] =
    langs.map(l => UTF8String.fromString(l._1)).toArray
  @transient private lazy val sets: Array[java.util.HashSet[UTF8String]] =
    langs.map { case (_, ws) =>
      val s = new java.util.HashSet[UTF8String](ws.length * 2)
      ws.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }.toArray
  private val Und = UTF8String.fromString("und")

  override def nullSafeEval(s: Any): Any =
    LangVotes.compute(s.asInstanceOf[UTF8String], labels, sets, Und)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lRef = ctx.addReferenceObj("labels", labels,
      "org.apache.spark.unsafe.types.UTF8String[]")
    val sRef = ctx.addReferenceObj("sets", sets,
      "java.util.HashSet[]")
    val uRef = ctx.addReferenceObj("und", Und,
      "org.apache.spark.unsafe.types.UTF8String")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.LangVotes.compute($c, $lRef, $sRef, $uRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Nearest-centroid assignment for k-means / IVF coarse quantization:
  * argmax cosine against a driver-resident centroid matrix, ties to the
  * LOWEST cluster id, similarities rounded to 6 dp (Spark `round`
  * semantics: BigDecimal HALF_UP) so the value is bit-identical to the
  * literal-expression formulation [[graft.operators.Clustering]] uses at
  * small k. A zero-norm vector or centroid scores the sentinel -2.0
  * (below any real cosine) instead of NaN, keeping the argmax total and
  * engine-portable.
  *
  * Scale rationale: inlining k centroids as literals generates O(k·d)
  * expression tree — megabytes of codegen source at a realistic coarse
  * quantizer size (nlist 1024–65536), then Janino failure and
  * interpreter fallback. Here the matrix rides the plan as a codegen
  * REFERENCE OBJECT (`ctx.addReferenceObj`): the generated source is one
  * static call regardless of k, the matrix is broadcast with the task
  * binary exactly like MLlib's closure-captured centroids, and the scan
  * stays map-side whole-stage-codegen with no join, no row expansion and
  * no shuffle — the join + min-by alternative would expand every row k×
  * and re-aggregate it back.
  */
object NearestCentroid {
  def norms(cents: Array[Array[Double]]): Array[Double] =
    cents.map { c =>
      var s = 0.0
      var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }

  /** Spark `round(x, 6)` for doubles: BigDecimal.valueOf + HALF_UP. */
  def round6(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  def assign(v: ArrayData, cents: Array[Array[Double]], cnorms: Array[Double],
             ids: Array[Int], isFloat: Boolean): Int = {
    val n = v.numElements()
    // vector norm first (shared across all k candidates); left-to-right
    // fold in double, same order as DotProductExpr(v, v)
    var vsq = 0.0
    var i = 0
    while (i < n) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      vsq += x * x
      i += 1
    }
    val vn = math.sqrt(vsq)
    var best = Double.NegativeInfinity
    var bestId = if (ids.isEmpty) 0 else ids(0)
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci)
      val m = math.min(n, c.length)
      var d = 0.0
      var j = 0
      while (j < m) {
        val x = if (isFloat) v.getFloat(j).toDouble else v.getDouble(j)
        d += x * c(j)
        j += 1
      }
      val denom = vn * cnorms(ci)
      val sim = if (denom == 0d) -2d else round6(d / denom)
      // strict > keeps the earlier (lowest-id) centroid on ties — ids
      // must be passed in ascending order
      if (sim > best) { best = sim; bestId = ids(ci) }
      ci += 1
    }
    bestId
  }
}

case class NearestCentroidExpr(child: Expression, cents: Seq[(Int, Seq[Double])])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  private def childIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // Seq in the case-class field (structural equality for Catalyst
  // canonicalization); arrays materialized once per instance for the
  // eval hot path and shared with codegen via addReferenceObj
  @transient private lazy val matrix: Array[Array[Double]] =
    cents.map(_._2.toArray).toArray
  @transient private lazy val cnorms: Array[Double] =
    NearestCentroid.norms(matrix)
  @transient private lazy val ids: Array[Int] = cents.map(_._1).toArray

  override def nullSafeEval(x: Any): Any =
    NearestCentroid.assign(x.asInstanceOf[ArrayData], matrix, cnorms, ids,
      childIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mRef = ctx.addReferenceObj("cents", matrix, "double[][]")
    val nRef = ctx.addReferenceObj("cnorms", cnorms, "double[]")
    val iRef = ctx.addReferenceObj("cids", ids, "int[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.NearestCentroid.assign($c, $mRef, $nRef, $iRef, " +
        s"$childIsFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[HashedShingles.computePositional]] as an expression: per-position
  * k-gram hashes, array index = 0-based window start. */
case class PositionalNgramsExpr(child: Expression, k: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "positional_ngram_hashes"

  override def nullSafeEval(s: Any): Any =
    HashedShingles.computePositional(s.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashedShingles.computePositional($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class HashedShinglesExpr(child: Expression, k: Int,
                              strict: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_shingles"

  override def nullSafeEval(s: Any): Any =
    HashedShingles.compute(s.asInstanceOf[UTF8String], k, strict)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.HashedShingles.compute($c, $k, $strict)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NativeExpressions {
  import org.apache.spark.sql.graftshim.Shims

  def dotProduct(a: Column, b: Column): Column =
    Shims.toColumn(DotProductExpr(Shims.toExpression(a), Shims.toExpression(b)))

  def hashedShingles(text: Column, k: Int): Column =
    Shims.toColumn(HashedShinglesExpr(Shims.toExpression(text), k))

  /** Strict windows: < k tokens → empty array (no whole-text fallback). */
  def hashedNgrams(text: Column, k: Int): Column =
    Shims.toColumn(HashedShinglesExpr(Shims.toExpression(text), k,
      strict = true))

  /** Per-position k-gram hashes (index = 0-based window start; < k
    * tokens → empty): `posexplode` yields (position, gram-hash) rows. */
  def positionalNgramHashes(text: Column, k: Int): Column =
    Shims.toColumn(PositionalNgramsExpr(Shims.toExpression(text), k))

  def minHashSig(hs: Column, numPerm: Int): Column =
    Shims.toColumn(MinHashSigExpr(Shims.toExpression(hs), numPerm))

  /** Argmax-cosine cluster id against a driver-resident centroid matrix
    * (`(id, vector)` pairs, ids ascending). Constant plan size at any k. */
  def nearestCentroid(v: Column, cents: Seq[(Int, Array[Double])]): Column =
    Shims.toColumn(NearestCentroidExpr(Shims.toExpression(v),
      cents.map { case (i, a) => (i, a.toSeq) }))

  def textStats(text: Column, stop: Seq[String]): Column =
    Shims.toColumn(TextStatsExpr(Shims.toExpression(text), stop))

  def langId(text: Column, langs: Seq[(String, Seq[String])]): Column =
    Shims.toColumn(LangIdExpr(Shims.toExpression(text), langs))

  def uuid5(ns: Column, name: Column): Column =
    Shims.toColumn(Uuid5Expr(Shims.toExpression(ns), Shims.toExpression(name)))

  def titleCase(c: Column): Column =
    Shims.toColumn(TitleCaseExpr(Shims.toExpression(c)))

  /** Register `uuid5` / `title_case` as SQL functions on a session. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "uuid5", exprs => Uuid5Expr(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "title_case", exprs => TitleCaseExpr(exprs.head), "built-in")
  }
}

/** Cluster-deployment registration:
  * `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.functions.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
    e.injectFunction((FunctionIdentifier("uuid5"),
      new ExpressionInfo(classOf[Uuid5Expr].getName, "uuid5"),
      (exprs: Seq[Expression]) => Uuid5Expr(exprs(0), exprs(1))))
    e.injectFunction((FunctionIdentifier("title_case"),
      new ExpressionInfo(classOf[TitleCaseExpr].getName, "title_case"),
      (exprs: Seq[Expression]) => TitleCaseExpr(exprs.head)))
    e.injectOptimizerRule(_ => graft.plans.CollapseRedundantArrayOps)
  }
}

object GraftExtensions {

  /** Register graft's SQL functions (`uuid5`, `title_case`) and the
    * codec-collapse optimizer rule on a session. */
  def install(spark: SparkSession): Unit = {
    NativeExpressions.register(spark)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+
        graft.plans.CollapseRedundantArrayOps
  }
}
