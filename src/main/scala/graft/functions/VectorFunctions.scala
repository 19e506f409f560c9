package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/sketch hot paths.
  *
  * Spark's higher-order functions (`zip_with`, `aggregate`) are
  * CodegenFallback — every lambda application is interpreted with
  * boxing, which dominates all-pairs similarity joins (measured 28 s
  * for 2M pair dot products at sf0.1). These expressions generate a
  * tight primitive loop inside whole-stage codegen instead; the same
  * operators drop to ~1 s. Registered as SQL functions (`graft_dot`,
  * `graft_simhash64`) via the session FunctionRegistry so operators
  * compose them with plain `expr(...)`.
  */
object VectorFunctions {

  /** dot(a, b) over array<double> — codegen'd primitive loop. */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(DoubleType, _) => true
        case _ => false
      })
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> inputs, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += $a.getDouble($i) * $b.getDouble($i);
           |}
           |${ev.value} = $s;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** simhash64(hashes) over array<bigint> of token hashes → 64-bit
    * fingerprint (bit i set iff the +1/-1 votes of bit i across tokens
    * sum positive). One codegen'd pass, 64-slot int array on the stack.
    */
  case class SimHash64(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> input, got ${other.simpleString}")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash64"

    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData]
      val votes = new Array[Int](64)
      var i = 0
      while (i < hs.numElements()) {
        val h = hs.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        i += 1
      }
      var fp = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
      fp
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val votes = ctx.freshName("votes")
        val i = ctx.freshName("i")
        val b = ctx.freshName("b")
        val h = ctx.freshName("h")
        val fp = ctx.freshName("fp")
        s"""
           |int[] $votes = new int[64];
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  long $h = $a.getLong($i);
           |  for (int $b = 0; $b < 64; $b++) {
           |    if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
           |  }
           |}
           |long $fp = 0L;
           |for (int $b = 0; $b < 64; $b++) {
           |  if ($votes[$b] > 0) $fp |= (1L << $b);
           |}
           |${ev.value} = $fp;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** minhash64(hashes) over array<bigint> of shingle hashes → 64-slot
    * MinHash signature. Permutation p is the murmur3 finalizer applied
    * to `h XOR (p * GOLDEN)` — 64 cheap integer mixes per element in
    * one codegen'd pass, instead of 64 string-concat+rehash rounds per
    * shingle (the interpreted-HOF formulation this replaces).
    */
  case class MinHashSig(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> input, got ${other.simpleString}")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash64"

    override def nullSafeEval(input: Any): Any = {
      val hs = input.asInstanceOf[ArrayData]
      val sig = Array.fill(64)(Long.MaxValue)
      var i = 0
      while (i < hs.numElements()) {
        val h = hs.getLong(i)
        var p = 0
        while (p < 64) {
          var x = h ^ (p * -7046029254386353131L) // golden-ratio odd constant
          x ^= (x >>> 33); x *= -49064778989728563L
          x ^= (x >>> 33); x *= -4265267296055464877L
          x ^= (x >>> 33)
          if (x < sig(p)) sig(p) = x
          p += 1
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(sig)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val sig = ctx.freshName("sig")
        val i = ctx.freshName("i")
        val p = ctx.freshName("p")
        val h = ctx.freshName("h")
        val x = ctx.freshName("x")
        s"""
           |long[] $sig = new long[64];
           |java.util.Arrays.fill($sig, Long.MAX_VALUE);
           |for (int $i = 0; $i < $a.numElements(); $i++) {
           |  long $h = $a.getLong($i);
           |  for (int $p = 0; $p < 64; $p++) {
           |    long $x = $h ^ ($p * -7046029254386353131L);
           |    $x ^= ($x >>> 33); $x *= -49064778989728563L;
           |    $x ^= ($x >>> 33); $x *= -4265267296055464877L;
           |    $x ^= ($x >>> 33);
           |    if ($x < $sig[$p]) $sig[$p] = $x;
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** hyperplane64(v) over array<double> → 64-bit random-hyperplane
    * (sign-of-projection) signature. Plane p's component for dimension
    * d is a deterministic ±1/uniform derived from splitmix-style
    * mixing of (p, d) — no stored hyperplane matrix, identical on
    * every executor. P(bit differs) = angle/π, so Hamming distance
    * estimates cosine: the classic SimHash-for-vectors LSH, used to
    * bucket near-duplicate candidates without an all-pairs join.
    */
  case class Hyperplane64(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> input, got ${other.simpleString}")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_hyperplane64"

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      var sig = 0L
      var p = 0
      while (p < 64) {
        var dot = 0.0
        var d = 0
        while (d < v.numElements()) {
          var x = (p.toLong << 32 | d.toLong) * -7046029254386353131L
          x = (x ^ (x >>> 30)) * -4658895280553007687L
          x = (x ^ (x >>> 27)) * -7723592293110705685L
          x ^= (x >>> 31)
          // map mixed bits to a uniform in [-1, 1)
          dot += v.getDouble(d) * (x.toDouble / 9.223372036854776e18)
          d += 1
        }
        if (dot > 0) sig |= (1L << p)
        p += 1
      }
      sig
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val sig = ctx.freshName("sig")
        val p = ctx.freshName("p")
        val d = ctx.freshName("d")
        val x = ctx.freshName("x")
        val dot = ctx.freshName("dot")
        s"""
           |long $sig = 0L;
           |for (int $p = 0; $p < 64; $p++) {
           |  double $dot = 0.0;
           |  for (int $d = 0; $d < $a.numElements(); $d++) {
           |    long $x = (((long) $p << 32) | (long) $d) * -7046029254386353131L;
           |    $x = ($x ^ ($x >>> 30)) * -4658895280553007687L;
           |    $x = ($x ^ ($x >>> 27)) * -7723592293110705685L;
           |    $x ^= ($x >>> 31);
           |    $dot += $a.getDouble($d) * ((double) $x / 9.223372036854776e18);
           |  }
           |  if ($dot > 0) $sig |= (1L << $p);
           |}
           |${ev.value} = $sig;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** hyperplane(v, nwords) over array<double> → array<long> of nwords
    * 64-bit random-hyperplane signature words — the WIDE form of
    * [[Hyperplane64]] for corpora past the 64-bit banding wall.
    *
    * Why it exists: banded LSH candidate volume from RANDOM pairs is
    * C(n,2) · bands · 2^-bandBits — with 16-bit bands (the only
    * geometry 64 bits allows at 4 bands) that term crosses ~10M
    * candidates near n ≈ 10⁶ vectors no matter how clean the corpus
    * is, and grows with n². Wider signatures buy exponentially more
    * selectivity: 4 bands × 32 bits (nwords = 2) puts the random-pair
    * term at C(n,2) · 4 · 2^-32 ≈ 2k candidates at n = 2M while
    * near-identical pairs (cos ≥ 0.99) still collide in ≥1 band with
    * p ≈ 0.999 (per-band p = (1 - θ/π)^32). Cost is linear: nwords×64
    * hyperplane dots per vector, one map-side pass.
    *
    * Plane `w·64 + p` uses the same (planeIdx << 32 | dim) splitmix
    * draw as [[Hyperplane64]], so word 0 IS the 64-bit signature —
    * widening an existing index re-derives, never re-shuffles, and
    * the two functions agree on their shared prefix (spec-pinned).
    */
  case class HyperplaneWide(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, int), got (${l.simpleString}, ${r.simpleString})")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_hyperplane"

    override def nullSafeEval(input: Any, nw: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val words = nw.asInstanceOf[Int]
      require(words >= 1 && words <= 16, s"$prettyName: nwords must be in [1,16], got $words")
      val out = new Array[Long](words)
      var w = 0
      while (w < words) {
        var sig = 0L
        var p = 0
        while (p < 64) {
          var dot = 0.0
          var d = 0
          while (d < v.numElements()) {
            var x = ((w.toLong * 64 + p) << 32 | d.toLong) * -7046029254386353131L
            x = (x ^ (x >>> 30)) * -4658895280553007687L
            x = (x ^ (x >>> 27)) * -7723592293110705685L
            x ^= (x >>> 31)
            dot += v.getDouble(d) * (x.toDouble / 9.223372036854776e18)
            d += 1
          }
          if (dot > 0) sig |= (1L << p)
          p += 1
        }
        out(w) = sig
        w += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, nw) => {
        val out = ctx.freshName("out")
        val sig = ctx.freshName("sig")
        val w = ctx.freshName("w")
        val p = ctx.freshName("p")
        val d = ctx.freshName("d")
        val x = ctx.freshName("x")
        val dot = ctx.freshName("dot")
        s"""
           |if ($nw < 1 || $nw > 16) {
           |  throw new IllegalArgumentException(
           |    "graft_hyperplane: nwords must be in [1,16], got " + $nw);
           |}
           |long[] $out = new long[$nw];
           |for (int $w = 0; $w < $nw; $w++) {
           |  long $sig = 0L;
           |  for (int $p = 0; $p < 64; $p++) {
           |    double $dot = 0.0;
           |    for (int $d = 0; $d < $a.numElements(); $d++) {
           |      long $x = ((((long) $w * 64 + $p) << 32) | (long) $d) * -7046029254386353131L;
           |      $x = ($x ^ ($x >>> 30)) * -4658895280553007687L;
           |      $x = ($x ^ ($x >>> 27)) * -7723592293110705685L;
           |      $x ^= ($x >>> 31);
           |      $dot += $a.getDouble($d) * ((double) $x / 9.223372036854776e18);
           |    }
           |    if ($dot > 0) $sig |= (1L << $p);
           |  }
           |  $out[$w] = $sig;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** sq8_encode(v) over array<double> → binary: 8-bit scalar
    * quantization, one byte per component, code = round((x+1)·127.5)
    * clamped to [0, 255] (components of unit-norm embeddings live in
    * [-1, 1]). The point at 100 TB is footprint: a 64-dim float8
    * sketch is 64 B vs 512 B of doubles — 8× less scan bandwidth and
    * cache pressure during candidate generation; exact re-ranking of
    * the survivors uses the full vectors (see Similarity.knnSq8).
    */
  case class Sq8Encode(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> input, got ${other.simpleString}")
    }
    override def dataType: DataType = org.apache.spark.sql.types.BinaryType
    override def prettyName: String = "graft_sq8"

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val out = new Array[Byte](v.numElements())
      var i = 0
      while (i < out.length) {
        val c = Math.max(0, Math.min(255, Math.round((v.getDouble(i) + 1.0) * 127.5).toInt))
        out(i) = c.toByte
        i += 1
      }
      out
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        val c = ctx.freshName("c")
        val out = ctx.freshName("out")
        s"""
           |byte[] $out = new byte[$a.numElements()];
           |for (int $i = 0; $i < $out.length; $i++) {
           |  int $c = (int) Math.round(($a.getDouble($i) + 1.0) * 127.5);
           |  if ($c < 0) $c = 0; if ($c > 255) $c = 255;
           |  $out[$i] = (byte) $c;
           |}
           |${ev.value} = $out;
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** sq8_dot(a, b) over (binary, binary) → approximate dot product of
    * the dequantized vectors — the candidate-scoring loop over the
    * 8-bit sketches. Integer multiply-accumulate inside codegen (one
    * int MAC per component), dequantized once at the end:
    * dot ≈ (Σ (ca-127.5)(cb-127.5)) / 127.5².
    */
  case class Sq8Dot(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType == org.apache.spark.sql.types.BinaryType)
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires binary inputs, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_sq8_dot"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[Array[Byte]]
      val y = b.asInstanceOf[Array[Byte]]
      val n = math.min(x.length, y.length)
      // scaled-integer MAC: (2c - 255) is the code centered at zero,
      // doubled — exact in Long, one divide at the end
      var s = 0L
      var i = 0
      while (i < n) {
        s += (2 * (x(i) & 0xFF) - 255).toLong * (2 * (y(i) & 0xFF) - 255).toLong
        i += 1
      }
      s / (4.0 * 127.5 * 127.5)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        s"""
           |int $n = java.lang.Math.min($a.length, $b.length);
           |long $s = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  $s += (long)(2 * ($a[$i] & 0xFF) - 255) * (long)(2 * ($b[$i] & 0xFF) - 255);
           |}
           |${ev.value} = $s / (4.0 * 127.5 * 127.5);
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** shingles(text, n) → distinct n-word shingles in one O(words) pass.
    *
    * The pure-SQL formulation (`transform(sequence(...), i ->
    * element_at(split(text), i+k))`) looks linear but is not: Catalyst
    * collapses the projection holding the split array back into every
    * lambda, re-running the regex split per element — O(words²) per
    * document, and the optimizer duplicates the whole subtree into
    * each join branch (measured 200 s+ at sf0.1 for what this
    * expression does in under a second). One eval call per row makes
    * CodegenFallback harmless here.
    */
  case class Shingles(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (StringType, IntegerType) if right.foldable => TypeCheckResult.TypeCheckSuccess
        case _ => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (string, int literal), got " +
            s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
      }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_shingles"

    override def nullSafeEval(text: Any, nAny: Any): Any = {
      val n = nAny.asInstanceOf[Int]
      val w = text.asInstanceOf[UTF8String].toString.split("\\s+").filter(_.nonEmpty)
      val out = new java.util.LinkedHashSet[String]()
      if (w.length < n) out.add(w.mkString(" "))
      else {
        val sb = new java.lang.StringBuilder()
        var i = 0
        while (i + n <= w.length) {
          sb.setLength(0)
          var j = 0
          while (j < n) { if (j > 0) sb.append(' '); sb.append(w(i + j)); j += 1 }
          out.add(sb.toString)
          i += 1
        }
      }
      val arr = new Array[AnyRef](out.size)
      val it = out.iterator()
      var k = 0
      while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    }

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** pq_encode(v) → array<int> of m subspace code ids — the PQ encode
    * argmin as ONE codegen'd pass over the row's vector.
    *
    * The prior formulation nested `graft_dot` inside a per-subspace
    * `transform(codebook, b -> struct(dist, code))` + `array_min`:
    * higher-order functions are CodegenFallback, so the entire
    * m·ncent·sub multiply-accumulate ran interpreted with a boxed
    * struct allocation per (row, subspace, centroid) — and the encode
    * IS the dominant cost of every PQ rung (store build, in-query
    * IVF+PQ's probe-union encode). Codebooks arrive flattened by
    * (subspace, centroid id) as constructor arguments — model
    * artifacts, far past what an `expr(...)` string or a foldable
    * registry argument can carry (the [[GraftShims.column]] path) —
    * and are referenced from generated code via `addReferenceObj`
    * (broadcast once per codegen'd task, not per row).
    *
    * Distance per centroid is `‖c‖² − 2·⟨v_sub, c⟩` (the row-constant
    * `‖v_sub‖²` dropped from the argmin), accumulated in the same
    * order as the old expression tree, so code ids are bit-identical;
    * ties keep the lowest centroid id, matching `array_min` over
    * struct(dist, code).
    */
  case class PqEncode(child: Expression, books: Array[Double],
      c2: Array[Double], m: Int, ncent: Int, sub: Int)
      extends UnaryExpression {
    require(books.length == m * ncent * sub,
      s"flat codebook length ${books.length} != m*ncent*sub ${m * ncent * sub}")
    require(c2.length == m * ncent,
      s"c2 length ${c2.length} != m*ncent ${m * ncent}")

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> input, got ${other.simpleString}")
    }
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "graft_pq_encode"

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      // fail loudly on a short vector: the inner loop reads v[0 ..
      // m·sub) unguarded, so a dimension mismatch would be an opaque
      // ArrayIndexOutOfBounds (interpreted) or an undefined
      // UnsafeArrayData read (codegen) — a silently-wrong code
      if (v.numElements() < m * sub)
        throw new IllegalArgumentException(
          s"graft_pq_encode: vector has ${v.numElements()} dims, codebook " +
            s"expects m*sub = ${m * sub}")
      val code = new Array[Int](m)
      var s = 0
      while (s < m) {
        var best = 0
        var bestD = Double.PositiveInfinity
        var cI = 0
        while (cI < ncent) {
          val base = (s * ncent + cI) * sub
          var dot = 0.0
          var j = 0
          while (j < sub) { dot += v.getDouble(s * sub + j) * books(base + j); j += 1 }
          val dist = c2(s * ncent + cI) - 2.0 * dot
          if (dist < bestD) { bestD = dist; best = cI }
          cI += 1
        }
        code(s) = best
        s += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(code)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val booksRef = ctx.addReferenceObj("pqBooks", books, "double[]")
        val c2Ref = ctx.addReferenceObj("pqC2", c2, "double[]")
        val code = ctx.freshName("code")
        val s = ctx.freshName("s")
        val cI = ctx.freshName("cI")
        val j = ctx.freshName("j")
        val base = ctx.freshName("base")
        val dot = ctx.freshName("dot")
        val dist = ctx.freshName("dist")
        val best = ctx.freshName("best")
        val bestD = ctx.freshName("bestD")
        s"""
           |if ($a.numElements() < ${m * sub}) {
           |  throw new IllegalArgumentException(
           |    "graft_pq_encode: vector has " + $a.numElements() +
           |    " dims, codebook expects m*sub = ${m * sub}");
           |}
           |int[] $code = new int[$m];
           |for (int $s = 0; $s < $m; $s++) {
           |  int $best = 0;
           |  double $bestD = Double.POSITIVE_INFINITY;
           |  for (int $cI = 0; $cI < $ncent; $cI++) {
           |    int $base = ($s * $ncent + $cI) * $sub;
           |    double $dot = 0.0;
           |    for (int $j = 0; $j < $sub; $j++) {
           |      $dot += $a.getDouble($s * $sub + $j) * $booksRef[$base + $j];
           |    }
           |    double $dist = $c2Ref[$s * $ncent + $cI] - 2.0 * $dot;
           |    if ($dist < $bestD) { $bestD = $dist; $best = $cI; }
           |  }
           |  $code[$s] = $best;
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
           |  .fromPrimitiveArray($code);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** vdiv(v, d) → array<double> of v[i] / d — unit-normalization as a
    * codegen'd primitive loop. `transform(v, x -> x / norm)` is
    * CodegenFallback (one interpreted lambda frame + boxed Double per
    * ELEMENT), and normalization fronts every PQ/ADC rung's corpus
    * scan. Division (not multiply-by-reciprocal) keeps results
    * bit-identical to the HOF it replaces.
    */
  case class VecDiv(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(DoubleType, _), DoubleType) => TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<double>, double), got " +
            s"(${l.simpleString}, ${r.simpleString})")
      }
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def prettyName: String = "graft_vdiv"

    override def nullSafeEval(v: Any, d: Any): Any = {
      val x = v.asInstanceOf[ArrayData]
      val den = d.asInstanceOf[Double]
      val out = new Array[Double](x.numElements())
      var i = 0
      while (i < out.length) { out(i) = x.getDouble(i) / den; i += 1 }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (v, d) => {
        val i = ctx.freshName("i")
        val out = ctx.freshName("out")
        s"""
           |double[] $out = new double[$v.numElements()];
           |for (int $i = 0; $i < $out.length; $i++) {
           |  $out[$i] = $v.getDouble($i) / $d;
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
           |  .fromPrimitiveArray($out);
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** pq_adc(lut, code) → Σᵢ lut[i·ncent + code[i]] — the ADC
    * asymmetric-distance lookup as one codegen'd loop. The prior
    * `aggregate(sequence(0, m−1), …, element_at…)` formulation ran
    * interpreted (HOF CodegenFallback) and materialized the index
    * sequence per (query, candidate) pair — the inner loop of every
    * coarse ADC scan. Summation order (i ascending) matches the old
    * aggregate fold, so scores are bit-identical.
    */
  case class PqAdc(left: Expression, right: Expression, ncent: Int)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<double>, array<int>), got " +
            s"(${l.simpleString}, ${r.simpleString})")
      }
    override def dataType: DataType = DoubleType
    override def prettyName: String = "graft_pq_adc"

    override def nullSafeEval(lut: Any, code: Any): Any = {
      val l = lut.asInstanceOf[ArrayData]
      val c = code.asInstanceOf[ArrayData]
      var sum = 0.0
      var i = 0
      while (i < c.numElements()) { sum += l.getDouble(i * ncent + c.getInt(i)); i += 1 }
      sum
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (l, c) => {
        val i = ctx.freshName("i")
        val sum = ctx.freshName("sum")
        s"""
           |double $sum = 0.0;
           |for (int $i = 0; $i < $c.numElements(); $i++) {
           |  $sum += $l.getDouble($i * $ncent + $c.getInt($i));
           |}
           |${ev.value} = $sum;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** hash_arr(strs) → array<long> of xxhash64(s) per element — the
    * shingle/token hashing pass as one codegen'd loop. The
    * `transform(shingles, s -> xxhash64(s))` formulation interprets a
    * lambda frame per SHINGLE (≈ words/doc × docs across every minhash
    * and simhash rung). Calls the exact same `XXH64.hashUTF8String`
    * (seed 42) Spark's own xxhash64 lowers to, so hashes — and every
    * downstream signature, band key, and stored artifact — are
    * bit-identical. A null element hashes to the seed, matching
    * xxhash64(NULL).
    */
  case class HashStrArr(child: Expression)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> input, got ${other.simpleString}")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_hash_arr"

    override def nullSafeEval(input: Any): Any = {
      val a = input.asInstanceOf[ArrayData]
      val out = new Array[Long](a.numElements())
      var i = 0
      while (i < out.length) {
        out(i) =
          if (a.isNullAt(i)) 42L
          else org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUTF8String(a.getUTF8String(i), 42L)
        i += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val i = ctx.freshName("i")
        val out = ctx.freshName("out")
        s"""
           |long[] $out = new long[$a.numElements()];
           |for (int $i = 0; $i < $out.length; $i++) {
           |  $out[$i] = $a.isNullAt($i) ? 42L :
           |    org.apache.spark.sql.catalyst.expressions.XXH64
           |      .hashUTF8String($a.getUTF8String($i), 42L);
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
           |  .fromPrimitiveArray($out);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** sig_agree(a, b) → count of positions where two array<long>
    * signatures agree — the minhash similarity estimate's inner loop
    * (was `aggregate(zip_with(…, IF(x = y, 1, 0)), …)`, interpreted
    * per candidate pair with a boxed struct per position).
    *
    * MIN-LENGTH CONTRACT: unequal-length inputs count over the shared
    * prefix — which the IF(x = y, 1, 0) zip_with form this replaced
    * ALSO did (null-padded positions hit IF's else branch and
    * contribute 0), so the two agree on every width
    * (NativeExprParitySpec pins both the equal-width parity and the
    * unequal-width prefix count). Every caller compares FIXED-width
    * signatures (one minhash/band geometry per store).
    */
  case class SigAgree(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      })
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> inputs, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
    override def dataType: DataType = IntegerType
    override def prettyName: String = "graft_sig_agree"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var c = 0
      var i = 0
      while (i < n) { if (x.getLong(i) == y.getLong(i)) c += 1; i += 1 }
      c
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val c = ctx.freshName("c")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |int $c = 0;
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($a.getLong($i) == $b.getLong($i)) $c++;
           |}
           |${ev.value} = $c;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** hamming(a, b) → Σ popcount(a[i] ^ b[i]) over two array<long>
    * fingerprints — the 128-bit image/audio Hamming verify (was
    * `aggregate(zip_with(…, bit_count(x ^ y)), …)`, interpreted per
    * candidate pair). MIN-LENGTH CONTRACT: unequal widths sum over
    * the shared prefix — here this IS a deliberate divergence from
    * the old form (bit_count(x ^ null) nulls the whole zip_with sum,
    * unlike [[SigAgree]]'s IF which zeroed the padding): every caller
    * passes fixed-width fingerprints, and a prefix count degrades
    * more usefully than a NULL if widths ever drift mid-migration.
    * NativeExprParitySpec pins both sides of the contract.
    */
  case class HammingWide(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      })
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint> inputs, got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }
    override def dataType: DataType = IntegerType
    override def prettyName: String = "graft_hamming"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var c = 0
      var i = 0
      while (i < n) { c += java.lang.Long.bitCount(x.getLong(i) ^ y.getLong(i)); i += 1 }
      c
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val c = ctx.freshName("c")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |int $c = 0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $c += java.lang.Long.bitCount($a.getLong($i) ^ $b.getLong($i));
           |}
           |${ev.value} = $c;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** word_grams(w, n) → all n-word grams of a token array, in order,
    * duplicates kept — `TextAnalysis.wordGrams`' contract (space-
    * joined, matching the DuckDB oracles' construction) as one pass.
    * The `transform(sequence(…), i -> concat_ws(' ', slice(w, i, n)))`
    * form interpreted a lambda AND materialized a slice copy per gram.
    * One eval per row (CodegenFallback, the Shingles precedent).
    * Callers pre-filter `size(w) >= n` (same contract as the HOF);
    * shorter inputs return an empty array here.
    */
  case class WordGrams(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(StringType, _), IntegerType) if right.foldable =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires (array<string>, int literal), got " +
            s"(${l.simpleString}, ${r.simpleString})")
      }
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "graft_word_grams"

    override def nullSafeEval(wAny: Any, nAny: Any): Any = {
      val w = wAny.asInstanceOf[ArrayData]
      val n = nAny.asInstanceOf[Int]
      val total = w.numElements() - n + 1
      if (total <= 0)
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[AnyRef](0))
      val out = new Array[AnyRef](total)
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i < total) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          // concat_ws skips nulls; split() never yields them, but
          // mirror the semantic for safety
          if (!w.isNullAt(i + j)) sb.append(w.getUTF8String(i + j).toString)
          j += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** nearest_clusters(v) → the k nearest centroid ids by squared-L2,
    * ordered (dist asc, id asc) — the coarse-quantizer assignment
    * (k=1) and probe-selection (k=nprobe) loop. Replaces
    * `array_min(transform(cents, …))` / `slice(array_sort(…), 1, k)
    * .cluster` over a centroid literal: the HOF interpreted the whole
    * nc·dim multiply-accumulate per row with a boxed struct per
    * centroid — the dominant term of every corpus-wide assignment
    * (IVF seed/tick, semantic dedup, k-means probe). Centroids arrive
    * flattened as constructor arguments (model artifacts — the
    * [[GraftShims.column]] path) in the SAME order as the literal the
    * HOF read, with dist = norm2 + ‖c‖² − 2·⟨v,c⟩ accumulated in the
    * same order, so assignments are bit-identical including
    * struct-ordering tie-breaks.
    */
  case class NearestClusters(child: Expression, cents: Array[Double],
      c2: Array[Double], ids: Array[Int], dim: Int, k: Int)
      extends UnaryExpression {
    require(ids.length == c2.length && cents.length == ids.length * dim,
      s"centroid shapes disagree: ${cents.length} flat, ${c2.length} c2, ${ids.length} ids, dim $dim")
    require(k >= 1, s"k=$k must be positive")
    // mirror slice(array_sort(…), 1, k): k past the centroid count
    // returns them all
    private val kk = math.min(k, ids.length)

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<double> input, got ${other.simpleString}")
    }
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "graft_nearest_clusters"

    override def nullSafeEval(input: Any): Any = {
      val v = input.asInstanceOf[ArrayData]
      val n = math.min(v.numElements(), dim)
      var norm2 = 0.0
      var i = 0
      while (i < n) { val x = v.getDouble(i); norm2 += x * x; i += 1 }
      val bestD = Array.fill(kk)(Double.PositiveInfinity)
      val bestId = Array.fill(kk)(Int.MaxValue)
      var c = 0
      while (c < ids.length) {
        var dot = 0.0
        var j = 0
        val base = c * dim
        while (j < n) { dot += v.getDouble(j) * cents(base + j); j += 1 }
        val d = norm2 + c2(c) - 2.0 * dot
        val id = ids(c)
        // insertion by (dist, id) — array_sort's struct ordering
        if (d < bestD(kk - 1) || (d == bestD(kk - 1) && id < bestId(kk - 1))) {
          var p = kk - 1
          while (p > 0 && (d < bestD(p - 1) || (d == bestD(p - 1) && id < bestId(p - 1)))) {
            bestD(p) = bestD(p - 1); bestId(p) = bestId(p - 1); p -= 1
          }
          bestD(p) = d; bestId(p) = id
        }
        c += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(bestId)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val centsRef = ctx.addReferenceObj("nnCents", cents, "double[]")
        val c2Ref = ctx.addReferenceObj("nnC2", c2, "double[]")
        val idsRef = ctx.addReferenceObj("nnIds", ids, "int[]")
        val n = ctx.freshName("n")
        val norm2 = ctx.freshName("norm2")
        val x = ctx.freshName("x")
        val bestD = ctx.freshName("bestD")
        val bestId = ctx.freshName("bestId")
        val i = ctx.freshName("i")
        val c = ctx.freshName("c")
        val j = ctx.freshName("j")
        val base = ctx.freshName("base")
        val dot = ctx.freshName("dot")
        val d = ctx.freshName("d")
        val id = ctx.freshName("id")
        val p = ctx.freshName("p")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $dim);
           |double $norm2 = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $x = $a.getDouble($i); $norm2 += $x * $x;
           |}
           |double[] $bestD = new double[$kk];
           |int[] $bestId = new int[$kk];
           |java.util.Arrays.fill($bestD, Double.POSITIVE_INFINITY);
           |java.util.Arrays.fill($bestId, Integer.MAX_VALUE);
           |for (int $c = 0; $c < $idsRef.length; $c++) {
           |  double $dot = 0.0;
           |  int $base = $c * $dim;
           |  for (int $j = 0; $j < $n; $j++) {
           |    $dot += $a.getDouble($j) * $centsRef[$base + $j];
           |  }
           |  double $d = $norm2 + $c2Ref[$c] - 2.0 * $dot;
           |  int $id = $idsRef[$c];
           |  if ($d < $bestD[$kk - 1] || ($d == $bestD[$kk - 1] && $id < $bestId[$kk - 1])) {
           |    int $p = $kk - 1;
           |    while ($p > 0 && ($d < $bestD[$p - 1] || ($d == $bestD[$p - 1] && $id < $bestId[$p - 1]))) {
           |      $bestD[$p] = $bestD[$p - 1]; $bestId[$p] = $bestId[$p - 1]; $p--;
           |    }
           |    $bestD[$p] = $d; $bestId[$p] = $id;
           |  }
           |}
           |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
           |  .fromPrimitiveArray($bestId);
         """.stripMargin
      })

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** rolling_fp(text) → the Rabin–Karp-style rolling polynomial
    * document fingerprint over token hashes, one pass: split on ' '
    * (the same `UTF8String.split` Spark's split() lowers to, limit
    * −1), xxhash64 each token (seed 42, `XXH64.hashUTF8String`), fold
    * `pmod(acc·1000003 + (h & 0xFFFFFFFF), 2^31−1)`. Replaces an
    * `aggregate(transform(split(…)))` pair that interpreted two
    * lambda frames per token. Arithmetic identical (acc < 2³¹,
    * masked h < 2³², product < 2⁵² — no overflow), so fingerprints
    * are bit-identical. CodegenFallback — one eval per row.
    */
  case class RollingFp(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires string input, got ${other.simpleString}")
    }
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_rolling_fp"

    private val space = UTF8String.fromString(" ")

    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[UTF8String].split(space, -1)
      var acc = 0L
      var i = 0
      while (i < toks.length) {
        val h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUTF8String(toks(i), 42L)
        acc = java.lang.Math.floorMod(acc * 1000003L + (h & 4294967295L), 2147483647L)
        i += 1
      }
      acc
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Canonical name → builder list for the vector/sketch functions.
    * Single source of truth shared by the programmatic per-session
    * `register` below and the `spark.sql.extensions` deployment path
    * (`graft.GraftExtensions`).
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (exprs => DotProduct(exprs(0), exprs(1))),
    "graft_simhash64" -> (exprs => SimHash64(exprs.head)),
    "graft_minhash64" -> (exprs => MinHashSig(exprs.head)),
    "graft_shingles" -> (exprs => Shingles(exprs(0), exprs(1))),
    "graft_hyperplane64" -> (exprs => Hyperplane64(exprs.head)),
    "graft_hyperplane" -> (exprs => HyperplaneWide(exprs(0), exprs(1))),
    "graft_sq8" -> (exprs => Sq8Encode(exprs.head)),
    "graft_sq8_dot" -> (exprs => Sq8Dot(exprs(0), exprs(1))),
    "graft_vdiv" -> (exprs => VecDiv(exprs(0), exprs(1))),
    "graft_hash_arr" -> (exprs => HashStrArr(exprs.head)),
    "graft_word_grams" -> (exprs => WordGrams(exprs(0), exprs(1))),
    "graft_rolling_fp" -> (exprs => RollingFp(exprs.head)),
    "graft_sig_agree" -> (exprs => SigAgree(exprs(0), exprs(1))),
    "graft_hamming" -> (exprs => HammingWide(exprs(0), exprs(1))))

  /** Spark ships production Bloom expressions (the machinery behind
    * runtime row-group filtering: `BloomFilterAggregate` builds the
    * filter, `BloomFilterMightContain` probes it) but does not expose
    * them in the public function registry — surface them under graft
    * names for the decontamination scale path. Same codegen'd
    * implementations the optimizer itself injects.
    */
  val bloomBuilders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_bloom_agg" ->
      (exprs => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        exprs(0), exprs(1), exprs(2))),
    "graft_might_contain" ->
      (exprs => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        exprs(0), exprs(1))))

  /** Idempotent per-session registration; operators call this before
    * using `expr("graft_dot(...)")` / `expr("graft_simhash64(...)")`.
    */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }

  def registerBloom(spark: SparkSession): Unit =
    bloomBuilders.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
