package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot per-row loops.
  *
  * The SQL higher-order-function formulations in [[Portable]] define
  * the semantics (and the DuckDB oracles mirror them); these
  * expressions compute the SAME values — same fold order, same
  * integer/floating-point arithmetic — as tight JVM loops. Spark
  * evaluates lambda-based `aggregate`/`transform` interpretively,
  * one function call per element, and re-evaluates any expression
  * captured inside a lambda on every lambda invocation; on a scan of
  * 10^9 documents that overhead dominates the query. Each expression
  * here is one `eval` per row.
  *
  * [[ArrayDot]] additionally implements `doGenCode`, so vector scoring
  * participates in whole-stage codegen (it sits inside the tightest
  * loops: brute-force ANN is |probes| x n of them).
  */
object Native {

  /** dot(a, b): strict left-fold sum of pairwise products —
    * bit-identical to Portable.dot / duckDot. */
  case class ArrayDot(left: Expression, right: Expression)
      extends BinaryExpression {
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

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
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

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  private def polyHash(s: UTF8String, mult: Long, p: Long): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * mult + cp) % p
      i += Character.charCount(cp)
    }
    h
  }

  /** polynomial code-point hash mod p — bit-identical to
    * Portable.charHash (split('') + ascii + left fold). Codegen'd so
    * fingerprint/normalized-dedup scans stay inside whole-stage
    * codegen. */
  case class CharPolyHash(child: Expression, mult: Long, p: Long)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_char_hash"
    override def nullSafeEval(s: Any): Any =
      polyHash(s.asInstanceOf[UTF8String], mult, p)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, in => {
        val str = ctx.freshName("str")
        val h = ctx.freshName("h")
        val i = ctx.freshName("i")
        val cp = ctx.freshName("cp")
        s"""
           |java.lang.String $str = $in.toString();
           |long $h = 0L;
           |int $i = 0;
           |while ($i < $str.length()) {
           |  int $cp = $str.codePointAt($i);
           |  $h = ($h * ${mult}L + $cp) % ${p}L;
           |  $i += java.lang.Character.charCount($cp);
           |}
           |${ev.value} = $h;
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** word-3-gram shingle hashes straight from the words array: hashes
    * the virtual string "w_i w_(i+1) w_(i+2)" without materializing it.
    * wide=false: one 30-bit hash (mult 31 mod P1) — bit-identical to
    * Portable.shingleHashes(shingles3(words)); safe as MinHash input
    * (the affine permutation must not overflow a signed 64-bit int).
    * wide=true: the 60-bit fp60 combination of the (31,P1) and (37,P2)
    * hashes — required by SimHash, whose bands cover bits 0..59; a
    * 30-bit input would make bands 2-3 degenerate into one global
    * bucket. */
  case class ShingleHashes3(child: Expression, wide: Boolean)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String =
      if (wide) "graft_shingle_hashes60" else "graft_shingle_hashes"

    override def nullSafeEval(wsAny: Any): Any = {
      val ws = wsAny.asInstanceOf[ArrayData]
      val n = ws.numElements()
      if (n < 3) return new GenericArrayData(Array.empty[Long])
      val words = new Array[String](n)
      var i = 0
      while (i < n) { words(i) = ws.getUTF8String(i).toString; i += 1 }
      val out = new Array[Long](n - 2)
      i = 0
      while (i < n - 2) {
        var h1 = 0L
        var h2 = 0L
        var k = 0
        while (k < 3) {
          if (k > 0) {
            h1 = (h1 * 31 + ' '.toInt) % Portable.P1
            h2 = (h2 * 37 + ' '.toInt) % Portable.P2
          }
          val w = words(i + k)
          var j = 0
          while (j < w.length) {
            val cp = w.codePointAt(j)
            h1 = (h1 * 31 + cp) % Portable.P1
            h2 = (h2 * 37 + cp) % Portable.P2
            j += Character.charCount(cp)
          }
          k += 1
        }
        out(i) = if (wide) h1 * Portable.TWO30 + h2 else h1
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** w-word window fp60 hashes straight from the words array: element
    * i is the 60-bit fp60 hash of the virtual string
    * "w_i w_(i+1) ... w_(i+w-1)" — the span fingerprint of
    * exact-substring dedup — computed without materializing the
    * joined window strings (a w=8 window stream would otherwise
    * allocate ~8× the document's bytes before the first shuffle).
    * Bit-identical to
    * `transform(Portable.duckWindows-style spans, g -> fp60(g))`;
    * [[ShingleHashes3]] with wide=true is the w=3 special case. */
  case class WindowHashes60(child: Expression, w: Int)
      extends UnaryExpression with CodegenFallback {
    require(w >= 2, s"window length must be >= 2, got $w")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_window_hashes60"

    override def nullSafeEval(wsAny: Any): Any = {
      val ws = wsAny.asInstanceOf[ArrayData]
      val n = ws.numElements()
      if (n < w) return new GenericArrayData(Array.empty[Long])
      val words = new Array[String](n)
      var i = 0
      while (i < n) { words(i) = ws.getUTF8String(i).toString; i += 1 }
      val out = new Array[Long](n - w + 1)
      i = 0
      while (i <= n - w) {
        var h1 = 0L
        var h2 = 0L
        var k = 0
        while (k < w) {
          if (k > 0) {
            h1 = (h1 * 31 + ' '.toInt) % Portable.P1
            h2 = (h2 * 37 + ' '.toInt) % Portable.P2
          }
          val s = words(i + k)
          var j = 0
          while (j < s.length) {
            val cp = s.codePointAt(j)
            h1 = (h1 * 31 + cp) % Portable.P1
            h2 = (h2 * 37 + cp) % Portable.P2
            j += Character.charCount(cp)
          }
          k += 1
        }
        out(i) = h1 * Portable.TWO30 + h2
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** 64-permutation MinHash signature — bit-identical to
    * Portable.minhashSig. */
  case class MinHashSig64(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_sig"

    override def nullSafeEval(hAny: Any): Any = {
      val hs = hAny.asInstanceOf[ArrayData]
      val n = hs.numElements()
      val out = new Array[Long](64)
      var i = 0
      while (i < 64) {
        val a = 2L * i + 5
        val b = i.toLong * i + 13
        var m = Long.MaxValue
        var k = 0
        while (k < n) {
          val v = (a * hs.getLong(k) + b) % Portable.P2
          if (v < m) m = v
          k += 1
        }
        out(i) = m
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** 60-bit SimHash — bit-identical to Portable.simhash60 (the vote
    * sums are integer additions, so accumulation order is free). */
  case class SimHash60(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_simhash60"

    override def nullSafeEval(hAny: Any): Any = {
      val hs = hAny.asInstanceOf[ArrayData]
      val n = hs.numElements()
      val votes = new Array[Int](60)
      var k = 0
      while (k < n) {
        val h = hs.getLong(k)
        var j = 0
        while (j < 60) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
        k += 1
      }
      var fp = 0L
      var j = 0
      while (j < 60) {
        if (votes(j) > 0) fp |= (1L << j)
        j += 1
      }
      fp
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** 4 x 6-bit random-hyperplane LSH keys — bit-identical to
    * Portable.hyperplaneKeys (same LCG, same d-ascending fold). */
  case class HyperplaneKeys(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_hyperplane_keys"

    override def nullSafeEval(vAny: Any): Any = {
      val v = vAny.asInstanceOf[ArrayData]
      val out = new Array[Long](4)
      var t = 0
      while (t < 4) {
        var key = 0L
        var j = 0
        while (j < 6) {
          var s = 0.0
          var d = 0
          while (d < 64) {
            val idx = (t * 8L + j) * 64L + d
            val g = ((1103515245L * idx + 12345L) % 2147483648L) / 2147483648.0 - 0.5
            s += v.getDouble(d) * g
            d += 1
          }
          key = key * 2 + (if (s >= 0) 1L else 0L)
          j += 1
        }
        out(t) = t * 64L + key
        t += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** Corpus-scaled variant of [[HyperplaneKeys]]: 4 tables x `bits`
    * bits per key, so the keyspace (4 * 2^bits values) GROWS with the
    * corpus instead of saturating — the scale-safe blocking shape
    * (bits ~ log2(N/target-occupancy), recomputed per corpus from a
    * count, keeps expected bucket occupancy constant so the
    * MaxEmbBucket cap stops truncating an unbounded fraction).
    * Plane j of table t is LCG index (t*32 + j)*64 + d — 32 reserved
    * plane slots per table, so growing bits ADDS planes without
    * moving the existing ones (recall comparisons across corpus sizes
    * differ only by the added bits), and bits <= 32 can never collide
    * with the next table's slots. NOT bit-identical to the fixed
    * 1-arg form (that one keeps the historical (t*8 + j) indexing for
    * its pinned oracles). */
  case class HyperplaneKeysN(child: Expression, bitsExpr: Expression)
      extends BinaryExpression with CodegenFallback {
    override def left: Expression = child
    override def right: Expression = bitsExpr
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_hyperplane_keys_n"

    override def nullSafeEval(vAny: Any, bitsAny: Any): Any = {
      val v = vAny.asInstanceOf[ArrayData]
      val bits = bitsAny match {
        case i: java.lang.Integer => i.intValue()
        case l: java.lang.Long => l.intValue()
        case other => sys.error(s"non-integral hyperplane bit count: $other")
      }
      require(bits >= 1 && bits <= 32,
        s"hyperplane bit count must be in [1, 32], got $bits")
      val out = new Array[Long](4)
      var t = 0
      while (t < 4) {
        var key = 0L
        var j = 0
        while (j < bits) {
          var s = 0.0
          var d = 0
          while (d < 64) {
            val idx = (t * 32L + j) * 64L + d
            val g = ((1103515245L * idx + 12345L) % 2147483648L) / 2147483648.0 - 0.5
            s += v.getDouble(d) * g
            d += 1
          }
          key = key * 2 + (if (s >= 0) 1L else 0L)
          j += 1
        }
        out(t) = t * (1L << bits) + key
        t += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(child = l, bitsExpr = r)
  }

  /** Per-vector symmetric int8 quantization in one pass — bit-identical
    * to the SQL HOF formulation pinned in NativeVsSqlSpec (and the
    * DuckDB oracle of vec_quantize): maxabs is a fold seeded at 1e-12
    * (zero-vector guard), codes are floor(x*127/maxabs + 0.5) — floor,
    * not round, so engine rounding modes can't diverge — digested with
    * the standard (acc*1000003 + v) % 2147483647 fold over code+127,
    * and max_err is the largest |x - code*maxabs/127|. This runs on
    * EVERY vector of the corpus (the quantization scan), which is
    * exactly the hot path the interpreted-lambda rule exists for. */
  case class Int8Quantize(child: Expression)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("max_abs", DoubleType, nullable = false),
      StructField("code_digest", LongType, nullable = false),
      StructField("max_err", DoubleType, nullable = false)))
    override def prettyName: String = "graft_int8_quantize"

    override def nullSafeEval(vAny: Any): Any = {
      val v = vAny.asInstanceOf[ArrayData]
      val n = v.numElements()
      var maxabs = 1e-12
      var i = 0
      while (i < n) {
        val a = math.abs(v.getDouble(i))
        if (a > maxabs) maxabs = a
        i += 1
      }
      var digest = 0L
      var maxerr = 0.0
      i = 0
      while (i < n) {
        val x = v.getDouble(i)
        val c = math.floor(x * 127.0 / maxabs + 0.5).toLong
        digest = (digest * 1000003L + (c + 127)) % 2147483647L
        val e = math.abs(x - c * maxabs / 127.0)
        if (e > maxerr) maxerr = e
        i += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(maxabs, digest, maxerr)
    }
    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** The codes themselves (plus maxabs) for quantized similarity
    * search — [[Int8Quantize]]'s sibling for the STORED-column write
    * path ann_quantized assumes at scale: quantization identical
    * (maxabs fold seeded 1e-12; floor(x*127/maxabs + 0.5)), codes
    * emitted as doubles (integer-exact for |c| <= 127) so the
    * candidate scorer feeds them straight into graft_dot. Codegen'd
    * (doGenCode) so quantize→project pipelines (vec_project) stay
    * inside the scan's whole-stage span. */
  case class Int8Codes(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("max_abs", DoubleType, nullable = false),
      StructField("codes", ArrayType(DoubleType, containsNull = false),
        nullable = false)))
    override def prettyName: String = "graft_int8_codes"

    override def nullSafeEval(vAny: Any): Any = {
      val v = vAny.asInstanceOf[ArrayData]
      val n = v.numElements()
      var maxabs = 1e-12
      var i = 0
      while (i < n) {
        val a = math.abs(v.getDouble(i))
        if (a > maxabs) maxabs = a
        i += 1
      }
      val out = new Array[Double](n)
      i = 0
      while (i < n) {
        out(i) = math.floor(v.getDouble(i) * 127.0 / maxabs + 0.5)
        i += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(maxabs,
        new GenericArrayData(out))
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, in => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val a = ctx.freshName("a")
        val maxabs = ctx.freshName("maxabs")
        val out = ctx.freshName("out")
        s"""
           |int $n = $in.numElements();
           |double $maxabs = 1e-12;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $a = java.lang.Math.abs($in.getDouble($i));
           |  if ($a > $maxabs) $maxabs = $a;
           |}
           |double[] $out = new double[$n];
           |for (int $i = 0; $i < $n; $i++) {
           |  $out[$i] = java.lang.Math.floor($in.getDouble($i) * 127.0 / $maxabs + 0.5);
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
           |  new Object[]{$maxabs, new org.apache.spark.sql.catalyst.util.GenericArrayData($out)});
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  /** 16-dim Johnson–Lindenstrauss ±1 projection of an int8 code
    * vector (Achlioptas signs from an LCG on the flattened (j, k)
    * index — no stored matrix). Bit-identical to the interpreted-HOF
    * formulation pinned in NativeVsSqlSpec; exists because the HOF
    * form walks an expression tree per (j, k) cell (~1024 interpreted
    * evals per row — measured 13.5 s over 2k vectors where this loop
    * is milliseconds), and vec_project's whole point is a projection
    * cheap enough to run ahead of every pair-heavy stage.
    *
    * The sign is the HIGH bit of TWO chained LCG rounds, not the low
    * bit of one: with a power-of-two modulus the low bit is just the
    * parity of the input, and the flattened index j·16+k has the
    * parity of k alone — a low-bit sign collapses the matrix to rank 1
    * (every output ±the same column sum) and preserves no pairwise
    * geometry. One round's high bit is still affine enough to leave
    * rank 9/16; the second round breaks the linearity — the resulting
    * 64×16 sign matrix is measured full-rank (16) with 28–36 of 64
    * positive entries per column (pinned in DedupTextSpec), so the
    * O(1/√16) JL distortion bound applies. Codegen'd (doGenCode) so
    * the projection stays inside the scan's whole-stage span. */
  case class JlProject16(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_jl_project"

    override def nullSafeEval(cAny: Any): Any = {
      val c = cAny.asInstanceOf[ArrayData]
      val n = c.numElements()
      val out = new Array[Long](16)
      var j = 0
      while (j < n) {
        val cj = c.getDouble(j).toLong
        val base = j * 16
        var k = 0
        while (k < 16) {
          val x1 = (1103515245L * (base + k) + 12345L) % 2147483648L
          val s = 1L - 2L * (((1103515245L * x1 + 12345L) % 2147483648L) / 1073741824L)
          out(k) += cj * s
          k += 1
        }
        j += 1
      }
      new GenericArrayData(out)
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, in => {
        val n = ctx.freshName("n")
        val out = ctx.freshName("out")
        val j = ctx.freshName("j")
        val k = ctx.freshName("k")
        val cj = ctx.freshName("cj")
        val base = ctx.freshName("base")
        val x1 = ctx.freshName("x1")
        val s = ctx.freshName("s")
        s"""
           |int $n = $in.numElements();
           |long[] $out = new long[16];
           |for (int $j = 0; $j < $n; $j++) {
           |  long $cj = (long) $in.getDouble($j);
           |  long $base = $j * 16L;
           |  for (int $k = 0; $k < 16; $k++) {
           |    long $x1 = (1103515245L * ($base + $k) + 12345L) % 2147483648L;
           |    long $s = 1L - 2L * (((1103515245L * $x1 + 12345L) % 2147483648L) / 1073741824L);
           |    $out[$k] += $cj * $s;
           |  }
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })

    override protected def withNewChildInternal(c: Expression): Expression =
      copy(child = c)
  }

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[Native.type].getName, null, name, usage, "")

  private val builders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", "left-fold dot product of two double arrays",
      es => ArrayDot(es(0), es(1))),
    ("graft_char_hash", "polynomial code-point hash mod p",
      es => CharPolyHash(es.head,
        es(1).eval().asInstanceOf[Number].longValue(),
        es(2).eval().asInstanceOf[Number].longValue())),
    ("graft_shingle_hashes", "word-3-gram shingle hashes from a words array",
      es => ShingleHashes3(es.head, wide = false)),
    ("graft_shingle_hashes60", "60-bit word-3-gram shingle hashes from a words array",
      es => ShingleHashes3(es.head, wide = true)),
    ("graft_window_hashes60", "60-bit w-word window (span) hashes from a words array",
      es => WindowHashes60(es(0), es(1).eval().asInstanceOf[Number].intValue())),
    ("graft_minhash_sig", "64-permutation MinHash signature",
      es => MinHashSig64(es.head)),
    ("graft_simhash60", "60-bit SimHash fingerprint",
      es => SimHash60(es.head)),
    ("graft_hyperplane_keys", "4x6-bit random-hyperplane LSH keys",
      es => HyperplaneKeys(es.head)),
    ("graft_hyperplane_keys_n", "4 x bits-bit random-hyperplane LSH keys (corpus-scaled keyspace)",
      es => HyperplaneKeysN(es(0), es(1))),
    ("graft_int8_quantize", "symmetric int8 quantization: (max_abs, code_digest, max_err)",
      es => Int8Quantize(es.head)),
    ("graft_int8_codes", "symmetric int8 quantization codes: (max_abs, codes as doubles)",
      es => Int8Codes(es.head)),
    ("graft_jl_project", "16-dim JL +/-1 projection of an int8 code vector (LCG signs)",
      es => JlProject16(es.head)),
    ("graft_topk", "partial-aggregatable top-K (value, id) pairs per group",
      es => TopKPairs(es(0), es(1), es(2))),
    ("graft_argmax", "id with the maximal score, exact ties to the smaller id" +
      " (codegen HashAggregate form of max_by(id, struct(score, -id)))",
      es => ArgMaxBy(es(0), es(1))))

  /** Entries of Spark's JVM-wide codegen cache (Spark's
    * `spark.sql.codegen.cache.maxEntries`, default 100) when the session
    * leaves it unset. graft runs many small plans, and at 100 entries
    * their generated classes evict each other before reuse: the nine
    * light perfbench `analytics_mix` rows need 229 distinct classes and
    * recompiled ~18 per execution; a `graft.Verify` run of all 168
    * registry rows at sf0.01 compiled 6,065 classes at 100 entries and
    * 2,671 at 4,096, for ~20 MB more metaspace and ~68 MB more old gen.
    * Spark builds the cache once per JVM, at the first code generation,
    * so the size takes effect only when [[sizeCodegenCache]] runs
    * before that; a JVM that generated code before graft first touched
    * it keeps the cache it already has. That includes a session built
    * with [[graft.GraftExtensions]] whose first action builds a
    * DataFrame from a local `Seq`: the encoder's projection is
    * generated before the session plans anything. */
  val CodegenCacheEntries = 4096

  @volatile private var codegenCacheSized = false

  /** Sizes Spark's codegen cache to [[CodegenCacheEntries]] unless the
    * session's SQL conf sets its own size; once per JVM. */
  def sizeCodegenCache(spark: SparkSession): Unit =
    if (!codegenCacheSized) synchronized {
      if (!codegenCacheSized) {
        org.apache.spark.sql.GraftSqlShim.sizeCodegenCache(spark, CodegenCacheEntries)
        codegenCacheSized = true
      }
    }

  /** Idempotently registers the graft_* functions in a session, after
    * [[sizeCodegenCache]]. Called from Tables() so every query works on
    * any SparkSession, including the driver's. */
  def install(spark: SparkSession): Unit = synchronized {
    sizeCodegenCache(spark)
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, usage, builder) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id)) {
        reg.registerFunction(id, info(name, usage), builder)
      }
    }
  }

  /** Build-time injection for GraftExtensions
    * (spark.sql.extensions=graft.GraftExtensions). */
  def injectInto(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    builders.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    }
}
