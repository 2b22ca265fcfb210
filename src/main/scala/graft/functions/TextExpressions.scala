package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass word n-gram shingling.
  *
  * The composable form (`array_distinct(transform(sequence(...), i =>
  * concat_ws(" ", slice(tokens, i, n))))`) walks four interpreted
  * higher-order functions and allocates a sliced array + joined string
  * per position — measured at ~0.9 ms/doc, it dominates the MinHash
  * pipeline (profiled 4.3 s of d3's 6 s at sf0.1). This expression
  * tokenizes, builds the n-grams, and dedupes in one tight loop per row.
  *
  * Semantics are identical to `Dedup.shingles`' composable form (and the
  * DuckDB oracle): whitespace tokens with empties removed; n-grams
  * joined by a single space; distinct; whole text as one shingle when
  * fewer than n tokens. Set-equality is what downstream consumers
  * (min-hash, Jaccard counts) observe, so element order is free.
  *
  * CodegenFallback is deliberate: cost is one virtual call per ROW (the
  * loop inside is plain JVM), not per element like interpreted HOFs.
  */
case class WordShingles(child: Expression, n: Int)
  extends UnaryExpression with CodegenFallback {

  require(n >= 1)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingles needs a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[UTF8String].toString
      .split("\\s+").filter(_.nonEmpty)
    val out = new java.util.LinkedHashSet[String]()
    if (tokens.length >= n) {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i <= tokens.length - n) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(tokens(i + j))
          j += 1
        }
        out.add(sb.toString)
        i += 1
      }
    } else {
      out.add(tokens.mkString(" "))
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native one-pass adjacent-token pairs — bigram OCCURRENCES, with
  * multiplicity, in token order, as `array<struct<w1,w2>>`. The LM
  * scorer's hottest map (t20): the composable spelling
  * (`transform(sequence(1, size-1), i -> struct(element_at…))`)
  * dispatches an interpreted lambda per ELEMENT plus an O(n) two-array
  * walk per element_at; this is one virtual call per row with a single
  * token pass. At the gate corpus (5000 short docs) the scoring JOINS
  * dominate and the swap measures neutral (1.05 s either way,
  * BASELINE §round-10) — the dispatch saving matters when text mass,
  * not the model join, carries the query. Tokenization matches
  * `TextFunctions.tokens` (whitespace split, empties removed) by
  * construction. Also fixes the HOF
  * spelling's latent edge: `sequence(1, size-1)` on a 0/1-token doc
  * DESCENDS (Spark defaults step −1 when start > stop), generating
  * bogus indices — here such docs cleanly emit an empty array.
  */
case class AdjacentPairs(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "adjacent_pairs"

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("w1", StringType, nullable = false),
      StructField("w2", StringType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"adjacent_pairs needs a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any = {
    val tokens = input.asInstanceOf[UTF8String].toString
      .split("\\s+").filter(_.nonEmpty)
    if (tokens.length < 2) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](tokens.length - 1)
    var i = 0
    while (i < tokens.length - 1) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        UTF8String.fromString(tokens(i)), UTF8String.fromString(tokens(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native one-pass 60-bit SimHash → 4×15-bit chunks.
  *
  * The composable form runs 60 interpreted `aggregate` HOFs over the
  * token-hash array per row; this expression tokenizes, hashes each
  * token ONCE (md5 family: first 15 hex nibbles of a real MD5 —
  * bit-identical to `md5()`+hex-parse and the DuckDB oracle; xx family:
  * Spark's own XXH64 with the same seed/pmod as `xxhash64`), accumulates
  * the 60 signed bit counts, and packs the chunks — one tight loop.
  */
case class SimhashChunksExpr(child: Expression, useMd5: Boolean)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"simhash_chunks needs a string input, got ${child.dataType.simpleString}")

  private def hash60(token: String): Long =
    if (useMd5) {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(token.getBytes("UTF-8"))
      // first 15 hex nibbles == ('0x'||substr(md5(t),1,15))::BIGINT
      var v = 0L
      var k = 0
      while (k < 15) {
        val nib =
          if (k % 2 == 0) (d(k / 2) >> 4) & 0xF else d(k / 2) & 0xF
        v = (v << 4) | nib
        k += 1
      }
      v
    } else {
      val u = UTF8String.fromString(token)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
      val m = 1L << 60
      ((h % m) + m) % m // pmod, same as the composable xx path
    }

  override def nullSafeEval(input: Any): Any = {
    val counts = new Array[Int](60)
    for (t <- input.asInstanceOf[UTF8String].toString
        .split("\\s+").iterator.filter(_.nonEmpty)) {
      val h = hash60(t)
      var b = 0
      while (b < 60) {
        counts(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
    }
    val chunks = new Array[Any](4)
    var c = 0
    while (c < 4) {
      var v = 0
      var r = 0
      while (r < 15) {
        if (counts(c * 15 + r) > 0) v |= 1 << r
        r += 1
      }
      chunks(c) = v
      c += 1
    }
    new GenericArrayData(chunks)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native one-pass MinHash signature over a shingle array.
  *
  * The composable form walks 17 interpreted higher-order functions per
  * row (`transform(sh, hashPair)` plus 16 `array_min(transform(...))`)
  * and allocates the intermediate hash-pair struct array; this
  * expression digests each shingle ONCE and folds all `numHashes`
  * Kirsch-Mitzenmacher minima (h1 + j·h2) in a single tight loop.
  *
  * Hash families are bit-identical to the composable spec (and, for
  * md5, to the DuckDB oracle):
  *  - md5: h1 = first 14 hex nibbles of md5(s) (= digest bytes 0–6
  *    big-endian), h2 = nibbles 15–28 (= bytes 7–13) — exactly
  *    `('0x'||substr(md5(s),1,14))::BIGINT` / `substr(...,15,14)`.
  *  - xx: h1 = pmod(xxhash64(1L, s), 2^56), h2 = pmod(xxhash64(2L, s),
  *    2^56): Spark's multi-arg xxhash64 seeds with 42, hashes the long
  *    prefix, then the string with the result as seed; pmod by a power
  *    of two is a mask.
  *
  * An empty shingle array yields all-null elements, mirroring
  * `array_min` over an empty transform; NULL elements are skipped,
  * mirroring `array_min` skipping the null the HOF's `transform` maps
  * them to (an all-null input thus also yields all-null elements).
  * CodegenFallback is deliberate (see [[WordShingles]]): one virtual
  * call per ROW, plain-JVM loop inside — versus per-ELEMENT interpreted
  * lambda dispatch in the HOF form.
  */
case class MinhashSignatureExpr(child: Expression, numHashes: Int, useMd5: Boolean)
  extends UnaryExpression with CodegenFallback {

  require(numHashes >= 1)
  // h1 + (numHashes-1)·h2 over 56-bit halves must stay under 2^63
  require(numHashes <= 64, s"numHashes=$numHashes would overflow h1 + j*h2")

  override def prettyName: String = "minhash_signature"

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature needs array<string>, got ${other.simpleString}")
  }

  // MessageDigest is stateful and not thread-safe; expression instances
  // are shared across local-mode task threads
  @transient private lazy val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  private val Mask56 = (1L << 56) - 1

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var seen = false
    val md = if (useMd5) md5Local.get() else null
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) { // skip null elements, like array_min
        seen = true
        val s = arr.getUTF8String(i)
        var h1 = 0L
        var h2 = 0L
        if (useMd5) {
          val d = md.digest(s.getBytes)
          var k = 0
          while (k < 7) { h1 = (h1 << 8) | (d(k) & 0xFFL); k += 1 }
          while (k < 14) { h2 = (h2 << 8) | (d(k) & 0xFFL); k += 1 }
        } else {
          import org.apache.spark.sql.catalyst.expressions.XXH64
          // the composable spec writes xxhash64(lit(1), s): lit(1) is an
          // INT, which Spark hashes via hashInt before chaining the string
          val s1 = XXH64.hashInt(1, 42L)
          val s2 = XXH64.hashInt(2, 42L)
          h1 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, s1) & Mask56
          h2 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, s2) & Mask56
        }
        var j = 0
        var v = h1
        while (j < numHashes) {
          if (v < mins(j)) mins(j) = v
          v += h2
          j += 1
        }
      }
      i += 1
    }
    // no non-null shingles → all-null signature, mirroring array_min
    // over an empty/all-null transform
    if (!seen) return new GenericArrayData(new Array[Any](numHashes))
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): hash
  * every character k-gram with a polynomial rolling hash, then keep the
  * minimum of each w-window of consecutive k-gram hashes — the standard
  * near-dup/plagiarism fingerprint whose selected hashes are stable
  * under insertion/deletion outside the window.
  *
  * Codepoint-based so positions match the oracle's character semantics;
  * arithmetic is (h·31 + c) mod 1e9+7 over longs, bit-identical in
  * DuckDB. Direct O(n·k) per row (k is small); a production variant
  * would use the O(n) rolling update — same outputs.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
  extends UnaryExpression with CodegenFallback {

  private val Mod = 1000000007L
  private val Base = 31L

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints needs a string input, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any = {
    val cps = input.asInstanceOf[UTF8String].toString.codePoints().toArray
    val nk = cps.length - k + 1
    val kh: Array[Long] =
      if (nk < 1) {
        var h = 0L
        cps.foreach(c => h = (h * Base + c) % Mod)
        Array(h)
      } else Array.tabulate(nk) { i =>
        var h = 0L
        var j = 0
        while (j < k) { h = (h * Base + cps(i + j)) % Mod; j += 1 }
        h
      }
    val minima = new java.util.TreeSet[java.lang.Long]()
    if (kh.length < w) minima.add(kh.min)
    else {
      var i = 0
      while (i <= kh.length - w) {
        var m = kh(i)
        var j = 1
        while (j < w) { if (kh(i + j) < m) m = kh(i + j); j += 1 }
        minima.add(m)
        i += 1
      }
    }
    // TreeSet gives distinct + sorted, matching the oracle's
    // list_sort(list_distinct(...))
    val arr = new Array[Any](minima.size)
    val it = minima.iterator()
    var idx = 0
    while (it.hasNext) { arr(idx) = it.next().longValue(); idx += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shingle array → sorted distinct 60-bit hash set, one pass.
  *
  * The composable form (`array_sort(array_distinct(transform(sh, s ->
  * hash60(s))))`) pays interpreted lambda dispatch per ELEMENT plus two
  * more array walks; this digests each shingle once in a plain-JVM
  * loop, sorts, and dedupes in place. Hash families are bit-identical
  * to the composable spec (and, for md5, to the DuckDB oracle's
  * `('0x'||substr(md5(s),1,15))::BIGINT`): md5 = first 15 hex nibbles
  * of a real MD5; xx = pmod(xxhash64(s), 2^60) with Spark's default
  * seed. This is the set-build stage of the exact similarity join —
  * the output feeds [[SortedIntersectSize]] directly. Null elements
  * carry no shingle and are skipped (the output is a set of real
  * shingle hashes, never null — `containsNull = false` holds for any
  * input).
  */
case class HashedShingleSet(child: Expression, useMd5: Boolean)
  extends UnaryExpression with CodegenFallback {

  override def prettyName: String = "hashed_shingle_set"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hashed_shingle_set needs array<string>, got ${other.simpleString}")
  }

  @transient private lazy val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    val hs = new Array[Long](n)
    val md = if (useMd5) md5Local.get() else null
    var i = 0
    var m = 0 // null elements carry no shingle — skipped, not hashed
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        hs(m) =
          if (useMd5) {
            val d = md.digest(s.getBytes)
            // first 15 hex nibbles == ('0x'||substr(md5(s),1,15))::BIGINT
            var v = 0L
            var k = 0
            while (k < 15) {
              v = (v << 4) | (if (k % 2 == 0) (d(k / 2) >> 4) & 0xFL
                              else d(k / 2) & 0xFL)
              k += 1
            }
            v
          } else {
            import org.apache.spark.sql.catalyst.expressions.XXH64
            val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
              s.numBytes, 42L)
            val mod = 1L << 60
            ((h % mod) + mod) % mod // pmod, same as the composable xx path
          }
        m += 1
      }
      i += 1
    }
    java.util.Arrays.sort(hs, 0, m)
    // dedupe in place (sorted): only differs from m on a 60-bit collision
    var w = 0
    var r = 0
    while (r < m) {
      if (w == 0 || hs(r) != hs(w - 1)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    val out = new Array[Any](w)
    var k = 0
    while (k < w) { out(k) = hs(k); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Intersection size of two arrays that are SORTED ascending (what
  * `array_sort` produces) — a linear two-pointer merge instead of
  * `size(array_intersect(a, b))`'s per-call hash-set build. Supports
  * array<string> (binary UTF8 order) and array<long>.
  *
  * This is the verify kernel of the exact similarity join
  * ([[graft.operators.Dedup.ngramJaccardPairs]]): every surviving
  * candidate pair pays one intersection over ~|doc| shingle hashes, and
  * at corpus scale the per-pair hash-set allocation + rehash dominates
  * the whole query. The merge does zero allocation and stays inside
  * whole-stage codegen. Inputs MUST be sorted and duplicate-free;
  * unsorted input silently undercounts, so the operator sorts at
  * set-build time, never per pair.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = IntegerType

  private def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  // a null long element would read as 0 and count as a member, so long
  // arrays must be declared non-null; a null string element fails
  // loudly on compare instead of miscounting
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "sorted_intersect_size needs two array<string> or two array<long> " +
          "inputs, the longs declared containsNull = false, got " +
          s"${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    val strings = elemType == StringType
    var i = 0
    var j = 0
    var n = 0
    while (i < nx && j < ny) {
      val c =
        if (strings) x.getUTF8String(i).compareTo(y.getUTF8String(j))
        else java.lang.Long.compare(x.getLong(i), y.getLong(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("siNx")
      val ny = ctx.freshName("siNy")
      val i = ctx.freshName("siI")
      val j = ctx.freshName("siJ")
      val n = ctx.freshName("siN")
      val c = ctx.freshName("siC")
      val cmp =
        if (elemType == StringType)
          s"$a.getUTF8String($i).compareTo($b.getUTF8String($j))"
        else s"java.lang.Long.compare($a.getLong($i), $b.getLong($j))"
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |int $i = 0, $j = 0, $n = 0;
         |while ($i < $nx && $j < $ny) {
         |  int $c = $cmp;
         |  if ($c == 0) { $n++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $n;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection ELEMENTS of two array<long> columns that are SORTED
  * ascending and duplicate-free — [[SortedIntersectSize]]'s sibling for
  * callers that need the members, not the count (the triangle census
  * credits each closing third corner: [[graft.operators.Triangles]]).
  * Output order is ascending, which equals `array_intersect`'s
  * first-array order under the sorted-set precondition, so swapping it
  * in changes no result. One linear two-pointer merge per call instead
  * of array_intersect's per-call hash-set build + probe — the r20
  * profile put gr4's whole cost in that one codegen'd intersect stage
  * (guide §4: cheapen the per-row kernel once the shape is right).
  * Inputs MUST be sorted and duplicate-free; the operator sorts at
  * set-build time, never per pair.
  */
case class SortedLongIntersect(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def prettyName: String = "sorted_long_intersect"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // a null element would read as 0 and could surface as a member
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, false), ArrayType(LongType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "sorted_long_intersect needs two array<long> inputs declared " +
          s"containsNull = false, got ${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    val buf = new Array[Long](math.min(nx, ny))
    var i = 0
    var j = 0
    var n = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { buf(n) = xv; n += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    val out = new Array[Any](n)
    var k = 0
    while (k < n) { out(k) = buf(k); k += 1 }
    new GenericArrayData(out)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("sliNx")
      val ny = ctx.freshName("sliNy")
      val i = ctx.freshName("sliI")
      val j = ctx.freshName("sliJ")
      val n = ctx.freshName("sliN")
      val xv = ctx.freshName("sliXv")
      val yv = ctx.freshName("sliYv")
      val buf = ctx.freshName("sliBuf")
      s"""
         |int $nx = $a.numElements();
         |int $ny = $b.numElements();
         |long[] $buf = new long[java.lang.Math.min($nx, $ny)];
         |int $i = 0, $j = 0, $n = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $buf[$n++] = $xv; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.util.ArrayData
         |  .toArrayData(java.util.Arrays.copyOf($buf, $n));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object TextExpressions {
  def wordShingles(c: Column, n: Int): Column =
    GraftColumnBridge.column(WordShingles(GraftColumnBridge.expression(c), n))

  def adjacentPairs(c: Column): Column =
    GraftColumnBridge.column(AdjacentPairs(GraftColumnBridge.expression(c)))

  def winnowFingerprints(c: Column, k: Int, w: Int): Column =
    GraftColumnBridge.column(
      WinnowFingerprints(GraftColumnBridge.expression(c), k, w))

  def simhashChunks(c: Column, useMd5: Boolean): Column =
    GraftColumnBridge.column(
      SimhashChunksExpr(GraftColumnBridge.expression(c), useMd5))

  def minhashSignature(c: Column, numHashes: Int, useMd5: Boolean): Column =
    GraftColumnBridge.column(
      MinhashSignatureExpr(GraftColumnBridge.expression(c), numHashes, useMd5))

  def sortedIntersectSize(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedIntersectSize(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def sortedLongIntersect(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedLongIntersect(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def hashedShingleSet(sh: Column, useMd5: Boolean): Column =
    GraftColumnBridge.column(
      HashedShingleSet(GraftColumnBridge.expression(sh), useMd5))
}
