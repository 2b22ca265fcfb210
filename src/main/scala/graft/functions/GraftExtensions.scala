package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for the library's custom Catalyst expressions.
  *
  * The operator families deliberately compose built-in operators (the
  * preference ladder: compose > custom Expression > custom plan), so
  * the library needs no custom LogicalPlan or SparkStrategy — but its
  * scalar surface (shingling, sketch signatures, vector arithmetic,
  * hex-hash slicing) lives in custom Expressions reachable only from
  * the Column API. This extension registers every one of them (eleven expressions) as a
  * first-class SQL function, so a `spark.sql(...)` user — the
  * reference's whole audience is SQL-in-YAML (transform_config
  * .yaml's expression strings) — gets the identical codegen'd
  * expressions by name.
  *
  * Production path: every session `graft.Session.build` makes
  * installs it through `withExtensions` — the standard plugin hook,
  * also reachable as `spark.sql.extensions=graft.functions.GraftExtensions`
  * on a cluster with the library jar. [[GraftExtensions.install]] registers
  * the same (name, builder) list into an ALREADY-BUILT session for
  * harness/notebook use; both paths share one definition list, so
  * they cannot drift.
  *
  * Scalar parameters (shingle width, signature length, hex slice
  * bounds) must be FOLDABLE literals: they parameterize the expression
  * tree itself (Catalyst sees `WordShingles(col, 3)`, not a 3-ary
  * runtime value), exactly like Spark's own `array_repeat` count.
  * Hash-family functions take an optional trailing BOOLEAN literal
  * `use_md5` (default false = the production XxHash mode; true = the
  * md5 oracle-parity mode the driver gate uses).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  private def lit(e: Expression, fn: String, what: String): Any = {
    require(e.foldable, s"$fn: $what must be a literal")
    val v = e.eval()
    require(v != null, s"$fn: $what must not be null")
    v
  }

  private def intLit(e: Expression, fn: String, what: String): Int =
    lit(e, fn, what) match {
      case i: Int  => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $other")
    }

  private def boolLit(e: Expression, fn: String, what: String): Boolean =
    lit(e, fn, what) match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a boolean literal, got $other")
    }

  private def arity(fn: String, args: Seq[Expression], ns: Int*): Unit =
    require(ns.contains(args.length),
      s"$fn takes ${ns.mkString(" or ")} arguments, got ${args.length}")

  type Builder = Seq[Expression] => Expression

  private def fn(name: String, clazz: Class[_], usage: String)(b: Builder)
      : (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getCanonicalName, null, name, usage, ""),
      b)

  /** The one shared definition list — both the builder-time extension
    * and [[install]] read it.
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    fn("word_shingles", classOf[WordShingles],
      "word_shingles(text, n) - distinct n-token shingles of text") { args =>
      arity("word_shingles", args, 2)
      WordShingles(args.head, intLit(args(1), "word_shingles", "n"))
    },
    fn("adjacent_pairs", classOf[AdjacentPairs],
      "adjacent_pairs(text) - bigram occurrences as array<struct<w1,w2>>") { args =>
      arity("adjacent_pairs", args, 1)
      AdjacentPairs(args.head)
    },
    fn("simhash_chunks", classOf[SimhashChunksExpr],
      "simhash_chunks(text[, use_md5]) - packed 60-bit simhash chunks") { args =>
      arity("simhash_chunks", args, 1, 2)
      SimhashChunksExpr(args.head,
        args.lift(1).exists(boolLit(_, "simhash_chunks", "use_md5")))
    },
    fn("minhash_signature", classOf[MinhashSignatureExpr],
      "minhash_signature(text, k[, use_md5]) - k-minhash signature") { args =>
      arity("minhash_signature", args, 2, 3)
      MinhashSignatureExpr(args.head,
        intLit(args(1), "minhash_signature", "k"),
        args.lift(2).exists(boolLit(_, "minhash_signature", "use_md5")))
    },
    fn("winnow_fingerprints", classOf[WinnowFingerprints],
      "winnow_fingerprints(text, k, w) - winnowed k-gram fingerprints") { args =>
      arity("winnow_fingerprints", args, 3)
      WinnowFingerprints(args.head,
        intLit(args(1), "winnow_fingerprints", "k"),
        intLit(args(2), "winnow_fingerprints", "w"))
    },
    fn("hashed_shingle_set", classOf[HashedShingleSet],
      "hashed_shingle_set(arr[, use_md5]) - sorted distinct shingle hashes") { args =>
      arity("hashed_shingle_set", args, 1, 2)
      HashedShingleSet(args.head,
        args.lift(1).exists(boolLit(_, "hashed_shingle_set", "use_md5")))
    },
    fn("sorted_intersect_size", classOf[SortedIntersectSize],
      "sorted_intersect_size(a, b) - intersection size of two sorted arrays") { args =>
      arity("sorted_intersect_size", args, 2)
      SortedIntersectSize(args.head, args(1))
    },
    fn("dot_product", classOf[DotProduct],
      "dot_product(a, b) - double dot product of two numeric arrays") { args =>
      arity("dot_product", args, 2)
      DotProduct(args.head, args(1))
    },
    fn("int_dot_product", classOf[IntDotProduct],
      "int_dot_product(a, b) - exact long dot product of two int arrays") { args =>
      arity("int_dot_product", args, 2)
      IntDotProduct(args.head, args(1))
    },
    fn("unit_vector", classOf[UnitVector],
      "unit_vector(v) - v scaled to unit L2 norm") { args =>
      arity("unit_vector", args, 1)
      UnitVector(args.head)
    },
    fn("hex_slice_to_long", classOf[HexSliceToLong],
      "hex_slice_to_long(s, from, len) - hex substring as a long") { args =>
      arity("hex_slice_to_long", args, 3)
      HexSliceToLong(args.head,
        intLit(args(1), "hex_slice_to_long", "from"),
        intLit(args(2), "hex_slice_to_long", "len"))
    })

  /** Register the same functions into an already-built session (the
    * harness path, for a session built outside `graft.Session`).
    * Idempotent: re-registration replaces the same builder.
    */
  def install(spark: SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(ident, info, builder)
    }
}
