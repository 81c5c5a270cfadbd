package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** SQL-callable registration of the library's native expressions —
  * the surface a SQL-first user (or a BI tool generating SQL) needs:
  * every reusable scalar expression under a `graft_`-prefixed name,
  * via the SAME (identifier, info, builder) triples for both wiring
  * paths: [[graft.plans.GraftExtensions]]'s `injectFunction` (the
  * `spark.sql.extensions` static-conf route) and [[register]] (a live
  * session's function registry — tests, notebooks).
  *
  * Structural parameters (shingle width, signature length, vocab
  * lists) must be FOLDABLE expressions: they are evaluated once at
  * resolution into the expression's constructor (the codegen'd
  * per-row path never re-reads them). Non-foldable arguments fail
  * analysis loudly. */
object GraftFunctions {

  private def foldArg(fn: String, what: String, e: Expression): Any = {
    require(e.foldable,
      s"$fn: $what must be a literal, got non-foldable ${e.sql}")
    val v = e.eval()
    require(v != null, s"$fn: $what must not be NULL")
    v
  }

  private def intArg(fn: String, what: String, e: Expression): Int =
    foldArg(fn, what, e) match {
      case i: Int => i
      case l: Long =>
        // loud, not a silent truncation (review finding)
        require(l.isValidInt,
          s"$fn: $what = $l is out of the int range")
        l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $other")
    }

  private def longArg(fn: String, what: String, e: Expression): Long =
    foldArg(fn, what, e) match {
      case i: Int => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an integer literal, got $other")
    }

  private def boolArg(fn: String, what: String, e: Expression): Boolean =
    foldArg(fn, what, e) match {
      case b: Boolean => b
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a boolean literal, got $other")
    }

  private def stringArg(fn: String, what: String, e: Expression): String =
    foldArg(fn, what, e) match {
      case s: UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be a string literal, got $other")
    }

  private def stringSeqArg(fn: String, what: String,
      e: Expression): Seq[String] =
    foldArg(fn, what, e) match {
      case a: org.apache.spark.sql.catalyst.util.ArrayData =>
        (0 until a.numElements()).map { i =>
          require(!a.isNullAt(i), s"$fn: $what must not contain NULLs")
          a.getUTF8String(i).toString
        }
      case other => throw new IllegalArgumentException(
        s"$fn: $what must be an array<string> literal, got $other")
    }

  private def badArity(fn: String, usage: String, got: Seq[Expression])
      : Nothing =
    throw new IllegalArgumentException(
      s"$fn expects $usage, got ${got.length} argument(s)")

  private def fn(name: String, usage: String)(
      builder: PartialFunction[Seq[Expression], Expression])
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo(GraftFunctions.getClass.getName, name),
      args => builder.applyOrElse(args,
        (a: Seq[Expression]) => badArity(name, usage, a)))

  /** The full registration list — one source of truth for both the
    * extensions injection and [[register]]. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    fn("graft_token_md5_hash64", "(tokens array<string>)") {
      case Seq(c) => TokenMd5Hash64Expr(c)
    },
    fn("graft_shingle_md5_hash64",
        "(tokens array<string>, n int[, distinct boolean])") {
      case Seq(c, n) =>
        ShingleMd5Hash64Expr(c, intArg("graft_shingle_md5_hash64", "n", n),
          distinct = true)
      case Seq(c, n, d) =>
        ShingleMd5Hash64Expr(c, intArg("graft_shingle_md5_hash64", "n", n),
          boolArg("graft_shingle_md5_hash64", "distinct", d))
    },
    fn("graft_hashed_shingles", "(tokens array<string>, n int)") {
      case Seq(c, n) =>
        HashedShinglesExpr(c, intArg("graft_hashed_shingles", "n", n))
    },
    fn("graft_simhash64", "(hashes array<bigint>)") {
      case Seq(c) => SimHash64Expr(c)
    },
    fn("graft_nfc_normalize", "(s string)") {
      case Seq(c) => NfcNormalizeExpr(c)
    },
    // composed cleaning operators as DIRECT catalyst trees — a Column
    // built from org.apache.spark.sql.functions is a Spark-4 column
    // NODE whose nested functions stay unresolved inside the
    // registry's expression slot (measured: INTERNAL_ERROR at
    // codegen), so these mirror TextAnalysis.normalizeText /
    // .fingerprint with catalyst classes (same expressions the
    // Column forms resolve to; parity suite-pinned). The winnowing
    // HOF chain stays Column-API-only (its lambda tree is not worth
    // hand-building).
    fn("graft_normalize_text", "(s string)") {
      case Seq(c) =>
        import org.apache.spark.sql.catalyst.expressions.{Literal => L, _}
        StringTrim(RegExpReplace(
          RegExpReplace(NfcNormalizeExpr(c),
            L("[\\p{Cc}\\p{Cf}]"), L(" ")),
          L("\\s+"), L(" ")))
    },
    fn("graft_fingerprint", "(s string)") {
      case Seq(c) =>
        import org.apache.spark.sql.catalyst.expressions.{Literal => L, _}
        Md5(Lower(StringTrim(RegExpReplace(c, L("\\s+"), L(" ")))))
    },
    fn("graft_winnow", "(s string[, k int[, w int]])") {
      case Seq(s) => winnowTree(s, 4, 4)
      case Seq(s, k) =>
        winnowTree(s, intArg("graft_winnow", "k", k), 4)
      case Seq(s, k, w) =>
        winnowTree(s, intArg("graft_winnow", "k", k),
          intArg("graft_winnow", "w", w))
    },
    fn("graft_top_shingle_freq", "(tokens array<string>, n int)") {
      case Seq(c, n) =>
        TopShingleFreqExpr(c, intArg("graft_top_shingle_freq", "n", n))
    },
    fn("graft_minhash_signature",
        "(hashes array<bigint>, k int, seed bigint)") {
      case Seq(c, k, seed) =>
        MinHashSignatureExpr(c,
          intArg("graft_minhash_signature", "k", k),
          longArg("graft_minhash_signature", "seed", seed))
    },
    fn("graft_sorted_jaccard",
        "(a array<bigint> sorted-distinct, b array<bigint> sorted-distinct)") {
      case Seq(a, b) => SortedJaccardExpr(a, b)
    },
    fn("graft_wordpiece_encode",
        "(word string, vocab array<string>[, unk string])") {
      case Seq(w, v) =>
        WordPieceEncodeExpr(w,
          stringSeqArg("graft_wordpiece_encode", "vocab", v), "[UNK]")
      case Seq(w, v, u) =>
        WordPieceEncodeExpr(w,
          stringSeqArg("graft_wordpiece_encode", "vocab", v),
          stringArg("graft_wordpiece_encode", "unk", u))
    },
    fn("graft_bpe_encode",
        "(word string, lefts array<string>, rights array<string> — " +
          "parallel merge-rank arrays)") {
      case Seq(w, ls, rs) =>
        val l = stringSeqArg("graft_bpe_encode", "lefts", ls)
        val r = stringSeqArg("graft_bpe_encode", "rights", rs)
        require(l.length == r.length,
          s"graft_bpe_encode: lefts (${l.length}) and rights " +
            s"(${r.length}) must be parallel arrays")
        BpeEncodeExpr(w, l.zip(r))
    },
    // the layout keys (graft.operators.Layout) — Hilbert is already a
    // native expression; the Morton interleave is the zValue Column
    // fold rebuilt with catalyst nodes (same no-Column-trees rule)
    // children widened to LongType like zValueTree's fold (ADVICE r14:
    // HilbertIndexExpr requires exact LongType inputs, so INT literals
    // or columns failed type-check where the sibling graft_zvalue
    // accepted them — the paired layout functions take the same args).
    // The implicit cast is INTEGRAL-only (ADVICE r15): a DOUBLE or
    // fractional DECIMAL would be silently truncated toward zero under
    // non-ANSI Cast, yielding a plausible but wrong layout key — those
    // still error loudly, on both paired functions.
    fn("graft_hilbert_index", "(x bigint, y bigint[, bits int])") {
      case Seq(x, y) =>
        HilbertIndexExpr(longAxis("graft_hilbert_index", "x", x),
          longAxis("graft_hilbert_index", "y", y), 16)
      case Seq(x, y, b) =>
        HilbertIndexExpr(longAxis("graft_hilbert_index", "x", x),
          longAxis("graft_hilbert_index", "y", y),
          intArg("graft_hilbert_index", "bits", b))
    },
    fn("graft_zvalue", "(x bigint, y bigint[, bits int])") {
      case Seq(x, y) => zValueTree(x, y, 16)
      case Seq(x, y, b) =>
        zValueTree(x, y, intArg("graft_zvalue", "bits", b))
    })

  /** Widen an integral layout axis to LongType; an untyped NULL
    * becomes a BIGINT null (so the key is NULL, like any NULL axis).
    * Every other type — DECIMAL included, even at scale 0 — is
    * rejected loudly instead of letting a non-ANSI Cast truncate it
    * into a plausible-but-wrong key (ADVICE r15). */
  private def longAxis(fname: String, what: String, e: Expression)
      : Expression = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, NullType,
      ShortType}
    e.dataType match {
      case LongType => e
      case ByteType | ShortType | IntegerType | NullType =>
        Cast(e, LongType)
      case dt => throw new IllegalArgumentException(
        s"$fname: $what must be an integral type (TINYINT/SMALLINT/" +
          s"INT/BIGINT) or NULL, got ${dt.sql} — DECIMAL is rejected " +
          "even at scale 0 and a fractional value would be silently " +
          "truncated into a wrong layout key; cast explicitly")
    }
  }

  /** [[graft.operators.Layout.zValue]]'s interleave as a catalyst
    * tree: bit i of x at position 2i, bit i of y at 2i+1 — the same
    * shiftleft/shiftright/and/or fold the Column form resolves to
    * (parity suite-pinned). */
  private def zValueTree(x: Expression, y: Expression, bits: Int)
      : Expression = {
    require(bits >= 1 && bits <= 31,
      s"graft_zvalue: bits out of range: $bits")
    import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd,
      BitwiseOr, Literal, ShiftLeft, ShiftRight}
    import org.apache.spark.sql.types.LongType
    val xl = longAxis("graft_zvalue", "x", x)
    val yl = longAxis("graft_zvalue", "y", y)
    val one = Literal(1L)
    (0 until bits).map { i =>
      BitwiseOr(
        ShiftLeft(BitwiseAnd(ShiftRight(xl, Literal(i)), one),
          Literal(2 * i)),
        ShiftLeft(BitwiseAnd(ShiftRight(yl, Literal(i)), one),
          Literal(2 * i + 1)))
    }.reduce[Expression]((a, b) => BitwiseOr(a, b))
  }

  /** [[graft.llm.TextAnalysis.winnowFingerprints]] as a hand-built
    * catalyst tree — the one text-pipeline primitive the round-13
    * SQL surface was missing (its HOF lambdas are why: a builder
    * cannot return Column trees, so the lambdas are built DIRECTLY
    * with resolved [[NamedLambdaVariable]]s — no unresolved nodes,
    * nothing for the analyzer's lambda-binding pass to miss). Mirrors
    * the Column form node-for-node, including the bindOnce pin of the
    * positional hash array (`element_at(transform(array(h0), h =>
    * body), 1)` — CollapseProject re-inlines aliases, SCALE.md
    * lesson 1); parity is suite-pinned in GraftFunctionsSuite. */
  private def winnowTree(s: Expression, k: Int, w: Int): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => L, _}
    import org.apache.spark.sql.types._
    require(k >= 1, s"graft_winnow: k=$k must be >= 1")
    require(w >= 1, s"graft_winnow: w=$w must be >= 1")
    val toks = RegExpExtractAll(Lower(s), L("[a-z0-9]+"), L(0))
    val h0 = ShingleMd5Hash64Expr(toks, k, distinct = false)
    val h = NamedLambdaVariable("h",
      ArrayType(LongType, containsNull = false), nullable = true)
    val i = NamedLambdaVariable("i", IntegerType, nullable = false)
    val perWindowMin = ArrayTransform(
      new Sequence(L(0), Subtract(Size(h), L(w))),
      LambdaFunction(
        ArrayMin(Slice(h, Add(i, L(1)), L(w))), Seq(i)))
    val body = CaseWhen(
      Seq(
        (GreaterThanOrEqual(Size(h), L(w)), ArrayDistinct(perWindowMin)),
        (GreaterThan(Size(h), L(0)), CreateArray(Seq(ArrayMin(h))))),
      Some(L.create(Array.empty[Long],
        ArrayType(LongType, containsNull = false))))
    ElementAt(
      ArrayTransform(CreateArray(Seq(h0)), LambdaFunction(body, Seq(h))),
      L(1))
  }

  /** Register every function on a LIVE session's registry (the
    * non-static-conf route — notebooks, tests; `injectFunction` via
    * [[graft.plans.GraftExtensions]] covers `spark.sql.extensions`). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}
