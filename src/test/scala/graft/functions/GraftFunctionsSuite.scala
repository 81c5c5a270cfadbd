package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraftFunctionsSuite extends SparkSpec {
  import spark.implicits._

  test("registered SQL functions match their Column-API twins") {
    GraftFunctions.register(spark)
    val df = Seq(
      ("the quick brown fox", Seq("the", "quick", "brown", "fox")),
      ("a b", Seq("a", "b")),
      ("", Seq.empty[String]))
      .toDF("text", "toks")
    df.createOrReplaceTempView("gf_in")
    // shingle hashes + simhash + minhash through SQL ≡ Column API
    val sql = spark.sql(
      """SELECT
        |  graft_shingle_md5_hash64(toks, 2) AS sh,
        |  graft_simhash64(graft_token_md5_hash64(toks)) AS sim,
        |  graft_top_shingle_freq(toks, 2) AS tf,
        |  graft_minhash_signature(graft_shingle_md5_hash64(toks, 2),
        |    8, 42) AS sig
        |FROM gf_in""".stripMargin).collect()
    val api = df.select(
      ShingleMd5Hash64Expr.shingle_md5_hash64(col("toks"), 2,
        distinct = true).as("sh"),
      graft.functions.SimHash64Expr.simhash64(
        TokenMd5Hash64Expr.token_md5_hash64(col("toks"))).as("sim"),
      TopShingleFreqExpr.top_shingle_freq(col("toks"), 2).as("tf"),
      MinHashSignatureExpr.minhash_signature(
        ShingleMd5Hash64Expr.shingle_md5_hash64(col("toks"), 2,
          distinct = true), 8, 42L).as("sig")).collect()
    assert(sql.map(_.toString).toSeq == api.map(_.toString).toSeq)
    // jaccard + the two tokenizer encodes
    val enc = spark.sql(
      """SELECT
        |  graft_sorted_jaccard(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j,
        |  graft_wordpiece_encode('unaffable',
        |    array('un', '##aff', '##able')) AS wp,
        |  graft_wordpiece_encode('zzz', array('a'), '<unk>') AS wpu,
        |  graft_bpe_encode('aaa', array('a'), array('a')) AS bpe
        |""".stripMargin).head()
    assert(enc.getDouble(0) == 0.5)
    assert(enc.getSeq[String](1) == Seq("un", "##aff", "##able"))
    assert(enc.getSeq[String](2) == Seq("<unk>"))
    assert(enc.getSeq[String](3) == Seq("aa", "a", graft.llm.Bpe.EndOfWord))
    // structural params must be literals — loud analysis failure
    val err = intercept[Exception] {
      spark.sql("SELECT graft_top_shingle_freq(toks, size(toks)) " +
        "FROM gf_in").collect()
    }
    assert(err.getMessage.contains("must be a literal"),
      err.getMessage.take(300))
    // composed cleaning operators through the same registry: NFC, the
    // cleaning pass, the dedup fingerprint — each must equal its
    // Column-API twin exactly
    // the decomposed form rides as a direct string literal (Spark's
    // chr() is mod-256 ASCII, not a codepoint constructor)
    val comp = spark.sql(
      s"""SELECT graft_nfc_normalize('café') AS nfc,
        |  graft_normalize_text('  a​b  c ') AS nt,
        |  graft_fingerprint(' The   QUICK fox ') AS fp
        |""".stripMargin).head()
    assert(comp.getString(0) == "café")
    assert(comp.getString(1) == spark.range(1).select(
      graft.llm.TextAnalysis.normalizeText(lit("  a​b  c ")))
      .head().getString(0))
    assert(comp.getString(1) == "a b c")
    assert(comp.getString(2) == spark.range(1).select(
      graft.llm.TextAnalysis.fingerprint(lit(" The   QUICK fox ")))
      .head().getString(0))
    // graft_winnow ≡ TextAnalysis.winnowFingerprints — the hand-built
    // lambda tree (defaults, explicit (k, w), short text → one global
    // min, empty text → empty array, NULL → NULL-or-empty parity)
    val winDf = Seq(
      "the quick brown fox jumps over the lazy dog the quick brown cat",
      "tiny text here",          // fewer shingles than w
      "one two three four",      // exactly one shingle at k=4
      "ab",                      // one token, no 4-shingle
      "").toDF("text")
    winDf.createOrReplaceTempView("gf_win")
    Seq("graft_winnow(text)" -> ((c: org.apache.spark.sql.Column) =>
        graft.llm.TextAnalysis.winnowFingerprints(c)),
      "graft_winnow(text, 2, 3)" -> ((c: org.apache.spark.sql.Column) =>
        graft.llm.TextAnalysis.winnowFingerprints(c, k = 2, w = 3)))
      .foreach { case (sqlExpr, apiFn) =>
        val viaSql = spark.sql(
          s"SELECT $sqlExpr AS fp FROM gf_win").collect()
        val viaApi = winDf.select(apiFn(col("text")).as("fp")).collect()
        assert(viaSql.map(_.toString).toSeq ==
          viaApi.map(_.toString).toSeq, sqlExpr)
        // sanity: the long text actually selects a non-trivial set
        assert(viaSql.head.getSeq[Long](0).nonEmpty, sqlExpr)
      }
    // structural params stay literal-only here too
    val winErr = intercept[Exception] {
      spark.sql("SELECT graft_winnow(text, length(text)) FROM gf_win")
        .collect()
    }
    assert(winErr.getMessage.contains("must be a literal"),
      winErr.getMessage.take(300))
    // out-of-int-range structural parameters fail loudly instead of
    // silently truncating ((4294967298L).toInt == 2)
    val range = intercept[Exception] {
      spark.sql("SELECT graft_shingle_md5_hash64(array('a'), 4294967298)")
        .collect()
    }
    assert(range.getMessage.contains("out of the int range"),
      range.getMessage.take(300))
    // layout keys: SQL ≡ Column-API twins (Layout.hilbertValue /
    // Layout.zValue), default and explicit bits
    val pts = Seq((3L, 5L), (0L, 0L), (65535L, 65535L), (70000L, -1L))
      .toDF("x", "y")
    pts.createOrReplaceTempView("gf_pts")
    val laySql = spark.sql(
      """SELECT graft_hilbert_index(x, y) AS h16,
        |  graft_hilbert_index(x, y, 10) AS h10,
        |  graft_zvalue(x, y) AS z16,
        |  graft_zvalue(x, y, 10) AS z10
        |FROM gf_pts""".stripMargin).collect()
    val layApi = pts.select(
      graft.operators.Layout.hilbertValue(col("x"), col("y")).as("h16"),
      graft.operators.Layout.hilbertValue(col("x"), col("y"), 10)
        .as("h10"),
      graft.operators.Layout.zValue(col("x"), col("y")).as("z16"),
      graft.operators.Layout.zValue(col("x"), col("y"), 10).as("z10"))
      .collect()
    assert(laySql.map(_.toString).toSeq == layApi.map(_.toString).toSeq)
  }

  test("layout keys: a NULL axis gives a NULL key; DECIMAL is " +
      "rejected by name, even at scale 0") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_zvalue(NULL, 3), graft_hilbert_index(NULL, 3),
        |  graft_zvalue(3, NULL, 10), graft_hilbert_index(3, NULL, 10)
        |""".stripMargin).head()
    assert((0 until 4).forall(r.isNullAt), r)
    Seq("graft_zvalue", "graft_hilbert_index").foreach { f =>
      val err = intercept[Exception] {
        spark.sql(s"SELECT $f(CAST(3 AS DECIMAL(10,0)), 1)").collect()
      }
      assert(err.getMessage.contains("DECIMAL is rejected"),
        err.getMessage.take(300))
    }
  }

  test("simhash64 and minhash_signature reject array<int> and string " +
      "inputs at analysis, naming the function") {
    GraftFunctions.register(spark)
    val df = spark.range(4).select(col("id"),
      array(col("id").cast("int"), (col("id") + 1).cast("int"), lit(7))
        .as("ai"),
      array(col("id"), col("id") + 1, lit(7L)).as("al"),
      col("id").cast("string").as("s"))
    df.createOrReplaceTempView("gf_types")
    // array<bigint> results are unchanged
    val ok = spark.sql(
      """SELECT graft_simhash64(al) AS sim,
        |  graft_minhash_signature(al, 2, 1L) AS sig
        |FROM gf_types ORDER BY id""".stripMargin).collect()
    assert(ok.map(_.getLong(0)).toSeq == Seq(1L, 3L, 3L, 7L))
    val ref = df.orderBy("id")
      .select(graft.llm.Dedup.minhashSignature(col("al"), 2, 1L))
      .collect().map(_.getSeq[Long](0))
    assert(ok.map(_.getSeq[Long](1)).toSeq == ref.toSeq)
    def rejected(name: String, arg: String)(run: => Any): Unit = {
      val err = intercept[org.apache.spark.sql.AnalysisException](run)
      assert(err.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
        err.getMessage.take(300))
      assert(err.getMessage.contains(s"$name($arg)") &&
        err.getMessage.contains("\"ARRAY<BIGINT>\""),
        err.getMessage.take(300))
    }
    Seq("ai", "s").foreach { c =>
      rejected("simhash64", c) {
        spark.sql(s"SELECT graft_simhash64($c) FROM gf_types")
      }
      rejected("minhash_signature", c) {
        spark.sql(s"SELECT graft_minhash_signature($c, 2, 1L) FROM gf_types")
      }
      // the same check through the Column API
      rejected("simhash64", c) {
        df.select(SimHash64Expr.simhash64(col(c)))
      }
      rejected("minhash_signature", c) {
        df.select(MinHashSignatureExpr.minhash_signature(col(c), 2, 1L))
      }
    }
  }

  test("GraftExtensions injects the functions (static-conf route)") {
    val orig = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.plans.GraftExtensions())
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
      assert(s2 ne orig)
      val out = s2.sql(
        "SELECT graft_simhash64(graft_token_md5_hash64(array('a', 'b')))")
        .head().getLong(0)
      val viaApi = s2.range(1).select(
        graft.functions.SimHash64Expr.simhash64(
          TokenMd5Hash64Expr.token_md5_hash64(
            array(lit("a"), lit("b"))))).head().getLong(0)
      assert(out == viaApi)
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }
}
