package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Training-data pipeline operators over the `documents` and
  * `embeddings` fixtures. The fixtures contain no natural duplicates
  * (verified), so dedup queries PLANT deterministic duplicates derived
  * from the tables themselves; the oracle reproduces the planting, so
  * the check exercises the real operator logic end-to-end.
  */
object LlmQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The fixture parquet files are single-split (a few MB), so a scan
    * yields ONE task; the per-doc compute (tokenize/shingle/hash) is
    * heavy relative to row width, so we spread rows across all cores
    * first. On a real multi-TB table the scan already yields thousands
    * of splits and this repartition would be dropped — partitioning is
    * the caller's decision, not baked into the operators. */
  private def docs(s: SparkSession, dir: String) =
    Tables.load(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
  private def embs(s: SparkSession, dir: String) =
    Tables.load(s, dir, "embeddings")
      .repartition(s.sparkContext.defaultParallelism)

  /** documents ∪ exact copies of every 10th doc (new ids). */
  private def docsWithExactDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.where(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000))
  }
  private val corpusExactSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 1000000, text FROM documents
      |WHERE doc_id % 10 = 0""".stripMargin

  /** documents ∪ near-copies of every 7th doc (4 tokens appended). */
  private[graft] def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.where(col("doc_id") % 7 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000)
      .withColumn("text", concat(col("text"), lit(" graft dup probe tail"))))
  }
  private val corpusNearSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 1000000, text || ' graft dup probe tail'
      |FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** documents ∪ exact copies of every 10th doc (ids +1000000) ∪
    * near-copies of every 7th (4-token tail, ids +2000000) — the
    * fuzzy-e2e corpus: the exact stage catches only the first family
    * (the near-copies ride UNIQUE fingerprints straight through), so
    * the fuzzy stage has real, attributable work. */
  private[graft] def docsWithMixedDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.where(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000))
      .unionByName(d.where(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000)
        .withColumn("text", concat(col("text"), lit(" graft dup probe tail"))))
  }
  private val corpusMixedSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL SELECT doc_id + 1000000, text FROM documents
      |WHERE doc_id % 10 = 0
      |UNION ALL SELECT doc_id + 2000000, text || ' graft dup probe tail'
      |FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** Partial-overlap twins: for every `mod`-th doc D, a NEW doc =
    * D's first 24 canonical tokens (a verbatim PASSAGE ≥ the span
    * minTokens) + 40 unique filler tokens (`zq<id>f<i>` — collides
    * with nothing). The twin shares a long passage with D but its
    * Jaccard vs D is provably < 0.5 (common ≤ 22 prefix shingles,
    * union gains ≥ 40 filler shingles: J ≤ c/(c+40) < 0.5), so
    * minhash-threshold-0.5 dedup NEVER drops it — the doc-level
    * family's blind spot that passage-level dedup (duplicateSpans →
    * cutSpans) exists to close. Built at ARRAY level on both engines
    * (token slice ++ filler, joined by single spaces) so the raw
    * strings are byte-identical cross-engine. */
  private def splicedTwins(d: DataFrame, mod: Int, offset: Long): DataFrame =
    d.where(col("doc_id") % mod === 0)
      .withColumn("text", concat_ws(" ", concat(
        slice(TextAnalysis.tokens(col("text")), 1, 24),
        transform(sequence(lit(1), lit(40)), i =>
          concat(lit("zq"), col("doc_id").cast("string"), lit("f"),
            i.cast("string"))))))
      .withColumn("doc_id", col("doc_id") + offset)

  private def splicedTwinsSql(mod: Int, offset: Long): String =
    s"""UNION ALL SELECT doc_id + $offset,
       |  array_to_string(list_concat(
       |    regexp_extract_all(lower(text), '[a-z0-9]+')[1:24],
       |    list_transform(range(1, 41), i -> 'zq' ||
       |      CAST(doc_id AS VARCHAR) || 'f' || CAST(i AS VARCHAR))), ' ')
       |FROM documents WHERE doc_id % $mod = 0""".stripMargin

  /** The spans-e2e corpus: mixed dups (exact +1000000, near +2000000)
    * PLUS partial-overlap twins of every 9th doc (+3000000) — the
    * family only the passage-level stage can touch. */
  private[graft] def docsWithSpliceDups(s: SparkSession, dir: String): DataFrame =
    docsWithMixedDups(s, dir)
      .unionByName(splicedTwins(docs(s, dir).select("doc_id", "text"),
        9, 3000000L))

  private val corpusSpliceSql =
    corpusMixedSql + "\n" + splicedTwinsSql(9, 3000000L)

  // --- llm_exact_dedup ------------------------------------------------
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docsWithExactDups(s, dir))

  val exactDedupSql: String =
    s"""WITH corpus AS ($corpusExactSql)
       |SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))
       |    AS fingerprint,
       |  min(doc_id) AS keep_id, count(*) AS n_copies
       |FROM corpus GROUP BY 1""".stripMargin

  // --- llm_line_dedup ---------------------------------------------------
  /** Corpus with LINE structure planted for line-level dedup: every
    * doc (incl. the exact-dup copies) becomes
    * `header(source)\nbody\nfooter` — the header is shared by all
    * docs of the same source (doc_id % 20), the footer by the whole
    * corpus, and the bodies duplicate exactly where the exact-dup
    * corpus plants copies. Expected survivors are fully derivable:
    * doc 0 keeps all 3 lines; docs 1-19 lose the footer; every other
    * original loses header+footer; the +1000000 copies lose all 3. */
  private def docsWithBoilerplate(s: SparkSession, dir: String): DataFrame =
    docsWithExactDups(s, dir).select(col("doc_id"),
      concat(lit("begin shared preamble for source "),
        pmod(col("doc_id"), lit(20L)).cast("string"), lit(" end\n"),
        col("text"),
        lit("\nglobal footer boilerplate shared by every document"))
        .as("text"))

  def lineDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupLines(docsWithBoilerplate(s, dir))

  val lineDedupSql: String =
    s"""WITH base AS ($corpusExactSql),
       |corpus AS (
       |  SELECT doc_id, 'begin shared preamble for source '
       |    || CAST(doc_id % 20 AS VARCHAR) || ' end' || chr(10) || text
       |    || chr(10) || 'global footer boilerplate shared by every document'
       |    AS text
       |  FROM base),
       |ls AS (
       |  SELECT doc_id, string_split(text, chr(10)) AS arr FROM corpus),
       |lines AS (
       |  SELECT doc_id, unnest(range(0, len(arr))) AS pos,
       |    unnest(arr) AS line FROM ls),
       |fps AS (
       |  SELECT doc_id, pos, line,
       |    md5(lower(trim(regexp_replace(line, '\\s+', ' ', 'g')))) AS fp
       |  FROM lines),
       |ranked AS (
       |  SELECT doc_id, pos, line,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) AS rn
       |  FROM fps WHERE fp <> md5('')),
       |kept AS (
       |  SELECT doc_id, pos, line FROM ranked WHERE rn = 1
       |  UNION ALL
       |  SELECT doc_id, pos, line FROM fps WHERE fp = md5('')),
       |keptagg AS (
       |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
       |    count(*) AS n_kept
       |  FROM kept GROUP BY doc_id),
       |tot AS (SELECT doc_id, count(*) AS n_tot FROM fps GROUP BY doc_id)
       |SELECT t.doc_id, coalesce(k.text_dedup, '') AS text_dedup,
       |  CAST(t.n_tot - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed
       |FROM tot t LEFT JOIN keptagg k ON t.doc_id = k.doc_id""".stripMargin

  // --- llm_ngram_jaccard ----------------------------------------------
  def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docsWithNearDups(s, dir),
      threshold = 0.5, maxDf = 1000000)

  val ngramJaccardSql: String =
    s"""WITH corpus AS ($corpusNearSql),
       |tok AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
       |  FROM corpus),
       |sets AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3 THEN
       |    list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [] END) AS sh
       |  FROM tok),
       |inv AS (
       |  SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sets)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  round(count(*) / (a.sz + b.sz - count(*)), 4) AS jaccard
       |FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
       |HAVING round(count(*) / (a.sz + b.sz - count(*)), 4) >= 0.5""".stripMargin

  // --- llm_containment --------------------------------------------------
  /** Containment over the near-dup corpus: the planted tail-extended
    * copies are exact containment-1.0 pairs of their originals.
    *
    * Registered CAPPED (maxDf = 2000): containment admits no length
    * bound (size asymmetry IS the signal), so the hot-shingle cap is
    * the ONLY guard against the quadratic candidate tail — the plan
    * you'd run at 100 TB is the capped one (10× probe: 20.7 s
    * uncapped vs 8.7 s capped, SCALE.md). The cap is deterministic
    * (drop shingles with df > maxDf from the inverted index; set
    * sizes stay FULL), so the oracle models it with a df CTE. At
    * fixture scale no shingle reaches df 2000, so output is
    * unchanged; the planted pairs ride rare shingles and survive far
    * lower caps (suite-tested at maxDf = 50). */
  val containmentMaxDf = 2000

  def containment(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentPairs(docsWithNearDups(s, dir),
      threshold = 0.9, maxDf = containmentMaxDf)

  val containmentSql: String =
    s"""WITH corpus AS ($corpusNearSql),
       |tok AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
       |  FROM corpus),
       |sets AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3 THEN
       |    list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [] END) AS sh
       |  FROM tok),
       |inv AS (
       |  SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sets),
       |df AS (
       |  SELECT s, count(*) AS df FROM inv GROUP BY s),
       |capped AS (
       |  SELECT inv.doc_id, inv.sz, inv.s FROM inv
       |  JOIN df ON inv.s = df.s WHERE df.df <= $containmentMaxDf)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  round(count(*) / least(a.sz, b.sz), 4) AS containment
       |FROM capped a JOIN capped b ON a.s = b.s AND a.doc_id < b.doc_id
       |GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
       |HAVING round(count(*) / least(a.sz, b.sz), 4) >= 0.9""".stripMargin

  // --- llm_dup_spans ----------------------------------------------------
  /** Duplicate-passage spans over the near-dup corpus: every planted
    * tail-extended copy shares its ENTIRE original verbatim, so each
    * planted pair must emit a span starting at token 0 in both docs
    * covering the original's full token count (suite-pinned); the
    * md5 k-gram hashes make the whole run-detection pipeline
    * reproducible in DuckDB. */
  def dupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(docsWithNearDups(s, dir), k = 8, minTokens = 16,
      maxDf = 1000)

  /** Positional k-gram md5-long hash CTE chain over a (doc_id, text)
    * source `src`, names prefixed `p`: tokens → positional k-gram
    * strings → signed-64 md5-longs (the winnow reconstruction) →
    * `${p}pos(doc_id, p, h)`. Shared by the self-join span oracle,
    * the cross-frame span oracle, and through them every composed
    * pipeline that splices spans — ONE copy of the hash derivation. */
  private def posKgramCtes(src: String, p: String, k: Int = 8): String = {
    // single-line shingle concat: multi-line `|| w[i+4]`-style
    // continuation would be truncated by a later stripMargin pass
    val cat = (0 until k)
      .map(j => if (j == 0) "w[i]" else s"w[i+$j]")
      .mkString(" || ' ' || ")
    s"""${p}tok AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
       |  FROM $src),
       |${p}sh AS (
       |  SELECT doc_id, CASE WHEN len(w) >= $k THEN
       |    list_transform(range(1, len(w) - ${k - 2}), i -> $cat)
       |    ELSE [] END AS s
       |  FROM ${p}tok),
       |${p}h AS (
       |  SELECT doc_id, list_transform(s, x -> CAST(
       |      CAST('0x' || substring(md5(x), 1, 8) AS BIGINT)::HUGEINT
       |        * 4294967296
       |      + CAST('0x' || substring(md5(x), 9, 8) AS BIGINT)
       |      - CASE WHEN CAST('0x' || substring(md5(x), 1, 8) AS BIGINT)
       |          >= 2147483648
       |        THEN 18446744073709551616 ELSE 0 END AS BIGINT)) AS hs
       |  FROM ${p}sh),
       |${p}pos AS (
       |  SELECT doc_id, unnest(range(0, len(hs))) AS p, unnest(hs) AS h
       |  FROM ${p}h)""".stripMargin
  }

  /** Gaps-and-islands run detection over a positional-match CTE
    * `${p}m(id_a, id_b, pa, diff)` →
    * `${p}spans(id_a, id_b, a_start, b_start, n_tokens)`. */
  private def islandSpansCtes(p: String, k: Int, minTokens: Int): String =
    s"""${p}isl AS (
       |  SELECT *, pa - row_number()
       |    OVER (PARTITION BY id_a, id_b, diff ORDER BY pa) AS g
       |  FROM ${p}m),
       |${p}spans AS (
       |  SELECT id_a, id_b, CAST(min(pa) AS BIGINT) AS a_start,
       |    CAST(min(pa) - diff AS BIGINT) AS b_start,
       |    CAST(max(pa) - min(pa) + $k AS BIGINT) AS n_tokens
       |  FROM ${p}isl GROUP BY id_a, id_b, diff, g
       |  HAVING max(pa) - min(pa) + $k >= $minTokens)""".stripMargin

  /** DuckDB rebuild of [[Dedup.duplicateSpans]] over source CTE `src`,
    * names prefixed `p`: positional hashes, hot-hash df cap,
    * positional self-join, islands → `${p}spans`. ONE copy, spliced
    * by the dup_spans/cut_spans oracles and the spans e2e capstone —
    * a span-pipeline fix lands everywhere or nowhere. */
  private def dupSpansCtes(src: String, p: String, k: Int = 8,
      minTokens: Int = 16, maxDf: Int = 1000): String =
    s"""${posKgramCtes(src, p, k)},
       |${p}hdf AS (SELECT h, count(*) AS n FROM ${p}pos GROUP BY h),
       |${p}capped AS (
       |  SELECT ${p}pos.doc_id, ${p}pos.p, ${p}pos.h FROM ${p}pos
       |  JOIN ${p}hdf ON ${p}pos.h = ${p}hdf.h WHERE ${p}hdf.n <= $maxDf),
       |${p}m AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa,
       |    a.p - b.p AS diff
       |  FROM ${p}capped a JOIN ${p}capped b
       |    ON a.h = b.h AND a.doc_id < b.doc_id),
       |${islandSpansCtes(p, k, minTokens)}""".stripMargin

  /** DuckDB rebuild of [[Dedup.duplicateSpansAgainst]]: positional
    * hashes of `docsSrc` (df-capped) matched against `refSrc` (the
    * ref doc is the id_a side, no id ordering — frames may share
    * ids) → `${p}spans`. */
  private def crossSpansCtes(docsSrc: String, refSrc: String, p: String,
      k: Int = 8, minTokens: Int = 16, maxDf: Int = 1000): String =
    s"""${posKgramCtes(docsSrc, p + "d_", k)},
       |${posKgramCtes(refSrc, p + "r_", k)},
       |${p}hdf AS (SELECT h, count(*) AS n FROM ${p}d_pos GROUP BY h),
       |${p}capped AS (
       |  SELECT ${p}d_pos.doc_id, ${p}d_pos.p, ${p}d_pos.h FROM ${p}d_pos
       |  JOIN ${p}hdf ON ${p}d_pos.h = ${p}hdf.h
       |  WHERE ${p}hdf.n <= $maxDf),
       |${p}m AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.p AS pa,
       |    a.p - b.p AS diff
       |  FROM ${p}r_pos a JOIN ${p}capped b ON a.h = b.h),
       |${islandSpansCtes(p, k, minTokens)}""".stripMargin

  val dupSpansSql: String =
    s"""WITH corpus AS ($corpusNearSql),
       |${dupSpansCtes("corpus", "")}
       |SELECT id_a, id_b, a_start, b_start, n_tokens FROM spans""".stripMargin

  // --- llm_cut_spans ----------------------------------------------------
  /** The cut composed over the detected spans: planted copies lose
    * their contained original and shrink to the 4-token probe tail;
    * every other doc passes through as its token reconstruction. */
  def cutSpansQ(s: SparkSession, dir: String): DataFrame = {
    val corpus = docsWithNearDups(s, dir)
    Dedup.cutSpans(corpus,
      Dedup.duplicateSpans(corpus, k = 8, minTokens = 16, maxDf = 1000))
  }

  /** DuckDB rebuild of [[Dedup.cutSpans]] over docs CTE `docsSrc` and
    * a spans CTE `spansSrc` (id_b, b_start, n_tokens), names prefixed
    * `p`: per-doc interval merge via the running-max window, interval
    * list join-back, token-index filter, token-level reconstruction →
    * `${p}cut(doc_id, text_cut, n_removed)`. ONE copy, spliced by the
    * cut_spans oracle, the spans e2e capstone, and the span
    * decontamination oracle. */
  private def cutSpansCtes(docsSrc: String, spansSrc: String,
      p: String): String =
    s"""${p}iv AS (
       |  SELECT id_b AS id, b_start AS s, b_start + n_tokens AS e
       |  FROM $spansSrc),
       |${p}wm AS (
       |  SELECT id, s, e, max(e) OVER (PARTITION BY id ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM ${p}iv),
       |${p}g AS (
       |  SELECT *, CASE WHEN prev_max IS NULL OR s > prev_max
       |    THEN 1 ELSE 0 END AS ni FROM ${p}wm),
       |${p}g2 AS (
       |  SELECT *, sum(ni) OVER (PARTITION BY id ORDER BY s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM ${p}g),
       |${p}mrg AS (
       |  SELECT id, isl, min(s) AS s, max(e) AS e FROM ${p}g2
       |  GROUP BY 1, 2),
       |${p}ivl AS (
       |  SELECT id, list({'s': s, 'e': e} ORDER BY s) AS ivs
       |  FROM ${p}mrg GROUP BY id),
       |${p}base AS (
       |  SELECT c.doc_id,
       |    regexp_extract_all(lower(c.text), '[a-z0-9]+') AS w,
       |    ${p}ivl.ivs
       |  FROM $docsSrc c LEFT JOIN ${p}ivl ON c.doc_id = ${p}ivl.id),
       |${p}kept AS (
       |  SELECT doc_id, w,
       |    CASE WHEN ivs IS NULL THEN range(0, len(w))
       |      ELSE list_filter(range(0, len(w)), i ->
       |        len(list_filter(ivs, v -> i >= v.s AND i < v.e)) = 0)
       |    END AS ki
       |  FROM ${p}base),
       |${p}cut AS (
       |  SELECT doc_id,
       |    coalesce(
       |      array_to_string(list_transform(ki, i -> w[i + 1]), ' '), '')
       |      AS text_cut,
       |    CAST(coalesce(len(w) - len(ki), 0) AS BIGINT) AS n_removed
       |  FROM ${p}kept)""".stripMargin

  val cutSpansSql: String =
    s"""WITH corpus AS ($corpusNearSql),
       |${dupSpansCtes("corpus", "")},
       |${cutSpansCtes("corpus", "spans", "")}
       |SELECT doc_id, text_cut, n_removed FROM cut""".stripMargin

  // --- llm_minhash_lsh (xxhash64-based → rows-only check) ---------------
  def minhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docsWithNearDups(s, dir), threshold = 0.5)
      .orderBy("id_a", "id_b")

  // --- llm_minhash_md5 (md5-long shingles + exact band keys → the
  // FULL cross-engine oracle for the MinHash banding pipeline) ----------
  def minhashMd5(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairsMd5(docsWithNearDups(s, dir), threshold = 0.5)
      .orderBy("id_a", "id_b")

  /** DuckDB rebuild of the whole MinHash pipeline over a (doc_id,
    * text) source CTE `src`: md5-long shingle hashes (signed-64
    * reconstruction in HUGEINT — the winnow-oracle trick), the seeded
    * affine (a*h+b) mod P signature minima with the a/b parameters
    * inlined as literals, `_`-joined band keys, band bucket join for
    * candidates, exact Jaccard verify →
    * `mh_pairs(id_a, id_b, jaccard)` at ≥ `threshold`. ONE copy
    * (mh_-prefixed names so it splices beside other chains), used by
    * the minhash_md5 oracle and the fuzzy e2e oracle — a banding or
    * signature fix lands in both or neither. */
  private def minhashPairsCtes(src: String, threshold: Double): String = {
    val params = graft.llm.Dedup.minhashParams(32, 42L)
    val aList = params.map(_._1).mkString("[", ", ", "]")
    val bList = params.map(_._2).mkString("[", ", ", "]")
    s"""mh_tok AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
       |  FROM $src),
       |mh_sets AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3 THEN
       |    list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [] END) AS s
       |  FROM mh_tok),
       |mh_hs AS (
       |  SELECT doc_id, list_transform(s, x -> CAST(
       |      CAST('0x' || substring(md5(x), 1, 8) AS BIGINT)::HUGEINT
       |        * 4294967296
       |      + CAST('0x' || substring(md5(x), 9, 8) AS BIGINT)
       |      - CASE WHEN CAST('0x' || substring(md5(x), 1, 8) AS BIGINT)
       |          >= 2147483648
       |        THEN 18446744073709551616 ELSE 0 END AS BIGINT)) AS hs
       |  FROM mh_sets WHERE len(s) > 0),
       |mh_folded AS (
       |  SELECT doc_id, ((h % 2147483647) + 2147483647) % 2147483647 AS hm
       |  FROM (SELECT doc_id, unnest(hs) AS h FROM mh_hs)),
       |mh_sig AS (
       |  SELECT doc_id, j,
       |    min((($aList)[j + 1] * hm + ($bList)[j + 1])
       |      % 2147483647) AS v
       |  FROM mh_folded CROSS JOIN range(32) r(j)
       |  GROUP BY doc_id, j),
       |mh_bands AS (
       |  SELECT doc_id, CAST(j // 4 AS INT) AS band,
       |    string_agg(CAST(v AS VARCHAR), '_' ORDER BY j) AS bk
       |  FROM mh_sig GROUP BY doc_id, j // 4),
       |mh_cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM mh_bands a JOIN mh_bands b
       |    ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |mh_pairs AS (
       |  SELECT id_a, id_b,
       |    round(len(list_intersect(ha.hs, hb.hs)) /
       |      (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))),
       |      4) AS jaccard
       |  FROM mh_cand
       |  JOIN mh_hs ha ON ha.doc_id = id_a
       |  JOIN mh_hs hb ON hb.doc_id = id_b
       |  WHERE round(len(list_intersect(ha.hs, hb.hs)) /
       |      (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))),
       |      4) >= $threshold)""".stripMargin
  }

  val minhashMd5Sql: String =
    s"""WITH corpus AS ($corpusNearSql),
       |${minhashPairsCtes("corpus", 0.5)}
       |SELECT id_a, id_b, jaccard FROM mh_pairs""".stripMargin

  // --- llm_neardup_stream (streaming.StreamingNearDup — the fuzzy
  // dedup stage as a continuous pipeline, replayed here in 3 chunks
  // through a persistent band/sig store; construction runs the batch
  // jobs, the op_vec_index_stream precedent). The pair SET is
  // chunking-invariant (any pair agrees on its band key regardless of
  // which batches its docs landed in), so the oracle is the BATCH
  // rebuild: the llm_minhash_md5 CTE chain up to mh_cand, verified by
  // SIGNATURE AGREEMENT (est_jaccard = matching components / 32 from
  // mh_sig) instead of exact Jaccard — the twin's documented
  // divergence, cross-engine-checked rather than merely described.
  // CAST the sum to DOUBLE before dividing (the llm_reservoir
  // BIGINT-vs-DECIMAL lesson). -----------------------------------------
  def neardupStream(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-snd")
      .toString
    val d = docsWithNearDups(s, dir)
    val snd = graft.streaming.StreamingNearDup(s"$root/store",
      threshold = 0.5)
    (0 until 3).map(c =>
        snd.processBatch(d.where(pmod(col("doc_id"), lit(3L)) === c),
          batchId = c.toLong))
      .reduce(_.unionByName(_))
      .orderBy("id_a", "id_b")
  }

  val neardupStreamSql: String =
    s"""WITH corpus AS ($corpusNearSql),
       |${minhashPairsCtes("corpus", 0.5)},
       |snd_pairs AS (
       |  SELECT id_a, id_b,
       |    round(CAST(sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END)
       |      AS DOUBLE) / 32, 4) AS est_jaccard
       |  FROM mh_cand
       |  JOIN mh_sig sa ON sa.doc_id = id_a
       |  JOIN mh_sig sb ON sb.doc_id = id_b AND sb.j = sa.j
       |  GROUP BY id_a, id_b)
       |SELECT id_a, id_b, est_jaccard FROM snd_pairs
       |WHERE est_jaccard >= 0.5""".stripMargin

  // --- llm_fuzzy_dedup_stream (rows-only: the DROP stage of fuzzy
  // dedup as a stream — streaming.StreamingFuzzyDedup replayed in 3
  // chunks through the kept-docs store. No cross-engine oracle: the
  // per-batch drop-vs-kept + CC greedy is iterative; the suite pins
  // single-batch ≡ batch pairs→CC→keep-lowest EXACTLY, multi-batch ≡
  // a driver-side greedy reference from the pair graph, the
  // transitive-chain divergence by hand case, and crash-replay
  // identity via the per-batch partition overwrite.) -------------------
  def fuzzyDedupStream(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-sfd")
      .toString
    val d = docsWithNearDups(s, dir)
    val sfd = graft.streaming.StreamingFuzzyDedup(s"$root/store",
      threshold = 0.5)
    (0 until 3).map(c =>
        sfd.processBatch(d.where(pmod(col("doc_id"), lit(3L)) === c),
          batchId = c.toLong))
      .reduce(_.unionByName(_))
      .select(col("doc_id"), length(col("text")).as("text_len"))
      .orderBy("doc_id")
  }

  // --- llm_pagerank (graph centrality over the minhash near-dup
  // similarity graph: a high score marks a duplication hub — a
  // boilerplate template, a mirror — the soft complement of the hard
  // CC cluster labels. Fixed 10 damped iterations, leaky variant (no
  // dangling redistribution) — both choices exist so a STATIC
  // unrolled SQL text can be the oracle. All oracle constants are
  // CAST('…' AS DOUBLE) string round-trips of the Scala doubles
  // (DuckDB would otherwise parse 0.15000000000000002 as a DECIMAL
  // and diverge at full precision). ------------------------------------
  private val prDamping = 0.85
  private val prIters = 10
  def pagerank(s: SparkSession, dir: String): DataFrame = {
    val corpus = docsWithNearDups(s, dir)
    val pairs = Dedup.minhashLshPairsMd5(corpus, threshold = 0.5)
    val edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .unionByName(pairs.select(col("id_b").as("u"), col("id_a").as("v")))
    val verts = corpus.select(col("doc_id").as("id"))
    val pr = graft.operators.PageRank.pageRank(verts, edges,
      iters = prIters, damping = prDamping)
    // mean-1 normalization: score = rank · |V| (readable, and the
    // 4-dp rounding then has uniform resolution across corpus sizes)
    pr.crossJoin(broadcast(
        verts.agg(count(lit(1)).cast("double").as("nv"))))
      .select(col("id").as("doc_id"),
        round(col("rank") * col("nv"), 4).as("score"))
  }

  val pagerankSql: String = {
    val d = s"CAST('$prDamping' AS DOUBLE)"
    val resid =
      s"CAST('${graft.operators.PageRank.residLiteral(prDamping)}' AS DOUBLE)"
    val steps = (1 to prIters).map { k =>
      s"""c$k AS (
         |  SELECT e.v AS id, sum(p.rank / d.dg) AS m
         |  FROM pr_edges e JOIN r${k - 1} p ON p.id = e.u
         |  JOIN pr_deg d ON d.id = e.u
         |  GROUP BY e.v),
         |r$k AS (
         |  SELECT vt.id, $resid / n.c + $d * coalesce(m, CAST(0.0 AS DOUBLE))
         |    AS rank
         |  FROM pr_verts vt CROSS JOIN pr_n n LEFT JOIN c$k USING (id))"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH corpus AS ($corpusNearSql),
       |${minhashPairsCtes("corpus", 0.5)},
       |pr_edges AS (
       |  SELECT id_a AS u, id_b AS v FROM mh_pairs
       |  UNION ALL SELECT id_b AS u, id_a AS v FROM mh_pairs),
       |pr_deg AS (SELECT u AS id, count(*) AS dg FROM pr_edges GROUP BY 1),
       |pr_n AS (SELECT count(*) AS c FROM corpus),
       |pr_verts AS (SELECT doc_id AS id FROM corpus),
       |r0 AS (
       |  SELECT id, CAST(1.0 AS DOUBLE) / n.c AS rank
       |  FROM pr_verts CROSS JOIN pr_n n),
       |$steps
       |SELECT r.id AS doc_id, round(r.rank * n.c, 4) AS score
       |FROM r$prIters r CROSS JOIN pr_n n""".stripMargin
  }

  // --- llm_simhash ------------------------------------------------------
  // 8×8-bit banding + maxHamming=7: the banding guarantee (pigeonhole,
  // hamming ≤ bands-1) covers the radius the planted near-dups actually
  // land at (4-10, mostly ≤7). Round 1's 4×16 bands with maxHamming=10
  // leaked 61k chance-collision pairs at sf0.1; round 2's cap at 3 was
  // banding-honest but cut planted-pair recall to 46/72. Radius 7 with
  // a matching guarantee keeps both the suite and the oracle green.
  /** Registered CAPPED (maxBucket = 2000, the round-4 10×-probe
    * setting): the 256-value-per-band key space saturates
    * quadratically on low-entropy corpora (measured 14× wall at 10×
    * scale), and the cap is deterministic, so the oracle models it
    * with a bucket-df CTE — the containment playbook. No-op at
    * fixture scale (max bucket 1564 at sf0.1, measured). */
  val simhashMaxBucket = 2000

  def simhashDup(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docsWithNearDups(s, dir), maxHamming = 7, bands = 8,
      maxBucket = simhashMaxBucket)
      .orderBy("id_a", "id_b")

  /** Full cross-engine SimHash oracle: md5-based token hashes are
    * reproducible in DuckDB, so the signature → band → hamming pipeline
    * is SQL-expressible. Token hash = (hi<<32)|lo from the md5 hex
    * halves; working on the halves separately sidesteps 64-bit sign
    * issues (bit j comes from lo when j<32, hi otherwise — identical to
    * Spark's shiftrightunsigned on the combined long). */
  val simhashSql: String =
    s"""WITH corpus AS ($corpusNearSql),
       |tok AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
       |    AS t
       |  FROM corpus),
       |th AS (
       |  SELECT doc_id,
       |    CAST('0x' || substring(md5(t), 1, 8) AS BIGINT) AS hi,
       |    CAST('0x' || substring(md5(t), 9, 8) AS BIGINT) AS lo
       |  FROM tok),
       |votes AS (
       |  SELECT doc_id, j,
       |    sum(CASE WHEN ((CASE WHEN j < 32 THEN lo >> j
       |                    ELSE hi >> (j - 32) END) & 1) = 1
       |        THEN 1 ELSE -1 END) AS v
       |  FROM th CROSS JOIN range(64) r(j)
       |  GROUP BY doc_id, j),
       |chunks AS (
       |  SELECT doc_id, CAST(j // 8 AS INT) AS band,
       |    CAST(sum(CASE WHEN v > 0 THEN 1 << CAST(j % 8 AS INT)
       |             ELSE 0 END) AS BIGINT) AS chunk
       |  FROM votes GROUP BY doc_id, j // 8),
       |bdf AS (
       |  SELECT band, chunk, count(*) AS n FROM chunks GROUP BY 1, 2),
       |capped AS (
       |  SELECT c.doc_id, c.band, c.chunk FROM chunks c
       |  JOIN bdf ON c.band = bdf.band AND c.chunk = bdf.chunk
       |  WHERE bdf.n <= $simhashMaxBucket),
       |cand AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  CAST(sum(bit_count(xor(ca.chunk, cb.chunk))) AS BIGINT) AS hamming
       |FROM cand
       |JOIN chunks ca ON ca.doc_id = id_a
       |JOIN chunks cb ON cb.doc_id = id_b AND cb.band = ca.band
       |GROUP BY id_a, id_b
       |HAVING sum(bit_count(xor(ca.chunk, cb.chunk))) <= 7""".stripMargin

  // --- llm_embed_dup ----------------------------------------------------
  /** embeddings ∪ scaled copies (cosine exactly 1) of every 5th vector. */
  private[graft] def embsWithDups(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("embedding"))
    e.unionByName(e.where(col("vec_id") % 5 === 0)
      .withColumn("vec_id", col("vec_id") + 1000000)
      .withColumn("embedding", transform(col("embedding"), x => x * 1.5)))
  }

  def embedDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineDupPairs(embsWithDups(s, dir), threshold = 0.999)

  // --- llm_embed_dup_lsh (hyperplane blocking — xxhash64 planes, so
  // rows-only; recall/precision pinned in LlmSuite) ----------------------
  def embedDupLsh(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineDupPairsLsh(embsWithDups(s, dir), threshold = 0.999)
      .orderBy("id_a", "id_b")

  val embedDupSql: String =
    """WITH corpus AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS embedding
      |  FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000, label,
      |    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5)
      |  FROM embeddings WHERE vec_id % 5 = 0)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_dot_product(a.embedding, b.embedding) /
      |    (greatest(sqrt(list_dot_product(a.embedding, a.embedding)), 1e-12) *
      |     greatest(sqrt(list_dot_product(b.embedding, b.embedding)), 1e-12)), 4) AS sim
      |FROM corpus a JOIN corpus b
      |  ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE round(list_dot_product(a.embedding, b.embedding) /
      |    (greatest(sqrt(list_dot_product(a.embedding, a.embedding)), 1e-12) *
      |     greatest(sqrt(list_dot_product(b.embedding, b.embedding)), 1e-12)), 4) >= 0.999""".stripMargin

  // --- llm_embed_dup_lsh_md5 (md5-derived plane signs → the FULL
  // cross-engine oracle for the hyperplane-LSH pipeline: signature →
  // band bucket → candidate (incl. the 48-bit pre-verify hamming
  // bound) → exact cosine — the minhash_md5 playbook on embeddings.
  // The xxhash default stays the operator (rows-only) path.) ------------
  /** Registered CAPPED (maxBucket = 2000, the round-4 10×-probe
    * setting): 12-bit tables are a fixed 4096-value key space, so the
    * hot-bucket cap is the saturation guard at scale; deterministic,
    * so the oracle mirrors it with a bucket-df CTE. No-op at fixture
    * scale (≈3 vectors per bucket at sf0.1). */
  val embedLshMaxBucket = 2000

  def embedDupLshMd5(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineDupPairsLsh(embsWithDups(s, dir), threshold = 0.999,
      maxBucket = embedLshMaxBucket, md5Signs = true)
      .orderBy("id_a", "id_b")

  /** DuckDB rebuild of the whole hyperplane-LSH dedup pipeline. Plane
    * sign(tableSeed, bit j, dim d) = parity of the first 32 md5 digest
    * bits of `hp_<tableSeed>_<j>_<d>` — exactly `HyperplaneSigsExpr`'s
    * md5 mode. Projections fold left-to-right via `list_reduce` (IEEE
    * double order matches the expression's accumulation loop, so every
    * sign bit is reproduced exactly); band signatures and the 48-bit
    * pre-verify signature rebuild as bit sums; the candidate join
    * applies the same hamming bound; `list_dot_product` verifies exact
    * cosine (bit-comparable left-to-right order — the llm_embed_dup
    * precedent). */
  /** Spliceable CTE chain rebuilding the WHOLE md5-sign hyperplane-LSH
    * dedup pipeline, ending in `e_pairs(id_a, id_b, sim)` — ONE copy
    * shared by the standalone [[embedDupLshMd5Sql]] and the composed
    * [[embedDupClustersSql]] (the minhashPairsCtes pattern: a fix
    * lands in both or neither). */
  private def embedPairsCtes: String = {
    val (nBits, nTables, seed) = (12, 4, 42L)
    val preSeed = seed + nTables * 7919L
    val preBound = Similarity.preVerifyBound(0.999)
    s"""corpus AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5)
       |  FROM embeddings WHERE vec_id % 5 = 0),
       |pl AS (
       |  SELECT 0 AS grp, t, j, $seed + t AS ts
       |  FROM range($nTables) r1(t) CROSS JOIN range($nBits) r2(j)
       |  UNION ALL
       |  SELECT 1 AS grp, 0 AS t, j, $preSeed AS ts
       |  FROM range(${Similarity.PreVerifyBits}) r3(j)),
       |dims AS (
       |  SELECT unnest(range(0, (SELECT max(len(vec)) FROM corpus))) AS d),
       |planes AS (
       |  SELECT grp, t, j,
       |    list(CASE WHEN CAST('0x' || substring(md5(
       |        'hp_' || CAST(ts AS VARCHAR) || '_' || CAST(j AS VARCHAR)
       |          || '_' || CAST(d AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0
       |      THEN 1.0 ELSE -1.0 END ORDER BY d) AS sg
       |  FROM pl CROSS JOIN dims
       |  GROUP BY grp, t, j),
       |proj AS (
       |  SELECT c.vec_id, p.grp, p.t, p.j,
       |    list_reduce(list_transform(range(1, len(c.vec) + 1),
       |      i -> c.vec[i] * p.sg[i]), (a, b) -> a + b) AS pr
       |  FROM corpus c CROSS JOIN planes p),
       |sigs AS (
       |  SELECT vec_id, grp, t,
       |    CAST(sum(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << j
       |      ELSE 0 END) AS BIGINT) AS sig
       |  FROM proj GROUP BY vec_id, grp, t),
       |bands0 AS (SELECT vec_id, t, sig FROM sigs WHERE grp = 0),
       |bdf AS (SELECT t, sig, count(*) AS n FROM bands0 GROUP BY 1, 2),
       |bands AS (
       |  SELECT b.vec_id, b.t, b.sig FROM bands0 b
       |  JOIN bdf ON b.t = bdf.t AND b.sig = bdf.sig
       |  WHERE bdf.n <= $embedLshMaxBucket),
       |pre AS (SELECT vec_id, sig AS sig2 FROM sigs WHERE grp = 1),
       |cand AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bands a
       |  JOIN bands b ON a.t = b.t AND a.sig = b.sig
       |    AND a.vec_id < b.vec_id
       |  JOIN pre pa ON pa.vec_id = a.vec_id
       |  JOIN pre pb ON pb.vec_id = b.vec_id
       |  WHERE bit_count(xor(pa.sig2, pb.sig2)) <= $preBound
       |  GROUP BY 1, 2),
       |e_pairs AS (
       |  SELECT id_a, id_b,
       |    round(list_dot_product(va.vec, vb.vec) /
       |      (greatest(sqrt(list_dot_product(va.vec, va.vec)), 1e-12) *
       |       greatest(sqrt(list_dot_product(vb.vec, vb.vec)), 1e-12)), 4)
       |      AS sim
       |  FROM cand
       |  JOIN corpus va ON va.vec_id = id_a
       |  JOIN corpus vb ON vb.vec_id = id_b
       |  WHERE round(list_dot_product(va.vec, vb.vec) /
       |      (greatest(sqrt(list_dot_product(va.vec, va.vec)), 1e-12) *
       |       greatest(sqrt(list_dot_product(vb.vec, vb.vec)), 1e-12)), 4)
       |    >= 0.999)""".stripMargin
  }

  // plain concatenation, NOT an outer stripMargin: the helper body
  // contains lines beginning with the `||` concat operator, whose
  // first `|` an outer stripMargin would eat
  val embedDupLshMd5Sql: String =
    "WITH " + embedPairsCtes + "\nSELECT id_a, id_b, sim FROM e_pairs"

  // --- llm_embed_dup_clusters (cross-family composition: the md5
  // hyperplane-LSH pairs feed the SAME connected-components operator
  // the text near-dups use — dedup an embedding corpus transitively,
  // e.g. image/audio near-copies chained A≈B≈C) --------------------------
  def embedDupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupClusters(
      Similarity.cosineDupPairsLsh(embsWithDups(s, dir), threshold = 0.999,
        maxBucket = embedLshMaxBucket, md5Signs = true))
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("cluster_size"))
      .orderBy("cluster_rep")

  /** The composed oracle: the shared embed-pair CTEs spliced into the
    * shared CC chain — both fragments single-sourced. */
  val embedDupClustersSql: String =
    "WITH RECURSIVE " + embedPairsCtes + ",\n" + ccLabelsCtes("e_pairs") +
      "\nSELECT cluster_rep, count(*) AS cluster_size" +
      "\nFROM cc_labels GROUP BY cluster_rep"

  // --- llm_semdedup (SemDeDup, Abbas et al. 2023: cluster-scoped
  // semantic dedup — argmax cell assignment bounds the exact-cosine
  // work to Σ|cell|²; sample-vector quantizer so the WHOLE pipeline
  // is cross-engine oracled, the llm_ann_ivf_md5 playbook) ---------------
  val semDedupThreshold = 0.999

  def semDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedupFrom(embsWithDups(s, dir),
      Similarity.lowestIdCentroids(embsWithDups(s, dir), nCentroids = 16),
      threshold = semDedupThreshold)

  /** DuckDB rebuild of the whole SemDeDup pipeline over the
    * planted-dup corpus: the shared sample-centroid assignment chain,
    * within-cell lower-id pairs with exact cosine (round 6 —
    * monotone, so max commutes with it), per-row best prior, and the
    * keep rule. The planted 1.5×-scaled copies score proportionally
    * against every centroid, so they share their original's cell by
    * construction — the suite pins all of them dropped at sim 1.0. */
  val semDedupSql: String =
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.5)
       |  FROM embeddings WHERE vec_id % 5 = 0),
       |${sampleCentroidCtes("c", 16)},
       |pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    round(list_dot_product(ca.vec, cb.vec) /
       |      (greatest(sqrt(list_dot_product(ca.vec, ca.vec)), 1e-12) *
       |       greatest(sqrt(list_dot_product(cb.vec, cb.vec)), 1e-12)), 6)
       |      AS sim
       |  FROM assign a JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  JOIN c ca ON ca.vec_id = a.vec_id
       |  JOIN c cb ON cb.vec_id = b.vec_id),
       |priors AS (
       |  SELECT id_b AS id, max(sim) AS max_prior_sim FROM pairs GROUP BY 1)
       |SELECT a.vec_id AS id, a.cid, p.max_prior_sim,
       |  CASE WHEN p.max_prior_sim >= $semDedupThreshold THEN 0 ELSE 1 END
       |    AS kept
       |FROM assign a LEFT JOIN priors p ON p.id = a.vec_id""".stripMargin

  // --- llm_ann_topk ------------------------------------------------------
  def annTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.bruteForceTopK(e.where(col("vec_id") < 10), e, k = 5)
  }

  val annTopKSql: String =
    """WITH q AS (SELECT vec_id AS query_id,
      |    CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS neighbor_id,
      |    CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
      |scored AS (
      |  SELECT query_id, neighbor_id,
      |    round(list_dot_product(qv, cv) /
      |      (greatest(sqrt(list_dot_product(qv, qv)), 1e-12) *
      |       greatest(sqrt(list_dot_product(cv, cv)), 1e-12)), 6) AS sim
      |  FROM c, q WHERE query_id <> neighbor_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, sim, row_number() OVER (
      |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, rank, sim FROM ranked
      |WHERE rank <= 5""".stripMargin

  // --- llm_ann_lsh (rows-only scale path; recall floor vs brute force
  // pinned in LlmSuite — the fixture's true neighbors sit at cosine
  // 0.27-0.47, so single-table LSH is blind (measured recall 0.02) and
  // OR-amplified tables + ±1-bit multi-probe are load-bearing) --------
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.lshTopK(e.where(col("vec_id") < 50), e, k = 3,
      nBits = 8, nTables = 8, multiProbe = 1)
  }

  // --- llm_ann_lsh_md5 (md5-derived plane signs → the FULL DuckDB
  // oracle for the ANN LSH pipeline: per-table signatures → ±1-bit
  // multi-probe → bucket-join candidates → exact cosine → top-k.
  // The xxhash default stays the operator path.) ------------------------
  def annLshMd5(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.lshTopK(e.where(col("vec_id") < 50), e, k = 3,
      nBits = 8, nTables = 8, multiProbe = 1, md5Signs = true)
  }

  /** DuckDB rebuild of the ANN LSH top-k: md5-parity plane signs (the
    * embedDupLshMd5 derivation), left-to-right `list_reduce`
    * projections, per-table bit-sum signatures, the query side
    * expanded to its signature plus all 8 one-bit flips per table
    * (multiProbe=1), bucket-equality candidates, exact cosine ranked
    * by (sim DESC, neighbor ASC). */
  val annLshMd5Sql: String = {
    val (nBits, nTables, seed, k) = (8, 8, 42L, 3)
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |pl AS (
       |  SELECT t, j, $seed + t AS ts
       |  FROM range($nTables) r1(t) CROSS JOIN range($nBits) r2(j)),
       |dims AS (
       |  SELECT unnest(range(0, (SELECT max(len(vec)) FROM c))) AS d),
       |planes AS (
       |  SELECT t, j,
       |    list(CASE WHEN CAST('0x' || substring(md5(
       |        'hp_' || CAST(ts AS VARCHAR) || '_' || CAST(j AS VARCHAR)
       |          || '_' || CAST(d AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0
       |      THEN 1.0 ELSE -1.0 END ORDER BY d) AS sg
       |  FROM pl CROSS JOIN dims
       |  GROUP BY t, j),
       |proj AS (
       |  SELECT v.vec_id, p.t, p.j,
       |    list_reduce(list_transform(range(1, len(v.vec) + 1),
       |      i -> v.vec[i] * p.sg[i]), (a, b) -> a + b) AS pr
       |  FROM c v CROSS JOIN planes p),
       |sigs AS (
       |  SELECT vec_id, t,
       |    CAST(sum(CASE WHEN pr > 0 THEN CAST(1 AS BIGINT) << j
       |      ELSE 0 END) AS BIGINT) AS sig
       |  FROM proj GROUP BY vec_id, t),
       |probes AS (
       |  SELECT vec_id AS query_id, t,
       |    CASE WHEN pi = 0 THEN sig
       |      ELSE xor(sig, CAST(1 AS BIGINT) << (pi - 1)) END AS bucket
       |  FROM sigs CROSS JOIN range(${nBits + 1}) r(pi)
       |  WHERE vec_id < 50),
       |cand AS (
       |  SELECT DISTINCT p.query_id, s.vec_id AS neighbor_id
       |  FROM probes p JOIN sigs s ON s.t = p.t AND s.sig = p.bucket
       |  WHERE p.query_id <> s.vec_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |    round(list_dot_product(q.vec, n.vec) /
       |      (greatest(sqrt(list_dot_product(q.vec, q.vec)), 1e-12) *
       |       greatest(sqrt(list_dot_product(n.vec, n.vec)), 1e-12)), 6) AS sim
       |  FROM cand
       |  JOIN c q ON q.vec_id = query_id
       |  JOIN c n ON n.vec_id = neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
       |    AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, sim FROM ranked
       |WHERE rank <= $k""".stripMargin
  }

  // --- llm_ann_ivf (rows-only scale path: KMeans coarse quantizer) -------
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.ivfTopK(e.where(col("vec_id") < 10), e, k = 5,
      nCentroids = 16, nProbe = 4)
  }

  // --- llm_ann_ivf_md5 (deterministic sample-vector centroids → the
  // FULL DuckDB oracle for the IVF pipeline: argmax cell assignment →
  // nProbe probing → exact cosine → top-k. The KMeans fit stays the
  // operator path — Lloyd's partition-wise float sums aren't
  // SQL-reproducible; the quantizer is the ONLY swapped component.) ------
  def annIvfMd5(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.ivfTopKFrom(e.where(col("vec_id") < 10), e, k = 5,
      Similarity.lowestIdCentroids(e, nCentroids = 16), nProbe = 4)
  }

  /** DuckDB rebuild of the IVF top-k with the sample-vector quantizer:
    * centroids = the 16 lowest-vec_id corpus vectors (cid in id
    * order), corpus rows argmax-assigned to their best cell (score
    * DESC, cid ASC — Spark's array_position-first-max tie-break),
    * queries probe their 4 best cells, exact cosine over probed
    * cells, ranked (sim DESC, neighbor ASC). Raw-double score
    * comparisons are safe cross-engine because both sides accumulate
    * dots left-to-right over identical doubles (the annLshMd5 `pr >
    * 0` precedent). */
  /** Spliceable CTE chain for the deterministic sample-vector
    * quantizer: from a CTE `$src(vec_id, vec)` build
    * `cents(cid, cv, cnn)` — the $nCent lowest-vec_id vectors in id
    * order — plus `cell_sc(vec_id, cid, score)` (normalized dot
    * against every centroid) and `assign(vec_id, cid)` (argmax cell,
    * score DESC / cid ASC tie-break — Spark's array_position-first-max).
    * ONE copy shared by the IVF twin ([[annIvfMd5Sql]]) and the
    * SemDeDup oracle ([[semDedupSql]]) — a fix lands in both or
    * neither. */
  private def sampleCentroidCtes(src: String, nCent: Int): String =
    s"""cents AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vec AS cv,
       |    greatest(sqrt(list_dot_product(vec, vec)), 1e-12) AS cnn
       |  FROM (SELECT * FROM $src ORDER BY vec_id LIMIT $nCent)),
       |cell_sc AS (
       |  SELECT v.vec_id, ct.cid,
       |    list_dot_product(v.vec, ct.cv) / ct.cnn AS score
       |  FROM $src v CROSS JOIN cents ct),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
       |    FROM cell_sc) WHERE rn = 1)""".stripMargin

  val annIvfMd5Sql: String = {
    val (nCent, nProbe, k) = (16, 4, 5)
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |${sampleCentroidCtes("c", nCent)},
       |qprobe AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
       |    FROM cell_sc WHERE vec_id < 10) WHERE rn <= $nProbe),
       |scored AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id,
       |    round(list_dot_product(qq.vec, cc.vec) /
       |      (greatest(sqrt(list_dot_product(qq.vec, qq.vec)), 1e-12) *
       |       greatest(sqrt(list_dot_product(cc.vec, cc.vec)), 1e-12)), 6)
       |      AS sim
       |  FROM qprobe q
       |  JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.query_id
       |  JOIN c qq ON qq.vec_id = q.query_id
       |  JOIN c cc ON cc.vec_id = a.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
       |    AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, sim FROM ranked
       |WHERE rank <= $k""".stripMargin
  }

  // --- llm_ann_pq (product quantization, Jégou et al. 2011: m=8
  // subspaces × ks=16 sample-sliced sub-centroids → per-vector codes →
  // ADC compressed-domain scan → exact-cosine re-rank of the top 20.
  // The sample codebook (lowest-id vector slices) makes the WHOLE
  // pipeline — codes, distance tables, ADC ranking, re-rank —
  // cross-engine reproducible, the annIvfMd5 precedent; a KMeans
  // per-subspace fit would only polish centroids, and recall is
  // governed by the rerank width.) ---------------------------------------
  private val (pqM, pqKs, pqRerank, pqK) = (8, 16, 50, 5)
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.pqTopKFrom(e.where(col("vec_id") < 10), e, k = pqK,
      Similarity.pqCodebooks(e, m = pqM, ks = pqKs), rerank = pqRerank)
  }

  /** DuckDB rebuild of the PQ-ADC pipeline: sample codebooks (the 16
    * lowest-vec_id vectors, sliced per subspace), per-(vector,
    * subspace) sub-distances via left-to-right list_reduce (the Spark
    * `sqdist` fold), argmin codes (raw d2, code asc — Spark's
    * array_position-first-min), query distance tables flattened in
    * (j, code) order, the ADC sum in fixed j order, candidates ranked
    * by ROUNDED approx_d2 (id-asc ties), exact cosine re-rank. */
  /** Spliceable PQ codebook CTE chain over a CTE `$src(vec_id, vec)`:
    * `samp` (the $pqKs lowest-id vectors), `cb(j, cn, sc)` (subspace
    * slices of the samples — the codebooks), `cdist(vec_id, j, cn,
    * d2)` (left-to-right squared-distance folds — the `sqdist`/
    * PqExpr contract), `codes(vec_id, codes)` (argmin per subspace,
    * raw-d2 first-min ties), `qdt(query_id, dt)` (flattened (j, cn)-
    * ordered distance tables for the query set). ONE copy shared by
    * [[annPqSql]] and [[annIvfPqSql]] — a fix lands in both or
    * neither. */
  private def pqCodebookCtes(src: String, ks: Int = pqKs): String = {
    val sub = 64 / pqM
    s"""samp AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cn, vec AS cv
       |  FROM (SELECT * FROM $src ORDER BY vec_id LIMIT $ks)),
       |cb AS (
       |  SELECT j, cn, list_slice(cv, j * $sub + 1, (j + 1) * $sub) AS sc
       |  FROM samp CROSS JOIN range(0, $pqM) r(j)),
       |cslices AS (
       |  SELECT vec_id, j, list_slice(vec, j * $sub + 1, (j + 1) * $sub) AS vs
       |  FROM $src CROSS JOIN range(0, $pqM) r(j)),
       |cdist AS (
       |  SELECT s.vec_id, s.j, b.cn,
       |    list_reduce(list_transform(range(1, $sub + 1),
       |      i -> (s.vs[i] - b.sc[i]) * (s.vs[i] - b.sc[i])),
       |      (x, y) -> x + y) AS d2
       |  FROM cslices s JOIN cb b USING (j)),
       |codes AS (
       |  SELECT vec_id, list(cn ORDER BY j) AS codes FROM (
       |    SELECT vec_id, j, cn, row_number() OVER (
       |      PARTITION BY vec_id, j ORDER BY d2 ASC, cn ASC) AS rn
       |    FROM cdist) WHERE rn = 1 GROUP BY vec_id),
       |qdt AS (
       |  SELECT vec_id AS query_id, list(d2 ORDER BY j, cn) AS dt
       |  FROM cdist WHERE vec_id < 10 GROUP BY vec_id)""".stripMargin
  }

  val annPqSql: String = {
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |${pqCodebookCtes("c")},
       |adc AS (
       |  SELECT q.query_id, o.vec_id AS neighbor_id,
       |    round(list_reduce(list_transform(range(0, $pqM),
       |      j -> q.dt[j * $pqKs + o.codes[j + 1] + 1]),
       |      (x, y) -> x + y), 6) AS approx_d2
       |  FROM qdt q CROSS JOIN codes o WHERE o.vec_id <> q.query_id),
       |cand AS (
       |  SELECT query_id, neighbor_id, approx_d2 FROM (
       |    SELECT query_id, neighbor_id, approx_d2, row_number() OVER (
       |      PARTITION BY query_id ORDER BY approx_d2 ASC, neighbor_id ASC)
       |      AS arank
       |    FROM adc) WHERE arank <= $pqRerank),
       |scored AS (
       |  SELECT query_id, neighbor_id, approx_d2,
       |    round(list_dot_product(qq.vec, nn.vec) /
       |      (greatest(sqrt(list_dot_product(qq.vec, qq.vec)), 1e-12) *
       |       greatest(sqrt(list_dot_product(nn.vec, nn.vec)), 1e-12)), 6)
       |      AS sim
       |  FROM cand
       |  JOIN c qq ON qq.vec_id = query_id
       |  JOIN c nn ON nn.vec_id = neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim, approx_d2, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
       |    AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, sim, approx_d2 FROM ranked
       |WHERE rank <= $pqK""".stripMargin
  }

  // --- llm_ann_ivfpq (the two index structures COMPOSED — the
  // canonical 100 TB ANN layout: coarse cells cut the scan to
  // nProbe/nCentroids of the corpus, PQ codes cut each scanned entry
  // to m bytes; ADC runs only inside probed cells, exact cosine
  // re-ranks the survivors. Both quantizers sample-based → the whole
  // pipeline is one DuckDB oracle splicing the IVF assignment CTEs
  // and the PQ codebook CTEs. Raw-vector codes, not residuals —
  // documented variant; probe/ADC/re-rank mechanics are IVFADC's.) ------
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    Similarity.ivfPqTopKFrom(e.where(col("vec_id") < 10), e, k = pqK,
      Similarity.lowestIdCentroids(e, nCentroids = 16),
      Similarity.pqCodebooks(e, m = pqM, ks = pqKs),
      nProbe = 4, rerank = pqRerank)
  }

  /** DuckDB rebuild of IVF-PQ: `assign`/`cell_sc` from the IVF sample-
    * centroid helper give cells; `codes`/`qdt` from the PQ helper give
    * the compressed domain; the ADC scan joins ONLY probed cells. */
  val annIvfPqSql: String = {
    val (nCent, nProbe) = (16, 4)
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |${sampleCentroidCtes("c", nCent)},
       |${pqCodebookCtes("c")},
       |qprobe AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
       |    FROM cell_sc WHERE vec_id < 10) WHERE rn <= $nProbe),
       |adc AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id,
       |    round(list_reduce(list_transform(range(0, $pqM),
       |      j -> t.dt[j * $pqKs + o.codes[j + 1] + 1]),
       |      (x, y) -> x + y), 6) AS approx_d2
       |  FROM qprobe q
       |  JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.query_id
       |  JOIN codes o ON o.vec_id = a.vec_id
       |  JOIN qdt t ON t.query_id = q.query_id),
       |cand AS (
       |  SELECT query_id, neighbor_id, approx_d2 FROM (
       |    SELECT query_id, neighbor_id, approx_d2, row_number() OVER (
       |      PARTITION BY query_id ORDER BY approx_d2 ASC, neighbor_id ASC)
       |      AS arank
       |    FROM adc) WHERE arank <= $pqRerank),
       |scored AS (
       |  SELECT query_id, neighbor_id, approx_d2,
       |    round(list_dot_product(qq.vec, nn.vec) /
       |      (greatest(sqrt(list_dot_product(qq.vec, qq.vec)), 1e-12) *
       |       greatest(sqrt(list_dot_product(nn.vec, nn.vec)), 1e-12)), 6)
       |      AS sim
       |  FROM cand
       |  JOIN c qq ON qq.vec_id = query_id
       |  JOIN c nn ON nn.vec_id = neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim, approx_d2, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
       |    AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, sim, approx_d2 FROM ranked
       |WHERE rank <= $pqK""".stripMargin
  }

  // --- llm_ann_ivfpq_res (full IVFADC, Jégou et al. 2011 §IV: PQ on
  // RESIDUALS vec − centroid(cell) — finer quantization near each
  // cell center — with per-probed-cell query distance tables. The
  // residual codebooks are the sample quantizer applied in residual
  // space (pqResidualCodebooks), so the whole pipeline stays
  // cross-engine: the oracle builds a residual CTE and splices the
  // SAME pqCodebookCtes over it. TWO registered ks points: ks=16 keeps
  // the PQ family comparable (every other codebook is 16 samples);
  // ks=64 is the PRODUCTION point — round-9 PqProbe measured the
  // 16-sample residual codebook underfitting sf0.1 (recall@5 0.44 vs
  // raw IVF-PQ's 0.76) and ks=64 restoring exact parity (0.76) while
  // sf0.001 holds 0.94. A user copies _res64; _res documents the
  // sample-size sensitivity residual encoding amplifies.) ----------------
  private def ivfPqResFor(ks: Int)(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val cents = Similarity.lowestIdCentroids(e, nCentroids = 16)
    Similarity.ivfPqTopKFrom(e.where(col("vec_id") < 10), e, k = pqK,
      cents,
      Similarity.pqResidualCodebooks(e, m = pqM, ks = ks, cents),
      nProbe = 4, rerank = pqRerank, residuals = true)
  }
  def annIvfPqRes(s: SparkSession, dir: String): DataFrame =
    ivfPqResFor(pqKs)(s, dir)
  def annIvfPqRes64(s: SparkSession, dir: String): DataFrame =
    ivfPqResFor(64)(s, dir)

  // --- llm_ann_ivfpq_res_t (rows-only: IVFADC with LLOYD-TRAINED
  // residual codebooks — what a production index actually fits
  // (Jégou 2011 §III trains each subspace quantizer by k-means); the
  // sample-sliced `_res64` stays the cross-engine-oracled twin.
  // Training = sample init + 16 per-subspace Lloyd rounds over the
  // full residual frame (Similarity.pqTrainLloyd — one job/round,
  // map-only native pq_codes assignment, long-quantized update sums
  // so the fit is partitioning-proof, suite-pinned). Measured
  // recall@5 (PqTrainProbe, SCALE.md round 12): 0.94 sf0.001 / 0.82
  // sf0.1 vs the sample codebook's 0.94 / 0.76 — the trained floor
  // (0.75 at sf0.1) sits strictly above _res64's 0.7. No
  // cross-engine oracle: Lloyd's argmin-update fixpoint is
  // data-dependent like KMeans; LlmSuite pins the recall floor AT
  // sf0.1 and fit determinism across partitionings.) --------------------
  def annIvfPqResTrained(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val cents = Similarity.lowestIdCentroids(e, nCentroids = 16)
    Similarity.ivfPqTopKFrom(e.where(col("vec_id") < 10), e, k = pqK,
      cents,
      Similarity.pqTrainedResidualCodebooks(e, m = pqM, ks = 64, cents,
        nIter = 16),
      nProbe = 4, rerank = pqRerank, residuals = true)
  }

  /** DuckDB rebuild of IVFADC: `cres` (per-vector residuals against
    * the assigned centroid) feeds the SAME PQ codebook helper —
    * corpus codes come from residual space; query tables are built
    * per PROBED cell against that cell's residual (`qres`/`qdt2`),
    * replacing the helper's own (unreferenced, pruned) qdt. */
  private def ivfPqResSqlFor(ks: Int): String = {
    val (nCent, nProbe, sub) = (16, 4, 64 / pqM)
    s"""WITH c AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings),
       |${sampleCentroidCtes("c", nCent)},
       |cres AS (
       |  SELECT v.vec_id,
       |    list_transform(range(1, 65), i -> v.vec[i] - ct.cv[i]) AS vec
       |  FROM c v
       |  JOIN assign a ON a.vec_id = v.vec_id
       |  JOIN cents ct ON ct.cid = a.cid),
       |${pqCodebookCtes("cres", ks)},
       |qprobe AS (
       |  SELECT vec_id AS query_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (
       |      PARTITION BY vec_id ORDER BY score DESC, cid ASC) AS rn
       |    FROM cell_sc WHERE vec_id < 10) WHERE rn <= $nProbe),
       |qres AS (
       |  SELECT p.query_id, p.cid AS qcid,
       |    list_transform(range(1, 65), i -> q.vec[i] - ct.cv[i]) AS rv
       |  FROM qprobe p
       |  JOIN c q ON q.vec_id = p.query_id
       |  JOIN cents ct ON ct.cid = p.cid),
       |qslices AS (
       |  SELECT query_id, qcid, j,
       |    list_slice(rv, j * $sub + 1, (j + 1) * $sub) AS vs
       |  FROM qres CROSS JOIN range(0, $pqM) r(j)),
       |qdist AS (
       |  SELECT s.query_id, s.qcid, s.j, b.cn,
       |    list_reduce(list_transform(range(1, $sub + 1),
       |      i -> (s.vs[i] - b.sc[i]) * (s.vs[i] - b.sc[i])),
       |      (x, y) -> x + y) AS d2
       |  FROM qslices s JOIN cb b USING (j)),
       |qdt2 AS (
       |  SELECT query_id, qcid, list(d2 ORDER BY j, cn) AS dt
       |  FROM qdist GROUP BY 1, 2),
       |adc AS (
       |  SELECT q.query_id, a.vec_id AS neighbor_id,
       |    round(list_reduce(list_transform(range(0, $pqM),
       |      j -> t.dt[j * $ks + o.codes[j + 1] + 1]),
       |      (x, y) -> x + y), 6) AS approx_d2
       |  FROM qprobe q
       |  JOIN assign a ON a.cid = q.cid AND a.vec_id <> q.query_id
       |  JOIN codes o ON o.vec_id = a.vec_id
       |  JOIN qdt2 t ON t.query_id = q.query_id AND t.qcid = q.cid),
       |cand AS (
       |  SELECT query_id, neighbor_id, approx_d2 FROM (
       |    SELECT query_id, neighbor_id, approx_d2, row_number() OVER (
       |      PARTITION BY query_id ORDER BY approx_d2 ASC, neighbor_id ASC)
       |      AS arank
       |    FROM adc) WHERE arank <= $pqRerank),
       |scored AS (
       |  SELECT query_id, neighbor_id, approx_d2,
       |    round(list_dot_product(qq.vec, nn.vec) /
       |      (greatest(sqrt(list_dot_product(qq.vec, qq.vec)), 1e-12) *
       |       greatest(sqrt(list_dot_product(nn.vec, nn.vec)), 1e-12)), 6)
       |      AS sim
       |  FROM cand
       |  JOIN c qq ON qq.vec_id = query_id
       |  JOIN c nn ON nn.vec_id = neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, sim, approx_d2, row_number() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC)
       |    AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, sim, approx_d2 FROM ranked
       |WHERE rank <= $pqK""".stripMargin
  }

  val annIvfPqResSql: String = ivfPqResSqlFor(pqKs)
  val annIvfPqRes64Sql: String = ivfPqResSqlFor(64)

  // --- llm_dedup_clusters (rows-only: transitive closure of near-dup
  // pairs → per-doc cluster representative + cluster sizes) --------------
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(docsWithNearDups(s, dir),
      threshold = 0.5, maxDf = 1000000)
    Dedup.dedupClusters(pairs)
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("cluster_size"))
      .orderBy("cluster_rep")
  }

  /** Connected-components CTE chain over a pair CTE `src(id_a, id_b)`:
    * symmetric edges feed a recursive reachability CTE —
    * cc_reach(id, v) holds every node v reachable from id, and min(v)
    * per id is the component representative →
    * `cc_labels(id, cluster_rep)`. The UNION (not UNION ALL) dedups
    * tuples, so the recursion terminates at the transitive closure.
    * The caller's WITH must be RECURSIVE. ONE copy, spliced by the
    * dedup_clusters oracle and the fuzzy e2e oracle. */
  private def ccLabelsCtes(src: String): String =
    s"""cc_edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM $src
       |  UNION ALL SELECT id_b, id_a FROM $src),
       |cc_reach(id, v) AS (
       |  SELECT DISTINCT src, src FROM cc_edges
       |  UNION
       |  SELECT r.id, e.dst FROM cc_reach r JOIN cc_edges e
       |    ON e.src = r.v),
       |cc_labels AS (
       |  SELECT id, min(v) AS cluster_rep FROM cc_reach GROUP BY id)""".stripMargin

  // --- llm_dedup_best: quality-weighted representative selection —
  // keep each near-dup cluster's HIGHEST-scoring member (ties →
  // lowest id), Dedup.dedupBest over the ngram pair table. The score
  // is llm_quality's mean_word_len (4dp-rounded, cross-engine exact):
  // the planted 4-word tail pulls each copy's mean toward its own
  // ~4.25, so copies WIN the clusters whose originals average shorter
  // words and LOSE the rest — winners are data-driven, not id-driven
  // (both directions pinned in LlmSuite). Winner selection is a
  // partial-aggregated struct-max — plan-guarded no-window. ----------
  def dedupBest(s: SparkSession, dir: String): DataFrame = {
    val corpus = docsWithNearDups(s, dir)
    val pairs = Dedup.ngramJaccardPairs(corpus,
      threshold = 0.5, maxDf = 1000000)
    val scored = TextAnalysis.qualitySignals(corpus)
      .select(col("doc_id"), col("mean_word_len").as("q_score"))
    Dedup.dedupBest(scored, pairs)
  }

  val dedupBestSql: String =
    s"""WITH RECURSIVE corpus AS ($corpusNearSql),
       |tok AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
       |  FROM corpus),
       |sets AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3 THEN
       |    list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [] END) AS sh
       |  FROM tok),
       |inv AS (
       |  SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sets),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
       |  HAVING round(count(*) / (a.sz + b.sz - count(*)), 4) >= 0.5),
       |${ccLabelsCtes("pairs")},
       |scored AS (
       |  SELECT doc_id,
       |    round(length(regexp_replace(text, '\\s+', '', 'g')) /
       |      greatest(len(regexp_extract_all(text, '\\S+')), 1), 4)
       |      AS q_score
       |  FROM corpus),
       |labeled AS (
       |  SELECT s.doc_id, s.q_score,
       |    coalesce(l.cluster_rep, s.doc_id) AS rep
       |  FROM scored s LEFT JOIN cc_labels l ON l.id = s.doc_id),
       |ranked AS (
       |  SELECT doc_id, q_score, rep,
       |    row_number() OVER (PARTITION BY rep
       |      ORDER BY q_score DESC, doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY rep) AS cluster_size
       |  FROM labeled)
       |SELECT doc_id, q_score, cluster_size FROM ranked
       |WHERE rn = 1""".stripMargin

  /** Cross-engine oracle: the near-dup pair table (string-shingle
    * Jaccard, same as the ngram oracle) feeds the shared
    * connected-components chain. */
  val dedupClustersSql: String =
    s"""WITH RECURSIVE corpus AS ($corpusNearSql),
       |tok AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
       |  FROM corpus),
       |sets AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3 THEN
       |    list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [] END) AS sh
       |  FROM tok),
       |inv AS (
       |  SELECT doc_id, len(sh) AS sz, unnest(sh) AS s FROM sets),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id, a.sz, b.sz
       |  HAVING round(count(*) / (a.sz + b.sz - count(*)), 4) >= 0.5),
       |${ccLabelsCtes("pairs")}
       |SELECT cluster_rep, count(*) AS cluster_size
       |FROM cc_labels GROUP BY cluster_rep""".stripMargin

  // --- llm_corpus_stats (the corpus-report side of curation: per
  // detected language — doc counts, token mass, and EXACT token-count
  // percentiles. One scan, one shuffle (partial-aggregated groupBy).
  // Exact `percentile` buffers per-group (value → count) pairs, so
  // memory is bounded by DISTINCT token counts per language — doc
  // length, not corpus size; for unbounded-cardinality metrics at
  // 100 TB swap in percentile_approx (the q16 HLL precedent: sketch
  // when exactness stops paying). Both engines interpolate the same
  // rank p·(n−1), so values cross-check to 4 dp.) --------------------
  def corpusStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
        TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        round(avg("n_tokens"), 4).as("avg_tokens"),
        round(percentile(col("n_tokens"), lit(0.5)), 4).as("p50_tokens"),
        round(percentile(col("n_tokens"), lit(0.9)), 4).as("p90_tokens"),
        round(percentile(col("n_tokens"), lit(0.99)), 4).as("p99_tokens"))

  val corpusStatsSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, len(regexp_extract_all(text, '\\S+')) AS n_tokens,
       |    $langScoresSql
       |  FROM documents),
       |m AS (SELECT *, $langMaxSql AS mx FROM scored),
       |lang AS (
       |  SELECT doc_id, n_tokens, CASE
       |      $langCaseSql
       |      ELSE 'und' END AS lang
       |  FROM m)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  round(avg(n_tokens), 4) AS avg_tokens,
       |  round(quantile_cont(n_tokens, 0.5), 4) AS p50_tokens,
       |  round(quantile_cont(n_tokens, 0.9), 4) AS p90_tokens,
       |  round(quantile_cont(n_tokens, 0.99), 4) AS p99_tokens
       |FROM lang GROUP BY 1""".stripMargin

  // --- llm_vocab (tokenizer-prep view: the top-K vocabulary by corpus
  // frequency with cumulative coverage — what fraction of all token
  // occurrences the first k vocab entries explain. Scale shape: the
  // frequency table partial-aggregates, top-K is TakeOrdered (never a
  // global sort), and the ONLY single-partition window runs over the
  // K selected rows — bounded by K, not the vocabulary.) ----------------
  def vocab(s: SparkSession, dir: String): DataFrame = {
    val k = 100
    val tf = docs(s, dir).select(
        explode_outer(graft.llm.TextAnalysis.tokens(col("text"))).as("tok"))
      .where(col("tok").isNotNull)
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val total = tf.agg(sum("freq").as("n_total"))
    val top = tf.orderBy(col("freq").desc, col("tok").asc).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("tok").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_coverage",
        round(sum(col("freq")).over(w) / col("n_total"), 4))
      .select("rank", "tok", "freq", "cum_coverage")
  }

  val vocabSql: String =
    """WITH tf AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |  FROM documents),
      |freqs AS (SELECT tok, count(*) AS freq FROM tf GROUP BY 1),
      |total AS (SELECT CAST(sum(freq) AS BIGINT) AS n_total FROM freqs),
      |top AS (
      |  SELECT tok, freq FROM freqs
      |  ORDER BY freq DESC, tok ASC LIMIT 100)
      |SELECT row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank,
      |  tok, freq,
      |  round(CAST(sum(freq) OVER (ORDER BY freq DESC, tok ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / n_total, 4) AS cum_coverage
      |FROM top, total""".stripMargin

  // --- llm_tfidf (per-doc top-3 terms by tf-idf — the typicality
  // playbook: partial-aggregated counts, keyed df join-back, one-row
  // broadcast doc count, window bounded by the DOC's distinct terms.
  // Rank on the ROUNDED score, term-asc ties → cross-engine rank.) -------
  def tfidf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopTerms(docs(s, dir), topN = 3)

  val tfidfSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |dt AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
      |nd AS (
      |  SELECT count(*) AS n_docs FROM documents
      |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0),
      |scored AS (
      |  SELECT doc_id, term, tf, df,
      |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
      |  FROM dt JOIN dfreq USING (term) CROSS JOIN nd),
      |ranked AS (
      |  SELECT doc_id, term, tf, df, tfidf, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
      |  FROM scored)
      |SELECT doc_id, term, tf, df, tfidf, rank FROM ranked
      |WHERE rank <= 3""".stripMargin

  // --- llm_drift (distribution-shift monitor: per-language JS
  // divergence between the doc_id-parity halves of the corpus — the
  // stand-in for two crawl snapshots. One partial-aggregated pass
  // over occurrences; per-lang totals broadcast back; no window.) --------
  def drift(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenDrift(docs(s, dir), pmod(col("doc_id"), lit(2)))

  val driftSql: String =
    """WITH toks AS (
      |  SELECT lang, doc_id % 2 AS side,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |cnts AS (
      |  SELECT lang, term,
      |    CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
      |    CAST(sum(CASE WHEN side <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS cb
      |  FROM toks GROUP BY 1, 2),
      |tots AS (
      |  SELECT lang, CAST(sum(ca) AS BIGINT) AS ta,
      |    CAST(sum(cb) AS BIGINT) AS tb
      |  FROM cnts GROUP BY 1),
      |terms AS (
      |  SELECT c.lang, ca, cb, ta, tb,
      |    CASE WHEN ta > 0 THEN CAST(ca AS DOUBLE) / ta ELSE 0.0 END AS p,
      |    CASE WHEN tb > 0 THEN CAST(cb AS DOUBLE) / tb ELSE 0.0 END AS q
      |  FROM cnts c JOIN tots t ON t.lang = c.lang)
      |SELECT lang, max(ta) AS n_tokens_a, max(tb) AS n_tokens_b,
      |  count(*) AS n_terms,
      |  round(sum(
      |    CASE WHEN ca > 0 THEN 0.5 * p * ln(2.0 * p / (p + q))
      |      ELSE 0.0 END +
      |    CASE WHEN cb > 0 THEN 0.5 * q * ln(2.0 * q / (p + q))
      |      ELSE 0.0 END), 4) AS js_div
      |FROM terms GROUP BY 1""".stripMargin

  // --- llm_bpe_train (rows-only: the learned BPE merge table — the
  // artifact a tokenizer ships. Construction runs the training loop
  // (one job per merge round, lazy-checkpoint lineage truncation —
  // the dedupClusters construction-contract class); no cross-engine
  // oracle is possible (data-dependent per-round argmax), so BpeSuite
  // pins the merge table EXACTLY against an independent
  // single-threaded reference implementation.) ---------------------------
  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    graft.llm.Bpe.trainBpe(docs(s, dir), nMerges = 12)

  // --- llm_bpe_train_batched (rows-only: the PRODUCTION training
  // path — top-B symbol-disjoint merges per round, so a 32k-merge
  // vocabulary needs ~V/B pair-stats jobs instead of V (the round-9
  // serial-rounds weak spot). 24 merges at B=8 land in 4 rounds here;
  // BpeSuite pins batched(B=1) ≡ sequential exactly and batched(B>1)
  // against the reference impl extended with the same rule;
  // examples/BpeBatchProbe records the 256-merge sf0.1 wall time.) ------
  def bpeTrainBatched(s: SparkSession, dir: String): DataFrame =
    graft.llm.Bpe.trainBpeBatched(docs(s, dir), nMerges = 24, batch = 8)

  // --- llm_bpe_encode (rows-only: the apply side of the round-trip —
  // segment the corpus with its OWN trained merges and report the
  // subword vocabulary usage, top 30 by frequency. Construction
  // trains (the bpe_train contract) and bakes the merges into the
  // native BpeEncodeExpr; BpeSuite pins encode parity against the
  // trainer's own Column-level merge chain.) -----------------------------
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    // mergesFor (not trainMerges): the apply side reuses the session's
    // trained merge table — encode-after-train pays training once, the
    // wordpiece_encode precedent (2.82 → 0.42 s committed round 14).
    val merges = graft.llm.Bpe.mergesFor(docs(s, dir), nMerges = 12)
      .map(m => (m._2, m._3))
    val sub = docs(s, dir)
      .select(explode_outer(TextAnalysis.tokens(col("text"))).as("w"))
      .where(col("w").isNotNull)
      .select(explode_outer(
        graft.functions.BpeEncodeExpr.bpe_encode(col("w"), merges))
        .as("subword"))
      .where(col("subword").isNotNull)
      .groupBy("subword").agg(count(lit(1)).as("freq"))
    val top = sub.orderBy(col("freq").desc, col("subword").asc).limit(30)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("subword").asc)
    top.withColumn("rank", row_number().over(w))
      .select("rank", "subword", "freq")
  }

  // --- llm_wordpiece_train (rows-only: the BERT tokenizer's trainer —
  // completes the trainer family: BPE = frequency-greedy, unigram =
  // prune-down LM, WordPiece = merge-greedy by likelihood gain
  // pf/(c(l)·c(r)) with ##-continuation symbols. No cross-engine
  // oracle (data-dependent per-round argmax, the BPE argument);
  // WordPieceSuite pins the merge table EXACTLY vs a single-threaded
  // reference.) ----------------------------------------------------------
  def wordpieceTrain(s: SparkSession, dir: String): DataFrame =
    graft.llm.WordPiece.trainWordPiece(docs(s, dir), nMerges = 12)

  // --- llm_wordpiece_encode (rows-only: the apply side — greedy
  // longest-match-first (BERT MaxMatch) against the corpus's own
  // trained vocabulary via the native WordPieceEncodeExpr; any
  // unmatchable position collapses the whole word to [UNK], the BERT
  // rule. Top 30 pieces by usage; WordPieceSuite pins the expression
  // against the single-threaded MaxMatch reference and round-trip
  // reconstruction.) -----------------------------------------------------
  def wordpieceEncode(s: SparkSession, dir: String): DataFrame = {
    val vocab = graft.llm.WordPiece.trainVocab(docs(s, dir), nMerges = 12)
    val sub = docs(s, dir)
      .select(explode_outer(TextAnalysis.tokens(col("text"))).as("w"))
      .where(col("w").isNotNull)
      .select(explode_outer(
        graft.functions.WordPieceEncodeExpr.wordpiece_encode(
          col("w"), vocab)).as("piece"))
      .where(col("piece").isNotNull)
      .groupBy("piece").agg(count(lit(1)).as("freq"))
    val top = sub.orderBy(col("freq").desc, col("piece").asc).limit(30)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("piece").asc)
    top.withColumn("rank", row_number().over(w))
      .select("rank", "piece", "freq")
  }

  // --- llm_unigram_train (rows-only: SentencePiece-style unigram-LM
  // tokenizer vocabulary — the OTHER major tokenizer algorithm next
  // to BPE. Substring seed → Viterbi-EM piece probabilities (native
  // ViterbiSegmentExpr, one job per EM round) → frequency prune with
  // character coverage. No cross-engine oracle (data-dependent EM
  // fixpoint); UnigramSuite pins the vocabulary table EXACTLY against
  // an independent single-threaded reference implementation.) ------------
  def unigramTrain(s: SparkSession, dir: String): DataFrame =
    graft.llm.Unigram.trainUnigram(docs(s, dir))

  // --- llm_unigram_train_em (rows-only: the FULL Kudo 2018 trainer —
  // lattice-marginal forward-backward E-step (native
  // LatticeMarginalsExpr, leaf-quantized expected counts so the
  // distributed M-step sums longs) and likelihood-LOSS pruning, the
  // two steps llm_unigram_train's Viterbi-count spec documents away.
  // No cross-engine oracle (data-dependent EM fixpoint); UnigramSuite
  // pins the table bitwise vs a single-threaded marginals reference,
  // a hand-computed two-segmentation lattice, and corpus-likelihood
  // dominance over the Viterbi trainer.) ---------------------------------
  def unigramTrainEm(s: SparkSession, dir: String): DataFrame =
    graft.llm.Unigram.trainUnigramEm(docs(s, dir))

  // --- llm_unigram_sample (rows-only: subword-REGULARIZATION sampling
  // — Kudo 2018's headline: segmentations drawn P(seg)^α/ΣP^α from
  // the lattice instead of the one best path, the data-augmentation
  // input to regularized tokenizer training. Native LatticeSampleExpr
  // (forward-filtering backward-sampling; splitmix64 stream seeded by
  // seed⊕hash(word) — a PURE function of (word, seed), so the draw is
  // identical on any partitioning or task retry, and an epoch-keyed
  // seed gives fresh draws per epoch). Report: per-doc sampled vs
  // Viterbi piece counts at α=0.5. UnigramSuite pins reconstruction,
  // Viterbi score dominance, determinism, and the sampling
  // distribution itself on a hand lattice at α ∈ {0, 1, 5}.) -------------
  def unigramSample(s: SparkSession, dir: String): DataFrame = {
    // modelFor (not trainModel): apply side reuses the session's
    // trained model (the wordpiece_encode/bpe_encode memo precedent).
    val model = graft.llm.Unigram.modelFor(docs(s, dir))
    val pcs = model.map(_._1)
    val lps = model.map(_._3)
    docs(s, dir)
      .select(col("doc_id"),
        explode_outer(TextAnalysis.tokens(col("text"))).as("w"))
      .where(col("w").isNotNull)
      .select(col("doc_id"),
        size(graft.functions.LatticeSampleExpr
          .lattice_sample(col("w"), pcs, lps, alpha = 0.5, seed = 42L))
          .as("np"),
        size(graft.functions.ViterbiSegmentExpr
          .viterbi_segment(col("w"), pcs, lps)).as("nv"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("np").as("n_pieces_sampled"),
        sum("nv").as("n_pieces_viterbi"))
      .withColumn("sampled_over_viterbi",
        round(col("n_pieces_sampled") / col("n_pieces_viterbi"), 4))
  }

  // --- llm_unigram_encode (rows-only: the apply side — segment the
  // corpus under its OWN trained unigram model and report per-doc
  // fertility (pieces per word token), the number a tokenizer choice
  // is judged by. Construction trains (the bpe_train contract);
  // UnigramSuite pins native Viterbi ≡ the reference and subword
  // reconstruction.) -----------------------------------------------------
  def unigramEncode(s: SparkSession, dir: String): DataFrame = {
    // modelFor (not trainModel): apply side reuses the session's
    // trained model (the wordpiece_encode/bpe_encode memo precedent).
    val model = graft.llm.Unigram.modelFor(docs(s, dir))
    val pcs = model.map(_._1)
    val lps = model.map(_._3)
    docs(s, dir)
      .select(col("doc_id"),
        explode_outer(TextAnalysis.tokens(col("text"))).as("w"))
      .where(col("w").isNotNull)
      .select(col("doc_id"),
        size(graft.functions.ViterbiSegmentExpr
          .viterbi_segment(col("w"), pcs, lps)).as("np"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("np").as("n_pieces"))
      .withColumn("pieces_per_token",
        round(col("n_pieces") / col("n_tokens"), 4))
  }

  // --- llm_quality_model (rows-only: trained quality classifier —
  // the GPT-3/CCNet-style filter, self-supervised against vowel-
  // stripped twins; LBFGS partition sums aren't SQL-reproducible, so
  // QualityModelSuite pins separation accuracy ≥ 0.9 both classes
  // and score determinism across partitionings. Construction fits
  // the model — the bpe_train contract.) --------------------------------
  def qualityModel(s: SparkSession, dir: String): DataFrame =
    graft.llm.QualityModel.trainScore(docs(s, dir))

  // --- llm_quality_model_lm (rows-only: the FUSED feature family —
  // base per-row signals + corpus-trained unigram/bigram LM features,
  // the full CCNet recipe. QualityModelSuite pins accuracy ≥ 0.9,
  // determinism across partitionings, and — on a controlled corpus
  // with real bigram structure — that the LM feature alone separates
  // word-order corruption the base family provably cannot see.) ---------
  def qualityModelLm(s: SparkSession, dir: String): DataFrame =
    graft.llm.QualityModel.trainScoreFused(docs(s, dir))

  // --- llm_e2e_score_sample (rows-only: the CCNet loop closed —
  // train the quality discriminator, then importance-sample the
  // corpus BY THE TRAINED SCORE through the existing sampleByScore
  // machinery (keep probability = q_score). Demonstrates the trained
  // filter plugging into the deterministic sampling gate; suite pins
  // kept-fraction ≈ mean score and subset/determinism.) ------------------
  def e2eScoreSample(s: SparkSession, dir: String): DataFrame =
    // modelFor (not trainScore): the apply-side composition reuses the
    // session's fitted discriminator — same coefficients (the fit is
    // partitioning-deterministic), the encode-after-train precedent.
    graft.llm.Sampling.sampleByScore(
      graft.llm.QualityModel.scoreWith(docs(s, dir),
        graft.llm.QualityModel.modelFor(docs(s, dir))), "q_score")

  // --- llm_lang_id --------------------------------------------------------
  def langId(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang_pred"))

  val langIdSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    $langScoresSql
       |  FROM documents),
       |m AS (SELECT *, $langMaxSql AS mx FROM scored)
       |SELECT doc_id, CASE
       |      $langCaseSql
       |    ELSE 'und' END AS lang_pred
       |FROM m""".stripMargin

  // --- llm_quality --------------------------------------------------------
  def quality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualitySignals(docs(s, dir))
      .select("doc_id", "n_chars", "n_tokens", "punct_ratio",
        "stopword_ratio", "mean_word_len", "verdict")

  val qualitySql: String =
    """WITH sig AS (
      |  SELECT doc_id,
      |    length(text) AS n_chars,
      |    len(regexp_extract_all(text, '\S+')) AS n_tokens,
      |    round(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) /
      |      greatest(length(text), 1), 4) AS punct_ratio,
      |    round(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |        t -> list_contains(['the','and','of','to','in','is','a'], t))) /
      |      greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 4)
      |      AS stopword_ratio,
      |    round(length(regexp_replace(text, '\s+', '', 'g')) /
      |      greatest(len(regexp_extract_all(text, '\S+')), 1), 4)
      |      AS mean_word_len
      |  FROM documents)
      |SELECT doc_id, n_chars, n_tokens, punct_ratio, stopword_ratio,
      |  mean_word_len,
      |  CASE WHEN n_tokens >= 5 AND n_tokens <= 100000
      |    AND punct_ratio < 0.2 AND mean_word_len < 15
      |    THEN 'keep' ELSE 'drop' END AS verdict
      |FROM sig""".stripMargin

  // --- llm_entropy: per-doc character/token Shannon entropy — the
  // Gopher-family gibberish signal (TextAnalysis.entropySignals).
  // Both engines split chars with the empty separator (newlines
  // included — a '.' regex would drop them) and use the one-pass
  // H = ln n − Σ cnt·ln cnt / n identity. --------------------------------
  def entropy(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.entropySignals(docs(s, dir))

  val entropySql: String =
    """WITH ch AS (
      |  SELECT doc_id, u, count(*) AS cnt FROM (
      |    SELECT doc_id, unnest(split(text, '')) AS u FROM documents)
      |  WHERE u IS NOT NULL AND u <> '' GROUP BY 1, 2),
      |che AS (
      |  SELECT doc_id,
      |    round(ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt), 4)
      |      AS char_entropy
      |  FROM ch GROUP BY 1),
      |tk AS (
      |  SELECT doc_id, u, count(*) AS cnt FROM (
      |    SELECT doc_id,
      |      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS u
      |    FROM documents)
      |  WHERE u IS NOT NULL AND u <> '' GROUP BY 1, 2),
      |tke AS (
      |  SELECT doc_id,
      |    round(ln(sum(cnt)) - sum(cnt * ln(cnt)) / sum(cnt), 4)
      |      AS token_entropy
      |  FROM tk GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(che.char_entropy, 0.0) AS char_entropy,
      |  coalesce(tke.token_entropy, 0.0) AS token_entropy
      |FROM documents d
      |LEFT JOIN che ON che.doc_id = d.doc_id
      |LEFT JOIN tke ON tke.doc_id = d.doc_id""".stripMargin

  // --- llm_token_count ----------------------------------------------------
  def tokenCount(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
      TextAnalysis.bpeishCount(col("text")).as("bpeish_tokens"),
      length(col("text")).as("n_chars"))

  val tokenCountSql: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '\S+')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
      |    AS bpeish_tokens,
      |  length(text) AS n_chars
      |FROM documents""".stripMargin

  // --- llm_fingerprint ----------------------------------------------------
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fingerprint"))

  val fingerprintSql: String =
    """SELECT doc_id,
      |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
      |    AS fingerprint
      |FROM documents""".stripMargin

  // --- llm_winnow ---------------------------------------------------------
  /** Winnowing document fingerprints, exploded to (doc_id, fp) rows —
    * the joinable shared-passage key set. */
  def winnow(s: SparkSession, dir: String): DataFrame =
    // explode_outer + null test on the generated column (the
    // Dedup.shingleInv lesson: no winnow re-run in a pushed filter)
    docs(s, dir).select(col("doc_id"),
      explode_outer(TextAnalysis.winnowFingerprints(col("text"), k = 4,
        w = 4)).as("fp"))
      .where(col("fp").isNotNull)

  /** Winnow-fingerprint CTE chain over source CTE/table `src`, names
    * prefixed with `p` (so two corpora can be fingerprinted in one
    * statement): same k=4-gram text shingles as the ngram oracles,
    * md5-long per shingle with the signed-64 reconstruction
    * (hi·2^32 + lo − 2^64·[sign bit], exact in HUGEINT), then w=4
    * window minima + distinct → `${p}win(doc_id, fps)`. */
  private def winnowFpsCte(src: String, p: String): String =
    s"""${p}tok AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
       |  FROM $src),
       |${p}sh AS (
       |  SELECT doc_id, CASE WHEN len(w) >= 4 THEN
       |    list_transform(range(1, len(w) - 2),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])
       |    ELSE [] END AS s
       |  FROM ${p}tok),
       |${p}h AS (
       |  SELECT doc_id, list_transform(s, x -> CAST(
       |      CAST('0x' || substring(md5(x), 1, 8) AS BIGINT)::HUGEINT
       |        * 4294967296
       |      + CAST('0x' || substring(md5(x), 9, 8) AS BIGINT)
       |      - CASE WHEN CAST('0x' || substring(md5(x), 1, 8) AS BIGINT)
       |          >= 2147483648
       |        THEN 18446744073709551616 ELSE 0 END AS BIGINT)) AS hs
       |  FROM ${p}sh),
       |${p}win AS (
       |  SELECT doc_id, CASE
       |      WHEN len(hs) >= 4 THEN list_distinct(
       |        list_transform(range(1, len(hs) - 2),
       |          i -> list_min(hs[i:i+3])))
       |      WHEN len(hs) > 0 THEN [list_min(hs)]
       |      ELSE [] END AS fps
       |  FROM ${p}h)""".stripMargin

  val winnowSql: String =
    s"""WITH ${winnowFpsCte("documents", "")}
       |SELECT doc_id, unnest(fps) AS fp FROM win""".stripMargin

  // --- llm_decontaminate --------------------------------------------------
  /** Benchmark decontamination over the near-dup corpus: every 13th
    * base doc plays the benchmark set, so contamination has three
    * deterministic flavors — benchmark docs present verbatim in the
    * corpus, their planted near-copies (doc_id % 91 == 0 gets both
    * treatments), and genuine chance passage overlap. */
  def decontaminate(s: SparkSession, dir: String): DataFrame =
    graft.llm.Decontaminate.contaminated(
      docsWithNearDups(s, dir),
      docs(s, dir).where(col("doc_id") % 13 === 0).select("doc_id", "text"),
      minShared = 2)
      .orderBy("doc_id")

  val decontaminateSql: String =
    s"""WITH corpus AS ($corpusNearSql),
       |bench AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0),
       |${winnowFpsCte("corpus", "c_")},
       |${winnowFpsCte("bench", "b_")},
       |c_fp AS (SELECT doc_id, unnest(fps) AS fp FROM c_win),
       |b_fp AS (SELECT DISTINCT unnest(fps) AS fp FROM b_win)
       |SELECT doc_id, count(*) AS n_shared
       |FROM c_fp JOIN b_fp USING (fp)
       |GROUP BY doc_id HAVING count(*) >= 2""".stripMargin

  // --- llm_decontaminate_bloom (FULLY ORACLED — byte-identical to
  // llm_decontaminate by construction: the Bloom filter only
  // PRE-FILTERS map-side (no false negatives) and the exact semi-join
  // kills the FPP sliver, so this query runs the SAME oracle text.
  // The twin exists for the large-benchmark regime where broadcasting
  // the full fingerprint set is the bottleneck: ~10 bits/item ride
  // the task binary instead.) --------------------------------------------
  def decontaminateBloom(s: SparkSession, dir: String): DataFrame =
    graft.llm.Decontaminate.contaminatedBloom(
      docsWithNearDups(s, dir),
      docs(s, dir).where(col("doc_id") % 13 === 0).select("doc_id", "text"),
      minShared = 2)
      .orderBy("doc_id")

  // --- llm_contamination_report -------------------------------------------
  /** Benchmark-side contamination report
    * ([[graft.llm.Decontaminate.contaminationReport]]): per benchmark
    * item, how many corpus docs share ≥2 winnow fingerprints with it
    * and the total shared-fp mass — the eval-integrity view
    * ([[decontaminate]] is the corpus-side transpose over the SAME
    * near-dup corpus and benchmark, so the two views adjudicate each
    * other). */
  def contaminationReport(s: SparkSession, dir: String): DataFrame =
    graft.llm.Decontaminate.contaminationReport(
      docsWithNearDups(s, dir),
      docs(s, dir).where(col("doc_id") % 13 === 0).select("doc_id", "text"),
      minShared = 2)
      .orderBy("bench_id")

  val contaminationReportSql: String =
    s"""WITH corpus AS ($corpusNearSql),
       |bench AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0),
       |${winnowFpsCte("corpus", "c_")},
       |${winnowFpsCte("bench", "b_")},
       |c_fp AS (SELECT doc_id, unnest(fps) AS fp FROM c_win),
       |b_fp AS (SELECT doc_id AS bench_id, unnest(fps) AS fp FROM b_win),
       |pairs AS (
       |  SELECT bench_id, doc_id, count(*) AS n_shared
       |  FROM c_fp JOIN b_fp USING (fp)
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT bench_id, count(*) AS n_docs,
       |  CAST(sum(n_shared) AS BIGINT) AS n_fp_shared
       |FROM pairs GROUP BY bench_id""".stripMargin

  // --- llm_novelty --------------------------------------------------------
  /** Novelty over the near-dup corpus
    * ([[graft.llm.TextAnalysis.noveltyScores]]): the planted
    * tail-extended copies score near 0 (their originals own all
    * shared shingles, only the junction+tail shingles are new) while
    * originals keep their whole shingle sets — the soft-signal
    * counterpart of the dedup family, over the SAME corpus so the
    * structure is attributable. */
  def novelty(s: SparkSession, dir: String): DataFrame =
    graft.llm.TextAnalysis.noveltyScores(docsWithNearDups(s, dir))

  val noveltySql: String =
    s"""WITH corpus AS ($corpusNearSql),
       |nv_tok AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
       |  FROM corpus),
       |nv_sets AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3 THEN
       |    list_transform(range(1, len(w) - 1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
       |    ELSE [] END) AS s
       |  FROM nv_tok),
       |nv_inv AS (
       |  SELECT doc_id, unnest(list_transform(s, x -> CAST(
       |      CAST('0x' || substring(md5(x), 1, 8) AS BIGINT)::HUGEINT
       |        * 4294967296
       |      + CAST('0x' || substring(md5(x), 9, 8) AS BIGINT)
       |      - CASE WHEN CAST('0x' || substring(md5(x), 1, 8) AS BIGINT)
       |          >= 2147483648
       |        THEN 18446744073709551616 ELSE 0 END AS BIGINT))) AS h
       |  FROM nv_sets WHERE len(s) > 0),
       |nv_own AS (SELECT h, min(doc_id) AS owner FROM nv_inv GROUP BY h),
       |nv_per AS (
       |  SELECT i.doc_id, count(*) AS n_shingles,
       |    CAST(sum(CASE WHEN o.owner = i.doc_id THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_novel
       |  FROM nv_inv i JOIN nv_own o USING (h)
       |  GROUP BY i.doc_id)
       |SELECT doc_id, n_shingles, n_novel,
       |  round(n_novel / n_shingles, 4) AS novelty
       |FROM nv_per""".stripMargin

  // --- llm_sample_mix -----------------------------------------------------
  /** Deterministic stratified corpus mixing by predicted language:
    * en keeps 50 %, de everything, fr 25 %, everything else 10 % —
    * the domain-reweighting pass of a pretraining pipeline, decided
    * by a stable md5 bucket of the doc id (reproducible across
    * engines/runs — the oracle rebuilds the exact decision). */
  def sampleMix(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
      .withColumn("lang", TextAnalysis.langId(col("text")))
    graft.llm.Sampling.sampleMix(d, "lang",
      Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25), defaultRate = 0.1)
      .select("doc_id", "lang", "bucket")
  }

  /** Shared oracle fragment: signed-64 md5-long of SQL expression `e`
    * (first 8 digest bytes, big-endian, HUGEINT reconstruction), pmod
    * `m` — the DuckDB rebuild of [[graft.llm.Sampling.hashBucket]].
    * ONE copy, spliced into every oracle that shards/samples on it
    * (sampleMix, pack): a fix to the bucket derivation lands
    * everywhere or nowhere. */
  private def md5BucketSql(e: String, m: Int): String =
    s"((CAST(CAST('0x' || substring(md5($e), 1, 8) AS BIGINT)::HUGEINT" +
      s" * 4294967296 + CAST('0x' || substring(md5($e), 9, 8) AS BIGINT)" +
      s" - CASE WHEN CAST('0x' || substring(md5($e), 1, 8) AS BIGINT)" +
      s" >= 2147483648 THEN 18446744073709551616 ELSE 0 END AS BIGINT)" +
      s" % $m) + $m) % $m"

  /** Shared oracle fragments for the stopword language-ID chain —
    * per-language score columns, the greatest() max, and the argmax
    * CASE (tie order = stopwords order, 'und' on zero hits). ONE copy,
    * spliced by the langId/sampleMix/curation/e2e oracles. */
  private def langScoresSql: String = TextAnalysis.stopwords.map {
    case (l, ws) =>
      val listSql = ws.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'), " +
        s"t -> list_contains($listSql, t))) AS s_$l"
  }.mkString(",\n    ")
  private def langMaxSql: String = TextAnalysis.stopwords
    .map(p => s"s_${p._1}").mkString("greatest(", ", ", ")")
  private def langCaseSql: String = TextAnalysis.stopwords.map(_._1)
    .map(l => s"WHEN s_$l = mx AND mx > 0 THEN '$l'")
    .mkString("\n      ")

  /** Shared oracle fragments for the quality filter — the signal
    * column list and the keep predicate (curation + e2e oracles). */
  private def qualitySigColsSql: String =
    "len(regexp_extract_all(text, '\\S+')) AS n_tokens,\n" +
      "    round(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) /\n" +
      "      greatest(length(text), 1), 4) AS punct_ratio,\n" +
      "    round(length(regexp_replace(text, '\\s+', '', 'g')) /\n" +
      "      greatest(len(regexp_extract_all(text, '\\S+')), 1), 4)\n" +
      "      AS mean_word_len,\n" +
      "    md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))\n" +
      "      AS fingerprint"
  private def qualityKeepSql: String =
    "n_tokens >= 5 AND n_tokens <= 100000\n" +
      "    AND punct_ratio < 0.2 AND mean_word_len < 15"

  val sampleMixSql: String = {
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    $langScoresSql
       |  FROM documents),
       |m AS (SELECT *, $langMaxSql AS mx FROM scored),
       |lang AS (
       |  SELECT doc_id, CASE
       |      $langCaseSql
       |      ELSE 'und' END AS lang
       |  FROM m),
       |b AS (
       |  SELECT doc_id, lang,
       |    ${md5BucketSql("CAST(doc_id AS VARCHAR)", 10000)} AS bucket
       |  FROM lang)
       |SELECT doc_id, lang, bucket FROM b
       |WHERE bucket < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 10000
       |  WHEN 'fr' THEN 2500 ELSE 1000 END""".stripMargin
  }

  // --- llm_sample_score ---------------------------------------------------
  /** Quality-WEIGHTED sampling ([[graft.llm.Sampling.sampleByScore]]):
    * each doc's keep probability is its own stopword ratio — the
    * CCNet/RefinedWeb-style soft quality gate, where fluent English
    * prose (high stopword density) survives at a high rate and
    * symbol/gibberish text decays toward zero instead of a hard
    * verdict cut. The score is already rounded to 4 decimals, so the
    * per-row integer threshold `round(score·10000)` is identical in
    * both engines (product lands near-integer, never near the
    * rounding half-way). */
  def sampleScore(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.sampleByScore(
      graft.llm.TextAnalysis.qualitySignals(docs(s, dir))
        .select("doc_id", "stopword_ratio"),
      "stopword_ratio")

  val sampleScoreSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    round(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |        t -> list_contains(['the','and','of','to','in','is','a'], t))) /
       |      greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 4)
       |      AS stopword_ratio
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, stopword_ratio,
       |    ${md5BucketSql("CAST(doc_id AS VARCHAR)", 10000)} AS bucket
       |  FROM sig)
       |SELECT doc_id, stopword_ratio, bucket FROM b
       |WHERE bucket < CAST(round(stopword_ratio * 10000) AS BIGINT)""".stripMargin

  // --- llm_reservoir ------------------------------------------------------
  /** Weighted reservoir sampling ([[graft.llm.Sampling.weightedReservoir]],
    * Efraimidis–Spirakis A-Res): the 5 docs per language with the
    * largest u^(1/w), w = the doc's stopword-ratio quality score —
    * exact quality-proportional sampling WITHOUT replacement, where
    * [[sampleScore]]'s Bernoulli gate cannot fix the output size. */
  def reservoir(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.weightedReservoir(
      graft.llm.TextAnalysis.qualitySignals(docs(s, dir))
        .select("doc_id", "lang", "stopword_ratio"),
      k = 5, strataCol = "lang", weightCol = "stopword_ratio")

  /** Shared A-Res rank-key fragment — ONE copy of the reservoir key
    * `round(ln(u)/greatest(<weight>, 1e-4), 6)` with the md5-uniform
    * `u = (first-32-md5-bits('wr_' || doc_id) + 0.5)/2³²`, spliced by
    * the llm_reservoir and llm_e2e_select oracles (a key-derivation
    * fix — e.g. the CAST-before-+0.5 decimal trap — lands in both or
    * neither). Mirrors [[graft.llm.Sampling.weightedReservoir]]. */
  private def resKeySql(weightExpr: String): String =
    s"""round(ln((CAST(CAST('0x' || substring(
       |          md5('wr_' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
       |          AS DOUBLE)
       |        + 0.5) / 4294967296.0)
       |      / greatest($weightExpr, CAST('0.0001' AS DOUBLE)), 6)""".stripMargin

  val reservoirSql: String =
    s"""WITH sig AS (
       |  SELECT doc_id, lang,
       |    round(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
       |        t -> list_contains(['the','and','of','to','in','is','a'], t))) /
       |      greatest(len(regexp_extract_all(lower(text), '[a-z0-9]+')), 1), 4)
       |      AS stopword_ratio
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, lang, stopword_ratio,
       |    ${resKeySql("stopword_ratio")}
       |      AS res_key
       |  FROM sig),
       |r AS (
       |  SELECT doc_id, lang, stopword_ratio, res_key, row_number() OVER (
       |    PARTITION BY lang ORDER BY res_key DESC, doc_id ASC) AS rank
       |  FROM b)
       |SELECT doc_id, lang, stopword_ratio, res_key, rank FROM r
       |WHERE rank <= 5""".stripMargin

  // --- llm_reservoir_stream / llm_source_cap_stream -----------------------
  /** The sampling family's streaming twins: per-group top-k under a
    * deterministic total order is a MERGEABLE IDEMPOTENT summary
    * ([[graft.streaming.StreamingGroupTopK]]), so the store snapshot
    * after ANY chunking — here 3 doc_id-mod batches, each
    * pre-summarized with the batch operator itself — equals the batch
    * op over the whole corpus, and BOTH twins reuse their batch
    * query's DuckDB oracle verbatim (fully-oracled streaming queries;
    * the replay/chunking pins live in StreamingGroupTopKSuite). */
  def reservoirStream(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-srsv")
      .toString
    val scored = graft.llm.TextAnalysis.qualitySignals(docs(s, dir))
      .select("doc_id", "lang", "stopword_ratio")
    val st = graft.streaming.StreamingGroupTopK(s"$root/store", k = 5,
      groupCols = Seq("lang"),
      order = Seq(col("res_key").desc, col("doc_id").asc),
      idCols = Seq("doc_id"))
    (0 until 3).foreach { c =>
      st.processBatch(graft.llm.Sampling.weightedReservoir(
        scored.where(pmod(col("doc_id"), lit(3L)) === c),
        k = 5, strataCol = "lang", weightCol = "stopword_ratio")
        .drop("rank")) // rank is positional; the snapshot re-ranks
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("res_key").desc, col("doc_id").asc)
    st.snapshot(s).withColumn("rank", row_number().over(w))
      .orderBy("lang", "rank")
  }

  def sourceCapStream(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-scap")
      .toString
    val d = docs(s, dir).select("doc_id", "source", "n_chars")
    val ord = Seq(col("n_chars").desc, col("doc_id").asc)
    val st = graft.streaming.StreamingGroupTopK(s"$root/store", k = 10,
      groupCols = Seq("source"), order = ord, idCols = Seq("doc_id"))
    (0 until 3).foreach { c =>
      st.processBatch(graft.llm.Sampling.capPerKey(
        d.where(pmod(col("doc_id"), lit(3L)) === c),
        "source", maxRows = 10, ord))
    }
    st.snapshot(s).orderBy("source", "doc_id")
  }

  // --- llm_holdout_split --------------------------------------------------
  /** 5% deterministic holdout over the corpus
    * ([[graft.llm.Sampling.holdoutSplit]]): every doc labeled
    * train/holdout by the stable md5 bucket — sticky under corpus
    * growth, so eval docs never silently migrate into training
    * between pipeline versions. */
  def holdoutSplit(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.holdoutSplit(
      docs(s, dir).select("doc_id"), holdoutFraction = 0.05)

  val holdoutSplitSql: String =
    s"""SELECT doc_id,
       |  CASE WHEN ${md5BucketSql("CAST(doc_id AS VARCHAR)", 10000)} < 500
       |    THEN 'holdout' ELSE 'train' END AS split
       |FROM documents""".stripMargin

  // --- llm_upsample -------------------------------------------------------
  /** Per-stratum upsampling over the language-ID'd corpus: en docs
    * run 2.5 epochs (2 whole copies + a 50% fractional third), de 1,
    * fr 0.25, everything else 0.5 — the replication side of mixing
    * that [[sampleMix]]'s keep/drop rates cannot express. */
  def upsampleQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
      .withColumn("lang", TextAnalysis.langId(col("text")))
    graft.llm.Sampling.upsample(d, "lang",
      Map("en" -> 2.5, "de" -> 1.0, "fr" -> 0.25), defaultRate = 0.5)
      .select("doc_id", "lang", "bucket", "epoch")
  }

  val upsampleSql: String = {
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    $langScoresSql
       |  FROM documents),
       |m AS (SELECT *, $langMaxSql AS mx FROM scored),
       |lang AS (
       |  SELECT doc_id, CASE
       |      $langCaseSql
       |      ELSE 'und' END AS lang
       |  FROM m),
       |b AS (
       |  SELECT doc_id, lang,
       |    ${md5BucketSql("CAST(doc_id AS VARCHAR)", 10000)} AS bucket
       |  FROM lang),
       |n AS (
       |  SELECT doc_id, lang, bucket,
       |    rm // 10000 + CASE WHEN bucket < rm % 10000 THEN 1 ELSE 0 END
       |      AS nc
       |  FROM (SELECT *, CASE lang WHEN 'en' THEN 25000
       |      WHEN 'de' THEN 10000 WHEN 'fr' THEN 2500
       |      ELSE 5000 END AS rm FROM b))
       |SELECT doc_id, lang, bucket, unnest(range(0, nc)) AS epoch
       |FROM n WHERE nc > 0""".stripMargin
  }

  // --- llm_source_cap -----------------------------------------------------
  /** Per-source document cap — the anti-domain-dominance pass: keep
    * the 10 LONGEST docs per source (n_chars desc, doc_id tiebreak —
    * a total order, so the kept set is exact and cross-engine
    * checkable). Plan-guarded to keep Catalyst's partial
    * WindowGroupLimit below the exchange: a hot domain ships at most
    * cap × nMapPartitions rows to its reducer, never its whole
    * payload ([[graft.llm.Sampling.capPerKey]]). */
  def sourceCap(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.capPerKey(
      docs(s, dir).select("doc_id", "source", "n_chars"),
      "source", maxRows = 10,
      Seq(col("n_chars").desc, col("doc_id").asc))

  val sourceCapSql: String =
    """SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents) WHERE rn <= 10""".stripMargin

  // --- llm_token_budget ---------------------------------------------------
  /** Token-budget subsampling: keep a deterministic greedy prefix of
    * each language's docs (md5-bucket pseudo-random order) until the
    * language's token budget fills — the "B tokens per stratum" form
    * a pretraining mix is actually specified in. Two-level prefix sum
    * ([[graft.llm.Sampling.tokenBudget]]): per-(lang, bucket-range
    * shard) windows run strata × 8 wide; the tiny shard-offset chain
    * broadcasts back. The oracle rebuilds the SINGLE global
    * (bucket, id)-ordered window the two levels provably equal —
    * no shard term appears in it at all. */
  def tokenBudget(s: SparkSession, dir: String): DataFrame =
    graft.llm.Sampling.tokenBudget(
      docs(s, dir).select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens")),
      "lang", Map("en" -> 5000L, "de" -> 2000L, "fr" -> 2000L),
      defaultBudget = 1000L)

  /** ONE oracle text for both token-budget modes (the kn3SqlFor
    * precedent — fix both or neither): the batch operator is the
    * global per-stratum prefix in (bucket, id) order; the streaming
    * twin under a FIXED chunking is the SAME prefix with the batch
    * index prepended to the order (`orderPrefix` = "doc_id % 3, " for
    * the registered 3-chunk replay; "" = batch). */
  private def tokenBudgetSqlFor(orderPrefix: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, lang,
       |    len(regexp_extract_all(text, '\\S+')) AS n_tokens,
       |    ${md5BucketSql("CAST(doc_id AS VARCHAR)", 10000)} AS bucket
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, lang, n_tokens,
       |    sum(n_tokens) OVER (PARTITION BY lang
       |      ORDER BY ${orderPrefix}bucket, doc_id
       |      ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT doc_id, lang, n_tokens FROM w
       |WHERE cum <= CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000
       |  WHEN 'fr' THEN 2000 ELSE 1000 END""".stripMargin

  val tokenBudgetSql: String = tokenBudgetSqlFor("")

  // --- llm_token_budget_stream ---------------------------------------------
  /** The token-budget quota as a continuous admission gate
    * ([[graft.streaming.StreamingTokenBudget]], 3-chunk replay):
    * within a batch the admission order is the batch operator's own
    * (shared prefixTokens derivation); across batches it is
    * arrival-ordered — so under this FIXED chunking the admitted set
    * is exactly the global (batch, bucket, id) prefix and the oracle
    * is [[tokenBudgetSqlFor]] with the batch index prepended. The
    * store records per-batch per-stratum totals (batch-partitioned
    * overwrite + self-exclusion — the additive-sums replay
    * discipline; crash-replay pinned in StreamingTokenBudgetSuite). */
  def tokenBudgetStream(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory("graft-stb")
      .toString
    val d = docs(s, dir).select(col("doc_id"), col("lang"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val st = graft.streaming.StreamingTokenBudget(s"$root/store",
      "lang", Map("en" -> 5000L, "de" -> 2000L, "fr" -> 2000L),
      defaultBudget = 1000L)
    (0 until 3).map(c =>
        st.processBatch(d.where(pmod(col("doc_id"), lit(3L)) === c),
          batchId = c.toLong))
      .reduce(_.unionByName(_))
      .orderBy("doc_id")
  }

  val tokenBudgetStreamSql: String = tokenBudgetSqlFor("doc_id % 3, ")

  // --- llm_pii ------------------------------------------------------------
  /** PII scrubbing over a corpus with deterministically planted PII:
    * every 11th doc gets an email (id-derived), an IPv4 (id-derived
    * octet), and a phone number appended — so redaction and counting
    * have real work with a reproducible ground truth. */
  private def docsWithPii(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.withColumn("text",
      when(col("doc_id") % 11 === 0,
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com"),
          lit(" from 10.0."), col("doc_id") % 255,
          lit(".7 or call +1 (555) 123-4567 today")))
        .otherwise(col("text")))
  }
  private val corpusPiiSql =
    """SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN
      |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
      |      '@example.com from 10.0.' ||
      |      CAST(doc_id % 255 AS VARCHAR) ||
      |      '.7 or call +1 (555) 123-4567 today'
      |    ELSE text END AS text
      |FROM documents""".stripMargin

  def pii(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.piiCounts(docsWithPii(s, dir))
      .select("doc_id", "n_email", "n_ip", "n_phone", "clean")

  val piiSql: String = {
    // The regex constants interpolate into single-quoted DuckDB string
    // literals: escape ' as '' so a future pattern edit containing a
    // quote breaks neither the oracle SQL nor silently diverges from
    // the Spark-side semantics (today's patterns contain none).
    def q(re: String): String = re.replace("'", "''")
    val email = q(TextAnalysis.EmailRe)
    val ip = q(TextAnalysis.Ipv4Re)
    val phone = q(TextAnalysis.PhoneRe)
    s"""WITH corpus AS ($corpusPiiSql),
       |staged AS (
       |  SELECT doc_id, text,
       |    regexp_replace(text, '$email', '[EMAIL]', 'g') AS s1
       |  FROM corpus),
       |staged2 AS (
       |  SELECT *, regexp_replace(s1, '$ip', '[IP]', 'g') AS s2
       |  FROM staged)
       |SELECT doc_id,
       |  len(regexp_extract_all(text, '$email')) AS n_email,
       |  len(regexp_extract_all(s1, '$ip')) AS n_ip,
       |  len(regexp_extract_all(s2, '$phone')) AS n_phone,
       |  regexp_replace(s2, '$phone', '[PHONE]', 'g') AS clean
       |FROM staged2""".stripMargin
  }

  // --- llm_html_strip ------------------------------------------------------
  /** HTML boilerplate stripping over a corpus with deterministically
    * planted markup ([[graft.llm.TextAnalysis.stripHtml]]): every 5th
    * doc is wrapped in a full page — style and script blocks (the
    * script body contains a bare `<` and `&&` to prove block content
    * goes wholesale), a comment, nested tags, and entities whose
    * decode must happen AFTER tag stripping (`&lt;b&gt;` surfaces as
    * literal text, never as a strippable tag). Cleaned TEXT
    * hash-matches the oracle, the llm_pii convention. */
  private val htmlPrefix = "<html><head><style>p {color: red}" +
    "</style><script type=\"text/javascript\">var x = 1 < 2 && y;" +
    "</script></head><body><!-- note --><div class=\"main\"><p>"
  private val htmlSuffix =
    "</p> &amp; more &lt;b&gt;tags&lt;/b&gt;&nbsp;here</div></body></html>"
  private def docsWithHtml(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), col("text"))
      .withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(lit(htmlPrefix), col("text"), lit(htmlSuffix)))
          .otherwise(col("text")))

  def htmlStrip(s: SparkSession, dir: String): DataFrame =
    docsWithHtml(s, dir)
      .select(col("doc_id"),
        TextAnalysis.stripHtml(col("text")).as("text_clean"))

  private def sqlQuote(x: String): String = x.replace("'", "''")

  /** The full strip chain as ONE SQL expression over column `c` —
    * shared by llm_html_strip and the extraction capstone (fix both
    * or neither). */
  private def stripHtmlSqlExpr(c: String): String = {
    val stripped =
      s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |    $c,
         |    '${sqlQuote(TextAnalysis.HtmlScriptRe)}', ' ', 'g'),
         |    '${sqlQuote(TextAnalysis.HtmlStyleRe)}', ' ', 'g'),
         |    '${sqlQuote(TextAnalysis.HtmlCommentRe)}', ' ', 'g'),
         |    '${sqlQuote(TextAnalysis.HtmlTagRe)}', ' ', 'g')""".stripMargin
    s"""trim(regexp_replace(
       |    replace(replace(replace(replace(replace(replace(replace(
       |      $stripped,
       |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |      '&#39;', ''''), '&apos;', ''''), '&nbsp;', ' '),
       |      '&amp;', '&'),
       |    '\\s+', ' ', 'g'))""".stripMargin
  }

  /** The html-planted corpus as a SQL SELECT (doc_id, text[, url]) —
    * shared by llm_html_strip and the capstone. `innerText` lets the
    * capstone substitute its boilerplate plant before the wrap. */
  private def htmlCorpusSql(withUrl: Boolean,
      innerText: String = "text"): String = {
    val urlCol = if (withUrl) s",\n    $urlCaseSql AS url" else ""
    s"""SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN
       |      '${sqlQuote(htmlPrefix)}' || $innerText ||
       |        '${sqlQuote(htmlSuffix)}'
       |    ELSE $innerText END AS text$urlCol
       |  FROM documents""".stripMargin
  }

  val htmlStripSql: String =
    s"""WITH corpus AS (
       |  ${htmlCorpusSql(withUrl = false)})
       |SELECT doc_id,
       |  ${stripHtmlSqlExpr("text")} AS text_clean
       |FROM corpus""".stripMargin

  // --- llm_url_dedup -------------------------------------------------------
  /** URL-level dedup — the FIRST dedup pass of a crawl pipeline,
    * keyed on [[graft.llm.TextAnalysis.normalizeUrl]]'s canonical
    * form. Four deterministic raw variants per doc (case noise,
    * explicit default port, www prefix, tracking params — one as the
    * FIRST query param so the `?` re-anchor is exercised — trailing
    * slash, fragment) all collapse onto one canonical URL per
    * (site, page) cell; dedup keeps the min doc id and counts the
    * collapsed variants. */
  // NOTE trailing `||` placement: a line STARTING with `||` loses one
  // pipe to stripMargin and becomes bitwise OR (the embedPairsCtes
  // lesson)
  private val urlCaseSql: String =
    """CASE doc_id % 4
      |    WHEN 0 THEN 'https://www.site' || CAST(doc_id % 40 AS VARCHAR) ||
      |      '.com/page' || CAST(doc_id % 5 AS VARCHAR)
      |    WHEN 1 THEN 'HTTPS://WWW.Site' || CAST(doc_id % 40 AS VARCHAR) ||
      |      '.COM:443/page' || CAST(doc_id % 5 AS VARCHAR) || '/'
      |    WHEN 2 THEN 'https://site' || CAST(doc_id % 40 AS VARCHAR) ||
      |      '.com/page' || CAST(doc_id % 5 AS VARCHAR) ||
      |      '?utm_source=feed' || CAST(doc_id AS VARCHAR)
      |    ELSE 'https://www.site' || CAST(doc_id % 40 AS VARCHAR) ||
      |      '.com:443/page' || CAST(doc_id % 5 AS VARCHAR) ||
      |      '/?utm_campaign=x#sec' || CAST(doc_id AS VARCHAR)
      |    END""".stripMargin
  private val urlVariantsSql: String =
    s"SELECT doc_id, $urlCaseSql AS url\nFROM documents"

  private def urlVariant: org.apache.spark.sql.Column = {
    val site = (col("doc_id") % 40).cast("string")
    val page = (col("doc_id") % 5).cast("string")
    when(col("doc_id") % 4 === 0,
      concat(lit("https://www.site"), site, lit(".com/page"), page))
      .when(col("doc_id") % 4 === 1,
        concat(lit("HTTPS://WWW.Site"), site, lit(".COM:443/page"),
          page, lit("/")))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://site"), site, lit(".com/page"), page,
          lit("?utm_source=feed"), col("doc_id").cast("string")))
      .otherwise(
        concat(lit("https://www.site"), site, lit(".com:443/page"),
          page, lit("/?utm_campaign=x#sec"),
          col("doc_id").cast("string")))
  }
  private def docsWithUrls(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id")).withColumn("url", urlVariant)

  def urlDedup(s: SparkSession, dir: String): DataFrame =
    docsWithUrls(s, dir)
      .withColumn("url_norm", TextAnalysis.normalizeUrl(col("url")))
      .groupBy("url_norm")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))

  /** Spliceable URL-normalization chain over CTE `src` (must expose
    * doc_id, url): emits CTEs u_s1, u_s2, u_norm — u_norm holds
    * (doc_id, url_norm). ONE text for llm_url_dedup and the
    * extraction capstone — fix both or neither. */
  private def urlNormCtes(src: String): String =
    s"""u_s1 AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(url,
       |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |    lower(regexp_extract(url,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS host_raw,
       |    regexp_extract(url,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1) AS rest0
       |  FROM $src),
       |u_s2 AS (
       |  SELECT doc_id, url, scheme,
       |    CASE WHEN scheme = 'http' THEN
       |        regexp_replace(regexp_replace(host_raw, '^www\\.', ''),
       |          ':80$$', '')
       |      WHEN scheme = 'https' THEN
       |        regexp_replace(regexp_replace(host_raw, '^www\\.', ''),
       |          ':443$$', '')
       |      ELSE regexp_replace(host_raw, '^www\\.', '') END AS host,
       |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |      rest0,
       |      '\\?((utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*&)+', '?', 'g'),
       |      '[?&](utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*', '', 'g'),
       |      '/+(\\?|$$)', '\\1', 'g'),
       |      '\\?$$', '') AS rest
       |  FROM u_s1),
       |u_norm AS (
       |  SELECT doc_id, CASE WHEN scheme = '' THEN url
       |    ELSE scheme || '://' || host || rest END AS url_norm
       |  FROM u_s2)""".stripMargin

  val urlDedupSql: String =
    s"""WITH u AS ($urlVariantsSql),
       |${urlNormCtes("u")}
       |SELECT url_norm, min(doc_id) AS doc_id, count(*) AS n_dups
       |FROM u_norm GROUP BY 1""".stripMargin

  // --- llm_e2e_extract -----------------------------------------------------
  /** The extraction FRONT-END capstone in real crawl order:
    * stripHtml → URL-canonical dedup → exact text dedup. The corpus
    * carries BOTH plantings (full-page markup on every 5th doc, four
    * raw URL variants per doc), so the url stage collapses variant
    * groups onto their min-id doc and the exact stage then collapses
    * docs whose CLEANED text coincides. Both keep-lowest stages are
    * the struct-min argmax (no window — the dedupBest contract);
    * the oracle splices the SHARED htmlCorpusSql / stripHtmlSqlExpr /
    * urlNormCtes helpers, so a fix lands in capstone and standalones
    * or neither. */
  // shared-footer plant: docs ≡ 3 (mod 5) become IDENTICAL boilerplate
  // — the url stage keeps 8 of them (one per surviving %40 class at
  // sf0.001), the exact stage collapses those to ONE (n_exact_dups
  // does real work; disjoint from the %5==0 html wrap)
  private val boilerplate =
    "Subscribe to our newsletter for updates. All rights reserved."
  def e2eExtract(s: SparkSession, dir: String): DataFrame = {
    val crawl = docs(s, dir).select(col("doc_id"), col("text"))
      .withColumn("text",
        when(col("doc_id") % 5 === 3, lit(boilerplate))
          .otherwise(col("text")))
      .withColumn("text",
        when(col("doc_id") % 5 === 0,
          concat(lit(htmlPrefix), col("text"), lit(htmlSuffix)))
          .otherwise(col("text")))
      .withColumn("url", urlVariant)
    val cleaned = crawl
      .withColumn("text_clean", TextAnalysis.stripHtml(col("text")))
      .withColumn("url_norm", TextAnalysis.normalizeUrl(col("url")))
    val urlKept = cleaned.groupBy("url_norm")
      .agg(min(struct(col("doc_id"), col("text_clean"))).as("r"),
        count(lit(1)).as("n_url_dups"))
      .select(col("r.doc_id").as("doc_id"), col("url_norm"),
        col("r.text_clean").as("text_clean"), col("n_url_dups"))
    urlKept
      .withColumn("fp", TextAnalysis.fingerprint(col("text_clean")))
      .groupBy("fp")
      .agg(min(struct(col("doc_id"), col("url_norm"),
          col("n_url_dups"))).as("r"),
        count(lit(1)).as("n_exact_dups"))
      .select(col("r.doc_id").as("doc_id"),
        col("r.url_norm").as("url_norm"), col("fp"),
        col("r.n_url_dups").as("n_url_dups"), col("n_exact_dups"))
  }

  val e2eExtractSql: String =
    s"""WITH crawl AS (
       |  ${htmlCorpusSql(withUrl = true, innerText =
        s"CASE WHEN doc_id % 5 = 3 THEN '${sqlQuote(boilerplate)}' " +
          "ELSE text END")}),
       |${urlNormCtes("crawl")},
       |cleaned AS (
       |  SELECT c.doc_id,
       |    ${stripHtmlSqlExpr("c.text")} AS text_clean,
       |    n.url_norm
       |  FROM crawl c JOIN u_norm n ON n.doc_id = c.doc_id),
       |url_kept AS (
       |  SELECT doc_id, url_norm, text_clean, n_url_dups FROM (
       |    SELECT *,
       |      row_number() OVER (PARTITION BY url_norm
       |        ORDER BY doc_id) AS rn,
       |      count(*) OVER (PARTITION BY url_norm) AS n_url_dups
       |    FROM cleaned) WHERE rn = 1),
       |fp_t AS (
       |  SELECT doc_id, url_norm, n_url_dups,
       |    md5(lower(trim(regexp_replace(text_clean, '\\s+', ' ', 'g'))))
       |      AS fp
       |  FROM url_kept)
       |SELECT doc_id, url_norm, fp, n_url_dups, n_exact_dups FROM (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn2,
       |    count(*) OVER (PARTITION BY fp) AS n_exact_dups
       |  FROM fp_t) WHERE rn2 = 1""".stripMargin

  // --- llm_chunk ----------------------------------------------------------
  /** Context-window chunking: 64-token windows every 48 tokens (16
    * tokens of overlap) — the pre-packing pass of a training
    * pipeline. */
  def chunk(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkTokens(docs(s, dir), chunkSize = 64, stride = 48)

  val chunkSql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      |  FROM documents),
      |st AS (
      |  SELECT doc_id, w, unnest(range(0, len(w), 48)) AS s FROM tok)
      |SELECT doc_id, CAST(s // 48 AS INT) AS chunk_id,
      |  array_to_string(w[s + 1 : s + 64], ' ') AS chunk_text,
      |  CAST(len(w[s + 1 : s + 64]) AS INT) AS n_tokens
      |FROM st""".stripMargin

  // --- llm_typicality -----------------------------------------------------
  def typicality(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.typicality(docs(s, dir))

  /** The log/avg arithmetic is continuous, so the oracle compares
    * 4-decimal roundings (ln differs by ≤1 ulp across engines; the
    * sum's accumulation order adds ~1e-13 — both invisible at 1e-4).
    * Same ln-decomposition as the operator: sum(ln tf)/n − ln total. */
  val typicalitySql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |  FROM documents),
      |tf AS (
      |  SELECT doc_id, tok,
      |    count(*) OVER (PARTITION BY tok) AS tf
      |  FROM toks),
      |per_doc AS (
      |  SELECT doc_id, count(*) AS n_toks,
      |    sum(ln(CAST(tf AS DOUBLE))) AS sum_ln_tf
      |  FROM tf GROUP BY doc_id),
      |total AS (
      |  SELECT sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
      |    AS n_total
      |  FROM documents)
      |SELECT doc_id, n_toks,
      |  round(sum_ln_tf / n_toks - ln(CAST(n_total AS DOUBLE)), 4)
      |    AS unigram_logprob
      |FROM per_doc CROSS JOIN total""".stripMargin

  // --- llm_bigram_lm ------------------------------------------------------
  def bigramLm(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLogprob(docs(s, dir))

  /** Same ln-decomposition and 4-dp rounding rationale as the
    * typicality oracle (ln within 1 ulp across engines, accumulation
    * order ~1e-13). `range(1, len(w))` is empty for < 2 tokens, so
    * bigram-less docs drop out of per_doc and the LEFT join restores
    * them with NULL — exactly the operator's join-back. */
  val bigramLmSql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
      |    i -> w[i] || ' ' || w[i + 1])) AS bg
      |  FROM tok),
      |counts AS (
      |  SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
      |c2 AS (
      |  SELECT bg, CAST(sum(cnt) AS BIGINT) AS c2 FROM counts GROUP BY 1),
      |c1 AS (
      |  SELECT split_part(bg, ' ', 1) AS ctx,
      |    CAST(sum(c2) AS BIGINT) AS c1
      |  FROM c2 GROUP BY 1),
      |per_doc AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
      |    round(sum(cnt * (ln(CAST(c2 AS DOUBLE)) -
      |      ln(CAST(c1 AS DOUBLE)))) / sum(cnt), 4) AS bigram_logprob
      |  FROM counts
      |  JOIN c2 USING (bg)
      |  JOIN c1 ON c1.ctx = split_part(counts.bg, ' ', 1)
      |  GROUP BY doc_id)
      |SELECT d.doc_id, p.n_bigrams, p.bigram_logprob
      |FROM documents d LEFT JOIN per_doc p USING (doc_id)""".stripMargin

  // --- llm_kn3_lm / llm_kn3_lm_bos ---------------------------------------
  def kn3Lm(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.knTrigramLogprob(docs(s, dir))

  def kn3LmBos(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.knTrigramLogprob(docs(s, dir), markers = true)

  /** Trigram twin of [[knLmSql]]: both backoff levels' tables are
    * plain count(*)/sum over the already-distinct c3/mid CTEs, and
    * the nested probability expression is written with the operator's
    * exact association and explicit DOUBLE casts (DuckDB has no
    * substring_index — split_part concatenation is equivalent on the
    * space-free token alphabet). ONE text parameterized over the
    * boundary-marker mode (the ivfPqResSqlFor convention — a backoff
    * or count fix lands in both modes or neither): markers pads the
    * token list to <s> <s> … </s> via list_concat (never a
    * line-leading `||` — the stripMargin lesson), changing every
    * count table; interior-only keeps the raw list. */
  private def kn3SqlFor(markers: Boolean): String = {
    val wExpr =
      if (markers)
        "CASE WHEN len(w0) >= 1 THEN list_concat(list_concat(" +
          "['<s>', '<s>'], w0), ['</s>']) ELSE [] END"
      else "w0"
    s"""WITH tok0 AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w0
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, $wExpr AS w FROM tok0),
      |tg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS tg
      |  FROM tok),
      |counts AS (
      |  SELECT doc_id, tg, count(*) AS cnt FROM tg GROUP BY 1, 2),
      |c3 AS (
      |  SELECT tg, CAST(sum(cnt) AS BIGINT) AS c3 FROM counts GROUP BY 1),
      |ctx2 AS (
      |  SELECT split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2)
      |      AS ab,
      |    CAST(sum(c3) AS BIGINT) AS c2ab, count(*) AS n3ab
      |  FROM c3 GROUP BY 1),
      |mid AS (
      |  SELECT split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3)
      |      AS bc,
      |    count(*) AS chat_bc
      |  FROM c3 GROUP BY 1),
      |mid_ctx AS (
      |  SELECT split_part(bc, ' ', 1) AS b,
      |    CAST(sum(chat_bc) AS BIGINT) AS chat_b, count(*) AS nhat_b
      |  FROM mid GROUP BY 1),
      |cont AS (
      |  SELECT split_part(bc, ' ', 2) AS c, count(*) AS n1c
      |  FROM mid GROUP BY 1),
      |n_all AS (SELECT CAST(count(*) AS DOUBLE) AS n_all FROM mid),
      |per_doc AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_trigrams,
      |    round(sum(cnt * ln(
      |      ((CAST(c3 AS DOUBLE) - CAST(0.75 AS DOUBLE))
      |        + (CAST(0.75 AS DOUBLE) * CAST(n3ab AS DOUBLE))
      |          * (((CAST(chat_bc AS DOUBLE) - CAST(0.75 AS DOUBLE))
      |            + (CAST(0.75 AS DOUBLE) * CAST(nhat_b AS DOUBLE))
      |              * (CAST(n1c AS DOUBLE) / n_all))
      |            / CAST(chat_b AS DOUBLE)))
      |      / CAST(c2ab AS DOUBLE))) / sum(cnt), 4) AS kn3_logprob
      |  FROM counts
      |  JOIN c3 USING (tg)
      |  JOIN ctx2 ON ctx2.ab = split_part(counts.tg, ' ', 1) || ' ' ||
      |    split_part(counts.tg, ' ', 2)
      |  JOIN mid ON mid.bc = split_part(counts.tg, ' ', 2) || ' ' ||
      |    split_part(counts.tg, ' ', 3)
      |  JOIN mid_ctx ON mid_ctx.b = split_part(counts.tg, ' ', 2)
      |  JOIN cont ON cont.c = split_part(counts.tg, ' ', 3)
      |  CROSS JOIN n_all
      |  GROUP BY doc_id)
      |SELECT d.doc_id, p.n_trigrams, p.kn3_logprob
      |FROM documents d LEFT JOIN per_doc p USING (doc_id)""".stripMargin
  }

  val kn3LmSql: String = kn3SqlFor(markers = false)
  val kn3LmBosSql: String = kn3SqlFor(markers = true)

  // --- llm_text_norm ------------------------------------------------------
  /** Unicode cleaning pass (NFC + whitespace collapse + Cc/Cf strip —
    * TextAnalysis.normalizeText). The fixture is ASCII, so the oracle
    * exercises the plumbing; the non-ASCII semantics (composed ≡
    * decomposed, zero-width strip, idempotence) are suite-pinned. */
  def textNorm(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      TextAnalysis.normalizeText(col("text")).as("text_norm"))

  val textNormSql: String =
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(nfc_normalize(text),
      |    '[\p{Cc}\p{Cf}]', ' ', 'g'), '\s+', ' ', 'g')) AS text_norm
      |FROM documents""".stripMargin

  // --- llm_kn_lm ----------------------------------------------------------
  def knLm(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.knBigramLogprob(docs(s, dir))

  /** Kneser–Ney twin of [[bigramLmSql]]: the continuation-type tables
    * are plain count(*) over the already-distinct c2 CTE, and the
    * probability expression is WRITTEN with the operator's exact
    * association and explicit DOUBLE casts (0.75 as a bare literal
    * would be DECIMAL in DuckDB — the reservoir lesson — and a
    * different association would evaluate a different IEEE value
    * before the 4-dp round). */
  val knLmSql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(w)),
      |    i -> w[i] || ' ' || w[i + 1])) AS bg
      |  FROM tok),
      |counts AS (
      |  SELECT doc_id, bg, count(*) AS cnt FROM bg GROUP BY 1, 2),
      |c2 AS (
      |  SELECT bg, CAST(sum(cnt) AS BIGINT) AS c2 FROM counts GROUP BY 1),
      |ctx_tab AS (
      |  SELECT split_part(bg, ' ', 1) AS ctx,
      |    CAST(sum(c2) AS BIGINT) AS c1, count(*) AS n1f
      |  FROM c2 GROUP BY 1),
      |cont_tab AS (
      |  SELECT split_part(bg, ' ', 2) AS w2, count(*) AS n1b
      |  FROM c2 GROUP BY 1),
      |n_all AS (SELECT CAST(count(*) AS DOUBLE) AS n_all FROM c2),
      |per_doc AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
      |    round(sum(cnt * ln(
      |      ((CAST(c2 AS DOUBLE) - CAST(0.75 AS DOUBLE))
      |        + (CAST(0.75 AS DOUBLE) * CAST(n1f AS DOUBLE))
      |          * (CAST(n1b AS DOUBLE) / n_all))
      |      / CAST(c1 AS DOUBLE))) / sum(cnt), 4) AS kn_logprob
      |  FROM counts
      |  JOIN c2 USING (bg)
      |  JOIN ctx_tab ON ctx_tab.ctx = split_part(counts.bg, ' ', 1)
      |  JOIN cont_tab ON cont_tab.w2 = split_part(counts.bg, ' ', 2)
      |  CROSS JOIN n_all
      |  GROUP BY doc_id)
      |SELECT d.doc_id, p.n_bigrams, p.kn_logprob
      |FROM documents d LEFT JOIN per_doc p USING (doc_id)""".stripMargin

  // --- llm_dsir -----------------------------------------------------------
  /** DSIR importance weights vs the `lang = 'en'` slice as the target
    * distribution — "score raw crawl by resemblance to the reference
    * corpus" (Xie et al. 2023). */
  def dsir(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dsirWeights(docs(s, dir),
      targetPred = col("lang") === "en")

  /** Full DuckDB rebuild: the hashed feature bucket is the SHARED
    * md5BucketSql fragment (a bucket fix lands in sampleMix/pack/dsir
    * or nowhere), the smoothing arithmetic mirrors the operator's
    * association and casts exactly, and tr/tt ride the GROUP BY in
    * both engines (one-row constants). */
  /** Spliceable DSIR CTE chain ending in `dsir_doc(doc_id, n_feats,
    * log_w)` — ONE copy shared by the standalone oracle and the
    * llm_e2e_select capstone (a smoothing/bucket fix lands in both or
    * neither). */
  private def dsirCtes: String = {
    val bucket = md5BucketSql("'dsir_' || ng", 4096)
    s"""tok AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
       |  FROM documents),
       |feats AS (
       |  SELECT doc_id, unnest(w || list_transform(range(1, len(w)),
       |    i -> w[i] || ' ' || w[i + 1])) AS ng
       |  FROM tok),
       |db AS (
       |  SELECT doc_id, $bucket AS b, count(*) AS c
       |  FROM feats GROUP BY 1, 2),
       |tcnt AS (
       |  SELECT b, CAST(sum(c) AS BIGINT) AS ct
       |  FROM db JOIN documents USING (doc_id)
       |  WHERE lang = 'en' GROUP BY 1),
       |rcnt AS (
       |  SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM db GROUP BY 1),
       |tots AS (
       |  SELECT CAST((SELECT sum(c) FROM db) AS BIGINT) AS tr,
       |    CAST((SELECT coalesce(sum(c), 0) FROM db
       |      JOIN documents USING (doc_id) WHERE lang = 'en')
       |      AS BIGINT) AS tt),
       |dsir_doc AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
       |    round(sum(c * (ln(CAST(coalesce(ct, 0) + 1 AS DOUBLE))
       |        - ln(CAST(cr + 1 AS DOUBLE))))
       |      + sum(c) * (ln(CAST(tr + 4096 AS DOUBLE))
       |        - ln(CAST(tt + 4096 AS DOUBLE))), 4) AS log_w
       |  FROM db LEFT JOIN tcnt USING (b)
       |  JOIN rcnt USING (b)
       |  CROSS JOIN tots
       |  GROUP BY doc_id, tr, tt)""".stripMargin
  }

  val dsirSql: String =
    s"""WITH $dsirCtes
       |SELECT d.doc_id, p.n_feats, p.log_w
       |FROM documents d LEFT JOIN dsir_doc p USING (doc_id)""".stripMargin

  // --- llm_e2e_select -----------------------------------------------------
  /** The DSIR selection pipeline end to end (Xie et al. 2023's actual
    * use): score every doc against the `lang = 'en'` target
    * distribution, then draw a weight-proportional without-replacement
    * sample per language stratum — importance resampling via
    * [[graft.llm.Sampling.weightedReservoir]] with weight
    * `exp(log_w)` (log_w is 4-dp ROUNDED by the scorer, so both
    * engines exponentiate the identical value; the reservoir's
    * ≥ 1e-4 clamp guards deep-negative scores). */
  def e2eSelect(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val w = TextAnalysis.dsirWeights(d, targetPred = col("lang") === "en")
      .where(col("log_w").isNotNull)
      .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("sel_w", exp(col("log_w")))
    graft.llm.Sampling.weightedReservoir(w, k = 20,
      strataCol = "lang", weightCol = "sel_w")
      .select(col("lang"), col("doc_id"), col("log_w"),
        col("res_key"), col("rank"))
  }

  val e2eSelectSql: String =
    s"""WITH $dsirCtes,
       |w AS (
       |  SELECT d.doc_id, d.lang, p.log_w
       |  FROM documents d JOIN dsir_doc p USING (doc_id)
       |  WHERE p.log_w IS NOT NULL),
       |keyed AS (
       |  SELECT lang, doc_id, log_w,
       |    ${resKeySql("exp(log_w)")}
       |      AS res_key
       |  FROM w),
       |r AS (
       |  SELECT lang, doc_id, log_w, res_key, row_number() OVER (
       |    PARTITION BY lang ORDER BY res_key DESC, doc_id ASC) AS rank
       |  FROM keyed)
       |SELECT lang, doc_id, log_w, res_key, rank FROM r
       |WHERE rank <= 20""".stripMargin

  // --- llm_pack -----------------------------------------------------------
  /** Sequence packing manifest: ctx 64, 8 shards over `documents`. */
  def pack(s: SparkSession, dir: String): DataFrame =
    graft.llm.Packing.packSequences(docs(s, dir), ctxLen = 64, nShards = 8)

  /** DuckDB rebuild of the packing pipeline: whitespace token counts,
    * the md5-long shard bucket (the sampleMix derivation, mod 8),
    * per-shard exclusive prefix sums, and span arithmetic — pure SQL,
    * so the whole manifest hash-matches cross-engine. */
  /** Pack oracle CTE chain + final span SELECT over a (doc_id, text)
    * source CTE `src` — ONE copy, spliced by packSql and the e2e
    * oracle (a span-arithmetic fix lands in both or neither). */
  private def packSpansSql(src: String, ctx: Int, nShards: Int): String =
    s"""counted AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
       |      AS n_tokens,
       |    CAST(${md5BucketSql("CAST(doc_id AS VARCHAR)", nShards)}
       |      AS INT) AS shard
       |  FROM $src
       |  WHERE len(regexp_extract_all(text, '\\S+')) > 0),
       |offs AS (
       |  SELECT shard, doc_id, n_tokens,
       |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      - n_tokens AS BIGINT) AS off
       |  FROM counted),
       |spans AS (
       |  SELECT shard, doc_id, n_tokens, off,
       |    unnest(range(off // $ctx, (off + n_tokens - 1) // $ctx + 1))
       |      AS seq_no
       |  FROM offs)
       |SELECT shard, seq_no, doc_id,
       |  greatest(0, seq_no * $ctx - off) AS tok_start,
       |  least(n_tokens, (seq_no + 1) * $ctx - off) AS tok_end,
       |  greatest(0, off - seq_no * $ctx) AS seq_off
       |FROM spans""".stripMargin

  val packSql: String =
    s"WITH ${packSpansSql("documents", 64, 8)}"

  // --- llm_repetition -----------------------------------------------------
  def repetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionSignals(docs(s, dir))
      .select("doc_id", "dup_token_frac", "top_bigram_frac",
        "top_trigram_frac")

  /** Oracle counts over STRING n-grams (the Spark side counts 64-bit
    * shingle hashes — identical modulo ~1e-8 collisions, the stance
    * every dedup oracle already takes). */
  val repetitionSql: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, w,
      |    CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)),
      |      i -> w[i] || ' ' || w[i+1]) ELSE [] END AS bg,
      |    CASE WHEN len(w) >= 3 THEN list_transform(range(1, len(w) - 1),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) ELSE [] END AS tg
      |  FROM tok)
      |SELECT doc_id,
      |  CASE WHEN len(w) > 0
      |    THEN round(1 - len(list_distinct(w)) / len(w), 4)
      |    ELSE 0.0 END AS dup_token_frac,
      |  CASE WHEN len(bg) > 0 THEN round(
      |      list_max(list_transform(list_distinct(bg),
      |        d -> len(list_filter(bg, x -> x = d)))) / len(bg), 4)
      |    ELSE 0.0 END AS top_bigram_frac,
      |  CASE WHEN len(tg) > 0 THEN round(
      |      list_max(list_transform(list_distinct(tg),
      |        d -> len(list_filter(tg, x -> x = d)))) / len(tg), 4)
      |    ELSE 0.0 END AS top_trigram_frac
      |FROM grams""".stripMargin

  // --- llm_curation -------------------------------------------------------
  /** End-to-end corpus curation — the composed training-data pass a
    * real pipeline runs: quality-filter → language-ID → exact-dedup
    * (keep min doc_id per content fingerprint) → per-kept-doc stats.
    * Runs over the corpus with planted exact duplicates so the dedup
    * stage has real work. 100 TB shape: every signal is a map-only
    * expression fused into the scan; the ONLY shuffle is the final
    * fingerprint groupBy. */
  def curation(s: SparkSession, dir: String): DataFrame = {
    val sig = TextAnalysis.qualitySignals(docsWithExactDups(s, dir))
      .withColumn("lang", TextAnalysis.langId(col("text")))
      .withColumn("fingerprint", TextAnalysis.fingerprint(col("text")))
    sig.where(col("verdict") === "keep")
      .groupBy("fingerprint")
      .agg(min("doc_id").as("doc_id"),
        // copies share the text, so lang/n_tokens are constant per
        // group; min() just makes the pick order-insensitive
        min("lang").as("lang"),
        min("n_tokens").as("n_tokens"),
        count(lit(1)).as("n_copies"))
  }

  val curationSql: String =
    s"""WITH corpus AS ($corpusExactSql),
       |sig AS (
       |  SELECT doc_id,
       |    $qualitySigColsSql,
       |    $langScoresSql
       |  FROM corpus),
       |m AS (SELECT *, $langMaxSql AS mx FROM sig),
       |kept AS (
       |  SELECT doc_id, fingerprint, n_tokens, CASE
       |      $langCaseSql
       |      ELSE 'und' END AS lang
       |  FROM m
       |  WHERE $qualityKeepSql)
       |SELECT fingerprint, min(doc_id) AS doc_id, min(lang) AS lang,
       |  min(n_tokens) AS n_tokens, count(*) AS n_copies
       |FROM kept GROUP BY fingerprint""".stripMargin

  // --- llm_e2e_prepare ----------------------------------------------------
  /** The capstone integration query — the WHOLE training-data
    * preparation pipeline composed end to end, exactly as a user of
    * this library would run it: quality filter → language ID → exact
    * dedup (min-id representative) → benchmark decontamination →
    * stratified language mixing → sequence packing. Input is the
    * planted-duplicate corpus (so dedup has work to do); the
    * benchmark set is every 13th base doc (so decontamination drops
    * real rows); output is the final packing manifest. Every stage is
    * deterministic, so the composed DuckDB oracle checks the entire
    * pipeline's row-exact output — an integration-level correctness
    * gate on top of the per-operator ones. */
  /** quality → lang → fingerprint → keep → min-id exact dedup: the
    * shared prefix of both e2e pipelines (and the suite's stage
    * probe). */
  private[graft] def keptDeduped(corpus: DataFrame): DataFrame = {
    val sig = TextAnalysis.qualitySignals(corpus)
      .withColumn("lang", TextAnalysis.langId(col("text")))
      .withColumn("fingerprint", TextAnalysis.fingerprint(col("text")))
      .where(col("verdict") === "keep")
    sig.groupBy("fingerprint")
      .agg(min("doc_id").as("doc_id"),
        min_by(col("text"), col("doc_id")).as("text"),
        min_by(col("lang"), col("doc_id")).as("lang"))
      .drop("fingerprint")
  }

  def e2ePrepare(s: SparkSession, dir: String): DataFrame = {
    val deduped = keptDeduped(docsWithExactDups(s, dir))
    val bench = docs(s, dir).where(col("doc_id") % 13 === 0)
      .select("doc_id", "text")
    // flags from the RAW corpus (scan + map-only winnow), not the
    // dedup tail — contamination is per-doc and the anti-join ignores
    // ids the dedup dropped, so output is identical (suite-pinned)
    // while the flag subquery stops re-running the whole dedup
    // lineage's full-text fingerprint shuffle (plan-guarded: ONE
    // fingerprint exchange in the composed plan).
    val clean = graft.llm.Decontaminate.clean(deduped, bench,
      flagFrom = Some(docsWithExactDups(s, dir)))
    val mixed = graft.llm.Sampling.sampleMix(clean, "lang",
      Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25), defaultRate = 0.1)
    graft.llm.Packing.packSequences(mixed, ctxLen = 64, nShards = 8)
  }

  /** The composed oracle: every stage's CTE is the same fragment its
    * standalone oracle uses (curation's quality/lang/fingerprint,
    * decontaminate's winnow CTEs, sampleMix's bucket thresholds,
    * pack's prefix-sum spans) chained over the planted-dup corpus. */
  val e2ePrepareSql: String = {
    s"""WITH corpus AS ($corpusExactSql),
       |sig AS (
       |  SELECT doc_id, text,
       |    $qualitySigColsSql,
       |    $langScoresSql
       |  FROM corpus),
       |m AS (SELECT *, $langMaxSql AS mx FROM sig),
       |kept AS (
       |  SELECT doc_id, text, fingerprint, CASE
       |      $langCaseSql
       |      ELSE 'und' END AS lang
       |  FROM m
       |  WHERE $qualityKeepSql),
       |dedup AS (
       |  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text,
       |    arg_min(lang, doc_id) AS lang
       |  FROM kept GROUP BY fingerprint),
       |bench AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0),
       |${winnowFpsCte("dedup", "c_")},
       |${winnowFpsCte("bench", "b_")},
       |c_fp AS (SELECT doc_id, unnest(fps) AS fp FROM c_win),
       |b_fp AS (SELECT DISTINCT unnest(fps) AS fp FROM b_win),
       |contaminated AS (
       |  SELECT doc_id FROM c_fp JOIN b_fp USING (fp)
       |  GROUP BY doc_id HAVING count(*) >= 2),
       |clean AS (
       |  SELECT d.doc_id, d.text, d.lang FROM dedup d
       |  LEFT JOIN contaminated c ON d.doc_id = c.doc_id
       |  WHERE c.doc_id IS NULL),
       |mixed AS (
       |  SELECT doc_id, text FROM clean
       |  WHERE ${md5BucketSql("CAST(doc_id AS VARCHAR)", 10000)} <
       |    CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 10000
       |      WHEN 'fr' THEN 2500 ELSE 1000 END),
       |${packSpansSql("mixed", 64, 8)}""".stripMargin
  }

  // --- llm_e2e_prepare_fuzzy ----------------------------------------------
  /** Exact+fuzzy deduped survivors of the mixed-dup corpus (pre-
    * decontamination), factored out so the suite can pin stage
    * attribution: the planted near-copies ride UNIQUE fingerprints
    * straight through the exact stage; the minhash-LSH pair →
    * connected-components → keep-lowest-rep stage is what drops them.
    *
    * Scale shape: the pair generation is the banded MinHash pipeline
    * (bucket-local candidates, bare-key shuffles); the cluster loop is
    * one job per iteration, O(log diameter) iterations; the final
    * drop is a shuffle anti-join on bare ids — NOT a forced broadcast,
    * because the dropped-doc set is proportional to the corpus dup
    * rate (30-50 % on real crawls), far too big to ship to every
    * executor; AQE may still demote it to broadcast when the measured
    * size allows. */
  private[graft] def fuzzySurvivorsOf(deduped: DataFrame): DataFrame = {
    // deduped is consumed twice — the minhash pair lineage (eagerly
    // materialized by dedupClusters' edges checkpoint) and the final
    // anti-join spine. The lazy checkpoint runs the quality/lang/
    // fingerprint dedup lineage ONCE; the eager edges job fills it,
    // the anti-join reads stored blocks (round-15 NoopTime A/B).
    val d = deduped.transform(graft.functions.ExprUtils.barrier)
    val pairs = Dedup.minhashLshPairsMd5(d, threshold = 0.5)
    val nonReps = Dedup.dedupClusters(pairs)
      .where(col("id") =!= col("cluster_rep"))
      .select(col("id").as("doc_id"))
    d.join(nonReps, Seq("doc_id"), "left_anti")
  }

  private[graft] def fuzzySurvivors(s: SparkSession, dir: String): DataFrame =
    fuzzySurvivorsOf(keptDeduped(docsWithMixedDups(s, dir)))

  /** The production-shaped capstone — [[e2ePrepare]] with the fuzzy
    * dedup stage a real pipeline runs between exact dedup and
    * decontamination: quality → lang → exact dedup → minhash-md5
    * near-dup pairs → transitive clusters → keep-lowest-rep →
    * decontaminate → mix → pack. The corpus plants BOTH duplicate
    * families (exact copies of every 10th doc, tail-extended
    * near-copies of every 7th); only the fuzzy stage catches the
    * second, so the composed oracle checks the near-dup machinery's
    * effect on the final manifest row-exactly. */
  def e2ePrepareFuzzy(s: SparkSession, dir: String): DataFrame = {
    val survivors = fuzzySurvivors(s, dir)
    val bench = docs(s, dir).where(col("doc_id") % 13 === 0)
      .select("doc_id", "text")
    // raw-corpus flags: same per-doc predicate, one fewer evaluation
    // of the exact+fuzzy survivor lineage (see e2ePrepare's note)
    val clean = graft.llm.Decontaminate.clean(survivors, bench,
      flagFrom = Some(docsWithMixedDups(s, dir)))
    val mixed = graft.llm.Sampling.sampleMix(clean, "lang",
      Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25), defaultRate = 0.1)
    graft.llm.Packing.packSequences(mixed, ctxLen = 64, nShards = 8)
  }

  /** The composed fuzzy oracle: [[e2ePrepareSql]]'s chain with the
    * shared minhash-pair and connected-components fragments spliced
    * between the exact-dedup and decontamination CTEs — every
    * fragment is the SAME text its standalone oracle uses. */
  val e2ePrepareFuzzySql: String =
    s"""WITH RECURSIVE corpus AS ($corpusMixedSql),
       |sig AS (
       |  SELECT doc_id, text,
       |    $qualitySigColsSql,
       |    $langScoresSql
       |  FROM corpus),
       |m AS (SELECT *, $langMaxSql AS mx FROM sig),
       |kept AS (
       |  SELECT doc_id, text, fingerprint, CASE
       |      $langCaseSql
       |      ELSE 'und' END AS lang
       |  FROM m
       |  WHERE $qualityKeepSql),
       |dedup AS (
       |  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text,
       |    arg_min(lang, doc_id) AS lang
       |  FROM kept GROUP BY fingerprint),
       |${minhashPairsCtes("dedup", 0.5)},
       |${ccLabelsCtes("mh_pairs")},
       |fuzzy AS (
       |  SELECT d.doc_id, d.text, d.lang FROM dedup d
       |  LEFT JOIN cc_labels l ON d.doc_id = l.id
       |  WHERE l.id IS NULL OR l.cluster_rep = d.doc_id),
       |bench AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0),
       |${winnowFpsCte("fuzzy", "c_")},
       |${winnowFpsCte("bench", "b_")},
       |c_fp AS (SELECT doc_id, unnest(fps) AS fp FROM c_win),
       |b_fp AS (SELECT DISTINCT unnest(fps) AS fp FROM b_win),
       |contaminated AS (
       |  SELECT doc_id FROM c_fp JOIN b_fp USING (fp)
       |  GROUP BY doc_id HAVING count(*) >= 2),
       |clean AS (
       |  SELECT f.doc_id, f.text, f.lang FROM fuzzy f
       |  LEFT JOIN contaminated c ON f.doc_id = c.doc_id
       |  WHERE c.doc_id IS NULL),
       |mixed AS (
       |  SELECT doc_id, text FROM clean
       |  WHERE ${md5BucketSql("CAST(doc_id AS VARCHAR)", 10000)} <
       |    CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 10000
       |      WHEN 'fr' THEN 2500 ELSE 1000 END),
       |${packSpansSql("mixed", 64, 8)}""".stripMargin

  // --- llm_e2e_prepare_spans ----------------------------------------------
  /** The passage-level capstone — [[e2ePrepareFuzzy]] with the stage
    * doc-level dedup cannot provide: quality → lang → exact dedup →
    * minhash-md5 pairs → clusters → keep-lowest-rep →
    * **duplicateSpans → cutSpans on the survivors** → decontaminate
    * (on the CUT text) → mix → pack. The corpus plants all THREE
    * duplicate families: exact copies (caught by the exact stage),
    * tail-extended near-copies (caught by the fuzzy stage), and
    * partial-overlap twins (Jaccard provably < 0.5 — UNTOUCHABLE by
    * both doc-level stages) whose duplicated passage only the span
    * stage removes, leaving the novel remainder in the manifest.
    *
    * Decontamination runs on the cut text WITHOUT a `flagFrom`
    * shortcut: cutting can REMOVE a doc's contaminated passage (a
    * twin of a benchmark doc keeps its clean half — suite-pinned), so
    * raw-corpus flags would over-drop.
    *
    * The survivors frame is `persist(MEMORY_AND_DISK)`-ed: it is
    * consumed by THREE lineages (span detection, the cut spine, and
    * the decontamination flag subquery carrying the cut again), and
    * exchange reuse alone cannot dedupe them — Catalyst prunes `lang`
    * out of the flag branch's exact-dedup aggregate, splitting the
    * fingerprint exchange into canonically-unequal variants that each
    * re-run the scan + quality/lang/md5 map work (measured: barrier
    * 9.0 s vs recompute 11.8 s warm at sf0.1, identical output;
    * examples/SpansBarrierProbe). persist over localCheckpoint
    * deliberately: lineage survives executor loss (localCheckpoint's
    * documented failure mode under dynamic allocation), and the
    * lazy cache fills during the first action. At cluster scale the
    * same role is better served by writing survivors to a staging
    * table; in-session persist is the single-job equivalent.
    *
    * 100 TB shape: every stage is the registered operator's own plan
    * (banded pairs, one-job-per-iteration CC, bare-id anti-joins,
    * (pair, alignment)-bounded span windows, per-doc interval merge,
    * broadcast benchmark) — composition adds no new shuffle class. */
  def e2ePrepareSpans(s: SparkSession, dir: String): DataFrame = {
    val survivors = fuzzySurvivorsOf(keptDeduped(docsWithSpliceDups(s, dir)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spans = Dedup.duplicateSpans(survivors)
    val cut = Dedup.cutSpans(survivors, spans, keep = Seq("lang"))
      .withColumnRenamed("text_cut", "text")
    val bench = docs(s, dir).where(col("doc_id") % 13 === 0)
      .select("doc_id", "text")
    val clean = graft.llm.Decontaminate.clean(cut, bench)
    val mixed = graft.llm.Sampling.sampleMix(clean, "lang",
      Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25), defaultRate = 0.1)
    graft.llm.Packing.packSequences(mixed, ctxLen = 64, nShards = 8)
  }

  /** The composed spans oracle: [[e2ePrepareFuzzySql]]'s chain with
    * the shared span-detection and cut fragments
    * ([[dupSpansCtes]]/[[cutSpansCtes]] — the same text the
    * standalone dup_spans/cut_spans oracles splice) between the
    * fuzzy-survivor and decontamination CTEs; decontamination
    * winnows the CUT text. */
  val e2ePrepareSpansSql: String =
    s"""WITH RECURSIVE corpus AS ($corpusSpliceSql),
       |sig AS (
       |  SELECT doc_id, text,
       |    $qualitySigColsSql,
       |    $langScoresSql
       |  FROM corpus),
       |m AS (SELECT *, $langMaxSql AS mx FROM sig),
       |kept AS (
       |  SELECT doc_id, text, fingerprint, CASE
       |      $langCaseSql
       |      ELSE 'und' END AS lang
       |  FROM m
       |  WHERE $qualityKeepSql),
       |dedup AS (
       |  SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text,
       |    arg_min(lang, doc_id) AS lang
       |  FROM kept GROUP BY fingerprint),
       |${minhashPairsCtes("dedup", 0.5)},
       |${ccLabelsCtes("mh_pairs")},
       |fuzzy AS (
       |  SELECT d.doc_id, d.text, d.lang FROM dedup d
       |  LEFT JOIN cc_labels l ON d.doc_id = l.id
       |  WHERE l.id IS NULL OR l.cluster_rep = d.doc_id),
       |${dupSpansCtes("fuzzy", "ps_")},
       |${cutSpansCtes("fuzzy", "ps_spans", "ps_")},
       |cutl AS (
       |  SELECT c.doc_id, c.text_cut AS text, f.lang
       |  FROM ps_cut c JOIN fuzzy f USING (doc_id)),
       |bench AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0),
       |${winnowFpsCte("cutl", "c_")},
       |${winnowFpsCte("bench", "b_")},
       |c_fp AS (SELECT doc_id, unnest(fps) AS fp FROM c_win),
       |b_fp AS (SELECT DISTINCT unnest(fps) AS fp FROM b_win),
       |contaminated AS (
       |  SELECT doc_id FROM c_fp JOIN b_fp USING (fp)
       |  GROUP BY doc_id HAVING count(*) >= 2),
       |clean AS (
       |  SELECT l.doc_id, l.text, l.lang FROM cutl l
       |  LEFT JOIN contaminated c ON l.doc_id = c.doc_id
       |  WHERE c.doc_id IS NULL),
       |mixed AS (
       |  SELECT doc_id, text FROM clean
       |  WHERE ${md5BucketSql("CAST(doc_id AS VARCHAR)", 10000)} <
       |    CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 10000
       |      WHEN 'fr' THEN 2500 ELSE 1000 END),
       |${packSpansSql("mixed", 64, 8)}""".stripMargin

  // --- llm_decontaminate_cut ----------------------------------------------
  /** Span-based decontamination over a corpus planting half-
    * contaminated docs: every benchmark doc (%13) gets a partial-
    * overlap twin (+4000000) carrying its first 24 tokens + unique
    * filler. [[graft.llm.Decontaminate.cutContaminated]] excises the
    * contaminated passage and keeps the clean half (suite-pinned),
    * where [[decontaminate]]/clean would drop the whole doc; benchmark
    * docs present verbatim in the corpus are cut to empty. */
  private[graft] def docsWithContamTwins(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(splicedTwins(d, 13, 4000000L))
  }

  private val corpusContamSql =
    "SELECT doc_id, text FROM documents\n" + splicedTwinsSql(13, 4000000L)

  def decontaminateCut(s: SparkSession, dir: String): DataFrame =
    graft.llm.Decontaminate.cutContaminated(
      docsWithContamTwins(s, dir),
      docs(s, dir).where(col("doc_id") % 13 === 0).select("doc_id", "text"))

  /** Oracle: winnow flag (the decontaminate fragments) → flagged docs
    * → cross-frame span chain vs the benchmark → cut over the WHOLE
    * corpus (unflagged docs pass through with n_removed 0). */
  val decontaminateCutSql: String =
    s"""WITH corpus AS ($corpusContamSql),
       |bench AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 13 = 0),
       |${winnowFpsCte("corpus", "c_")},
       |${winnowFpsCte("bench", "b_")},
       |c_fp AS (SELECT doc_id, unnest(fps) AS fp FROM c_win),
       |b_fp AS (SELECT DISTINCT unnest(fps) AS fp FROM b_win),
       |flagged AS (
       |  SELECT doc_id FROM c_fp JOIN b_fp USING (fp)
       |  GROUP BY doc_id HAVING count(*) >= 2),
       |fdocs AS (
       |  SELECT c.doc_id, c.text FROM corpus c JOIN flagged USING (doc_id)),
       |${crossSpansCtes("fdocs", "bench", "x_")},
       |${cutSpansCtes("corpus", "x_spans", "x_")}
       |SELECT doc_id, text_cut, n_removed FROM x_cut""".stripMargin

  // --- llm_multimodal -----------------------------------------------------
  /** documents.text bytes stand in for media blobs; metadata extraction
    * runs through the real mapPartitions plumbing (stubbed codec), then
    * resize + frame-sampling plans are pure arithmetic. */
  def multimodal(s: SparkSession, dir: String): DataFrame = {
    val media = docs(s, dir).select(col("doc_id"),
      col("text").cast("binary").as("media"))
    val meta = Multimodal.extractMeta(media)
    val resized = Multimodal.resizePlan(meta, maxEdge = 256)
    val sampled = Multimodal.sampleFrames(meta, stride = 10)
      .groupBy("id").agg(count(lit(1)).as("n_sampled"))
    meta.join(resized.select("id", "target_w", "target_h"), Seq("id"))
      .join(sampled, Seq("id"))
      .select(col("id").as("doc_id"), col("n_bytes"), col("width"),
        col("height"), col("n_frames"), col("target_w"), col("target_h"),
        col("n_sampled"))
  }

  val multimodalSql: String =
    """WITH meta AS (
      |  SELECT doc_id,
      |    octet_length(encode(text)) AS n_bytes,
      |    CAST(64 + octet_length(encode(text)) % 1856 AS INT) AS width,
      |    CAST(64 + (octet_length(encode(text)) * 7) % 1016 AS INT) AS height,
      |    CAST(1 + octet_length(encode(text)) % 240 AS INT) AS n_frames
      |  FROM documents),
      |plan AS (
      |  SELECT *,
      |    least(256.0 / greatest(width, 1), 256.0 / greatest(height, 1), 1.0)
      |      AS scale
      |  FROM meta)
      |SELECT doc_id, n_bytes, width, height, n_frames,
      |  CAST(floor(width * scale) AS INT) AS target_w,
      |  CAST(floor(height * scale) AS INT) AS target_h,
      |  CAST((n_frames - 1) // 10 + 1 AS BIGINT) AS n_sampled
      |FROM plan""".stripMargin

  // ------------------------------------------------------------------

  val all: Map[String, Q] = Map(
    "llm_exact_dedup" -> (exactDedup _),
    "llm_line_dedup" -> (lineDedup _),
    "llm_ngram_jaccard" -> (ngramJaccard _),
    "llm_containment" -> (containment _),
    "llm_dup_spans" -> (dupSpans _),
    "llm_cut_spans" -> (cutSpansQ _),
    "llm_minhash_lsh" -> (minhashLsh _),
    "llm_minhash_md5" -> (minhashMd5 _),
    "llm_neardup_stream" -> (neardupStream _),
    "llm_fuzzy_dedup_stream" -> (fuzzyDedupStream _),
    "llm_simhash" -> (simhashDup _),
    "llm_embed_dup" -> (embedDup _),
    "llm_embed_dup_lsh" -> (embedDupLsh _),
    "llm_embed_dup_lsh_md5" -> (embedDupLshMd5 _),
    "llm_ann_topk" -> (annTopK _),
    "llm_ann_lsh" -> (annLsh _),
    "llm_ann_lsh_md5" -> (annLshMd5 _),
    "llm_ann_ivf" -> (annIvf _),
    "llm_ann_ivf_md5" -> (annIvfMd5 _),
    "llm_ann_pq" -> (annPq _),
    "llm_ann_ivfpq" -> (annIvfPq _),
    "llm_ann_ivfpq_res" -> (annIvfPqRes _),
    "llm_ann_ivfpq_res64" -> (annIvfPqRes64 _),
    "llm_ann_ivfpq_res_t" -> (annIvfPqResTrained _),
    "llm_dedup_clusters" -> (dedupClusters _),
    "llm_dedup_best" -> (dedupBest _),
    "llm_pagerank" -> (pagerank _),
    "llm_embed_dup_clusters" -> (embedDupClusters _),
    "llm_semdedup" -> (semDedup _),
    "llm_lang_id" -> (langId _),
    "llm_corpus_stats" -> (corpusStats _),
    "llm_bigram_lm" -> (bigramLm _),
    "llm_kn_lm" -> (knLm _),
    "llm_kn3_lm" -> (kn3Lm _),
    "llm_kn3_lm_bos" -> (kn3LmBos _),
    "llm_text_norm" -> (textNorm _),
    "llm_dsir" -> (dsir _),
    "llm_e2e_select" -> (e2eSelect _),
    "llm_vocab" -> (vocab _),
    "llm_bpe_train" -> (bpeTrain _),
    "llm_bpe_train_batched" -> (bpeTrainBatched _),
    "llm_unigram_train" -> (unigramTrain _),
    "llm_unigram_train_em" -> (unigramTrainEm _),
    "llm_unigram_sample" -> (unigramSample _),
    "llm_unigram_encode" -> (unigramEncode _),
    "llm_bpe_encode" -> (bpeEncode _),
    "llm_wordpiece_train" -> (wordpieceTrain _),
    "llm_wordpiece_encode" -> (wordpieceEncode _),
    "llm_quality_model" -> (qualityModel _),
    "llm_quality_model_lm" -> (qualityModelLm _),
    "llm_e2e_score_sample" -> (e2eScoreSample _),
    "llm_tfidf" -> (tfidf _),
    "llm_drift" -> (drift _),
    "llm_quality" -> (quality _),
    "llm_entropy" -> (entropy _),
    "llm_token_count" -> (tokenCount _),
    "llm_fingerprint" -> (fingerprint _),
    "llm_curation" -> (curation _),
    "llm_winnow" -> (winnow _),
    "llm_decontaminate" -> (decontaminate _),
    "llm_decontaminate_bloom" -> (decontaminateBloom _),
    "llm_contamination_report" -> (contaminationReport _),
    "llm_sample_mix" -> (sampleMix _),
    "llm_sample_score" -> (sampleScore _),
    "llm_reservoir" -> (reservoir _),
    "llm_reservoir_stream" -> (reservoirStream _),
    "llm_holdout_split" -> (holdoutSplit _),
    "llm_upsample" -> (upsampleQ _),
    "llm_source_cap" -> (sourceCap _),
    "llm_source_cap_stream" -> (sourceCapStream _),
    "llm_token_budget" -> (tokenBudget _),
    "llm_token_budget_stream" -> (tokenBudgetStream _),
    "llm_pii" -> (pii _),
    "llm_html_strip" -> (htmlStrip _),
    "llm_url_dedup" -> (urlDedup _),
    "llm_e2e_extract" -> (e2eExtract _),
    "llm_chunk" -> (chunk _),
    "llm_pack" -> (pack _),
    "llm_typicality" -> (typicality _),
    "llm_novelty" -> (novelty _),
    "llm_e2e_prepare" -> (e2ePrepare _),
    "llm_e2e_prepare_fuzzy" -> (e2ePrepareFuzzy _),
    "llm_e2e_prepare_spans" -> (e2ePrepareSpans _),
    "llm_decontaminate_cut" -> (decontaminateCut _),
    "llm_repetition" -> (repetition _),
    "llm_multimodal" -> (multimodal _)
  )

  val oracles: Map[String, String] = Map(
    "llm_exact_dedup" -> exactDedupSql,
    "llm_line_dedup" -> lineDedupSql,
    "llm_minhash_md5" -> minhashMd5Sql,
    "llm_neardup_stream" -> neardupStreamSql,
    "llm_simhash" -> simhashSql,
    "llm_ngram_jaccard" -> ngramJaccardSql,
    "llm_containment" -> containmentSql,
    "llm_dup_spans" -> dupSpansSql,
    "llm_cut_spans" -> cutSpansSql,
    "llm_dedup_clusters" -> dedupClustersSql,
    "llm_dedup_best" -> dedupBestSql,
    "llm_pagerank" -> pagerankSql,
    "llm_embed_dup_clusters" -> embedDupClustersSql,
    "llm_semdedup" -> semDedupSql,
    "llm_embed_dup" -> embedDupSql,
    "llm_embed_dup_lsh_md5" -> embedDupLshMd5Sql,
    "llm_ann_topk" -> annTopKSql,
    "llm_ann_lsh_md5" -> annLshMd5Sql,
    "llm_ann_ivf_md5" -> annIvfMd5Sql,
    "llm_ann_pq" -> annPqSql,
    "llm_ann_ivfpq" -> annIvfPqSql,
    "llm_ann_ivfpq_res" -> annIvfPqResSql,
    "llm_ann_ivfpq_res64" -> annIvfPqRes64Sql,
    "llm_lang_id" -> langIdSql,
    "llm_corpus_stats" -> corpusStatsSql,
    "llm_bigram_lm" -> bigramLmSql,
    "llm_kn_lm" -> knLmSql,
    "llm_kn3_lm" -> kn3LmSql,
    "llm_kn3_lm_bos" -> kn3LmBosSql,
    "llm_text_norm" -> textNormSql,
    "llm_dsir" -> dsirSql,
    "llm_e2e_select" -> e2eSelectSql,
    "llm_vocab" -> vocabSql,
    "llm_tfidf" -> tfidfSql,
    "llm_drift" -> driftSql,
    "llm_quality" -> qualitySql,
    "llm_entropy" -> entropySql,
    "llm_token_count" -> tokenCountSql,
    "llm_fingerprint" -> fingerprintSql,
    "llm_curation" -> curationSql,
    "llm_winnow" -> winnowSql,
    "llm_decontaminate" -> decontaminateSql,
    // the bloom twin is exact by construction — ONE oracle text for
    // both (fix both or neither)
    "llm_decontaminate_bloom" -> decontaminateSql,
    "llm_contamination_report" -> contaminationReportSql,
    "llm_sample_mix" -> sampleMixSql,
    "llm_sample_score" -> sampleScoreSql,
    "llm_reservoir" -> reservoirSql,
    // the streaming twins are chunking-invariant (mergeable top-k),
    // so they run their batch op's oracle text VERBATIM — a fix in
    // either oracle lands in batch and stream or neither
    "llm_reservoir_stream" -> reservoirSql,
    "llm_holdout_split" -> holdoutSplitSql,
    "llm_upsample" -> upsampleSql,
    "llm_source_cap" -> sourceCapSql,
    "llm_source_cap_stream" -> sourceCapSql,
    "llm_token_budget" -> tokenBudgetSql,
    "llm_token_budget_stream" -> tokenBudgetStreamSql,
    "llm_pii" -> piiSql,
    "llm_html_strip" -> htmlStripSql,
    "llm_url_dedup" -> urlDedupSql,
    "llm_e2e_extract" -> e2eExtractSql,
    "llm_chunk" -> chunkSql,
    "llm_pack" -> packSql,
    "llm_typicality" -> typicalitySql,
    "llm_novelty" -> noveltySql,
    "llm_e2e_prepare" -> e2ePrepareSql,
    "llm_e2e_prepare_fuzzy" -> e2ePrepareFuzzySql,
    "llm_e2e_prepare_spans" -> e2ePrepareSpansSql,
    "llm_decontaminate_cut" -> decontaminateCutSql,
    "llm_repetition" -> repetitionSql,
    "llm_multimodal" -> multimodalSql
  )
}
