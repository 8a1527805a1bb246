package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.Tables
import graft.functions.gf

/** Text analysis operators over the documents table (SURVEY.md §2.C) —
  * the per-document scoring/fingerprinting stages of a training-data
  * pipeline. Every operator is a narrow, zero-shuffle projection:
  * at 100 TB these run at scan speed, fully inside whole-stage codegen
  * (built-in string functions + native graft expressions; no UDFs).
  */
object TextOps {

  private val wsPat = "\\s+"
  // BPE-ish pre-tokenizer: letter runs, digit runs, single symbols —
  // ASCII classes only so Java regex (Spark) and RE2 (DuckDB oracle)
  // agree byte-for-byte.
  private val rePat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  // ---------------------------------------------------------------- C1
  /** Token counting: whitespace tokens, BPE-ish regex tokens, chars. */
  def textTokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select(
      $"doc_id",
      length($"text").as("n_chars_actual"),
      size(split(trim($"text"), wsPat)).as("n_ws_tokens"),
      regexp_count($"text", lit(rePat)).as("n_re_tokens"))
  }

  val textTokenCountSql: String =
    """SELECT doc_id,
      |  length(text) AS n_chars_actual,
      |  CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_re_tokens
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- C2
  /** Quality scoring: alpha/punct/stopword ratios + length factor →
    * composite score. All-double arithmetic written with the exact
    * same tree as the oracle so the bits match. */
  def textQualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val nChars = length($"text")
    val nAlpha = length(regexp_replace($"text", "[^A-Za-z]", ""))
    val nPunct = length(regexp_replace($"text", "[^.,;:!?]", ""))
    val toks = split(trim($"text"), wsPat)
    val nToks = size(toks)
    val nStop = size(filter(toks, t => t.isInCollection(Seq("the", "a", "of", "and", "is", "in", "to"))))
    docs.select(
        $"doc_id",
        nChars.as("n_chars_actual"),
        (nAlpha / nChars).as("alpha_ratio"),
        (nPunct / nChars).as("punct_ratio"),
        (nStop / nToks).as("stopword_ratio"),
        nToks.as("n_ws_tokens"))
      .withColumn("quality_score",
        lit(0.4) * col("alpha_ratio")
          + lit(0.3) * (lit(1.0) - col("punct_ratio"))
          + lit(0.3) * least(lit(1.0), col("n_ws_tokens") / lit(100.0)))
  }

  val textQualityScoreSql: String =
    """SELECT doc_id, n_chars_actual, alpha_ratio, punct_ratio,
      |  stopword_ratio, n_ws_tokens,
      |  0.4 * alpha_ratio + 0.3 * (1.0 - punct_ratio)
      |    + 0.3 * least(1.0, n_ws_tokens / 100.0) AS quality_score
      |FROM (
      |  SELECT doc_id,
      |    length(text) AS n_chars_actual,
      |    length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text) AS alpha_ratio,
      |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text) AS punct_ratio,
      |    len(list_filter(string_split_regex(trim(text), '\s+'),
      |      x -> x IN ('the','a','of','and','is','in','to')))
      |      / len(string_split_regex(trim(text), '\s+')) AS stopword_ratio,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_ws_tokens
      |  FROM documents)""".stripMargin

  // ---------------------------------------------------------------- C3
  /** Language ID by marker-word scoring: count per-language function
    * words, argmax with a fixed priority tie-break. A deterministic
    * n-gram-free heuristic — the mechanism a real lang-ID stage uses,
    * expressible in both engines. */
  private val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|is|of|and|was)\\b",
    "de" -> "\\b(der|die|das|und|ist)\\b",
    "fr" -> "\\b(le|les|et|est|une)\\b",
    "es" -> "\\b(el|los|las|y|es)\\b")

  def textLangId(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val scored = docs.select(
      ($"doc_id" +: langMarkers.map { case (l, pat) =>
        regexp_count($"text", lit(pat)).as(s"score_$l")
      }): _*)
    // strictly-greater chain = earlier language wins ties (same CASE as oracle)
    val best =
      when(col("score_es") > greatest(col("score_en"), col("score_de"), col("score_fr")), lit("es"))
        .when(col("score_fr") > greatest(col("score_en"), col("score_de")), lit("fr"))
        .when(col("score_de") > col("score_en"), lit("de"))
        .otherwise(lit("en"))
    scored.withColumn("lang_guess",
      when(greatest(langMarkers.map { case (l, _) => col(s"score_$l") }: _*) === 0, lit("und"))
        .otherwise(best))
  }

  val textLangIdSql: String = {
    val scores = langMarkers.map { case (l, pat) =>
      s"len(regexp_extract_all(text, '${pat.replace("\\", "\\")}')) AS score_$l"
    }.mkString(",\n    ")
    """SELECT doc_id, score_en, score_de, score_fr, score_es,
      |  CASE WHEN greatest(score_en, score_de, score_fr, score_es) = 0 THEN 'und'
      |    WHEN score_es > greatest(score_en, score_de, score_fr) THEN 'es'
      |    WHEN score_fr > greatest(score_en, score_de) THEN 'fr'
      |    WHEN score_de > score_en THEN 'de'
      |    ELSE 'en' END AS lang_guess
      |FROM (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '\b(the|is|of|and|was)\b')) AS INT) AS score_en,
      |    CAST(len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS INT) AS score_de,
      |    CAST(len(regexp_extract_all(text, '\b(le|les|et|est|une)\b')) AS INT) AS score_fr,
      |    CAST(len(regexp_extract_all(text, '\b(el|los|las|y|es)\b')) AS INT) AS score_es
      |  FROM documents)""".stripMargin
  }

  // ---------------------------------------------------------------- C4
  /** Document fingerprinting: md5 of the raw text and of the
    * whitespace-normalized lowercased text (the exact-dedup keys). */
  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select(
      $"doc_id",
      md5($"text".cast("binary")).as("md5_raw"),
      md5(lower(trim(regexp_replace($"text", wsPat, " "))).cast("binary")).as("md5_norm"))
  }

  val textFingerprintSql: String =
    """SELECT doc_id, md5(text) AS md5_raw,
      |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS md5_norm
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------- C5
  /** 3-token shingle strings of `text`: windows of 3 consecutive
    * whitespace tokens (fewer than 3 tokens → one shingle of all
    * tokens). Built by zipping the token array against its own two
    * tails — constant split evaluations per row, linear work, and the
    * construction is mirrored exactly in the DuckDB oracles. */
  def shingleStrings(text: Column): Column = {
    val toks = split(trim(text), wsPat)
    val n = size(toks)
    val m = greatest(n - 2, lit(0))
    when(n < 3, array(concat_ws(" ", toks)))
      .otherwise(zip_with(
        slice(toks, lit(1), m),
        zip_with(slice(toks, lit(2), m), slice(toks, lit(3), m),
          (b, c) => concat_ws(" ", b, c)),
        (a, bc) => concat_ws(" ", a, bc)))
  }

  /** Shingle statistics over the portable string shingles — the
    * k-shingle profile stage of a dedup pipeline. Fully oracled; the
    * native hashed-shingle kernel (gf.shingle_hashes) remains the
    * production fast path, semantics pinned by TextSpec. */
  def textShingles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sh = shingleStrings($"text")
    Tables.documents(spark, sfDir).select(
      $"doc_id",
      size(split(trim($"text"), wsPat)).as("n_ws_tokens"),
      size(sh).as("n_shingles"),
      size(array_distinct(sh)).as("n_distinct_shingles"))
  }

  val textShinglesSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(l) < 3 THEN array_to_string(l, ' ')
      |         ELSE l[g] || ' ' || l[g+1] || ' ' || l[g+2] END AS s
      |  FROM tok, unnest(range(1, greatest(len(l) - 2, 1) + 1)) AS u(g))
      |SELECT doc_id,
      |  CAST(any_value(len(l)) AS INT) AS n_ws_tokens,
      |  CAST(count(*) AS INT) AS n_shingles,
      |  CAST(count(DISTINCT s) AS INT) AS n_distinct_shingles
      |FROM sh JOIN tok USING (doc_id)
      |GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C6
  /** PII redaction: mask email-shaped tokens, long digit runs (ids /
    * card numbers), and phone-shaped sequences. ASCII-safe patterns
    * identical under Java regex and RE2. The corpus has no real PII —
    * a deterministic salted copy plants some so the operator's effect
    * is visible and oracled. */
  def redact(c: Column): Column = {
    val email = regexp_replace(c, "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val phone = regexp_replace(email, "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>")
    regexp_replace(phone, "[0-9]{9,}", "<NUM>")
  }

  def textRedact(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val salted = docs.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 500000).as("doc_id"),
        concat($"text", lit(" contact bob@example.com or 555-123-4567 ref 1234567890123")).as("text"))
    val corpus = docs.select($"doc_id", $"text").unionByName(salted)
    corpus.select($"doc_id", $"text", redact($"text").as("clean_text"))
      .select($"doc_id", $"clean_text",
        ($"clean_text" =!= $"text").as("was_redacted"))
  }

  val textRedactSql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 500000,
      |    text || ' contact bob@example.com or 555-123-4567 ref 1234567890123'
      |  FROM documents WHERE doc_id % 7 = 0),
      |red AS (
      |  SELECT doc_id, text,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(text,
      |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |        '\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
      |      '[0-9]{9,}', '<NUM>', 'g') AS clean_text
      |  FROM corpus)
      |SELECT doc_id, clean_text, clean_text <> text AS was_redacted
      |FROM red""".stripMargin

  // ---------------------------------------------------------------- C7
  /** Corpus-wide n-gram frequency table (word bigrams, top 20) — the
    * n-gram counting stage of language-model data prep. Explode is
    * pipelined (no shuffle until the count), count is map-side
    * partial-aggregated on the bigram key. */
  def textNgramFreq(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = split(trim($"text"), wsPat)
    // Pair each token with its successor by zipping the array against its
    // own tail. A transform(sequence(...), i => element_at(toks, i)) lambda
    // would re-evaluate the split per INDEX (O(tokens²) chars per doc —
    // measured 23s vs 0.3s at sf0.1); zip_with evaluates it a constant
    // number of times per row.
    val n1 = greatest(size(toks) - 1, lit(0))
    val bigrams = zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (a, b) => concat_ws(" ", a, b))
    Tables.documents(spark, sfDir)
      .select(explode(bigrams).as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"bigram")
      .limit(20)
  }

  val textNgramFreqSql: String =
    """SELECT bg AS bigram, count(*) AS n FROM (
      |  SELECT l[g] || ' ' || l[g+1] AS bg
      |  FROM (SELECT string_split_regex(trim(text), '\s+') AS l
      |        FROM documents) t,
      |       unnest(range(1, len(t.l))) AS u(g))
      |GROUP BY bg ORDER BY n DESC, bg LIMIT 20""".stripMargin

  // ---------------------------------------------------------------- C8
  /** Token-entropy repetition signal: per-doc Shannon entropy of the
    * token distribution plus type-token ratio — the standard
    * repetition/diversity filter a quality pipeline runs next to C2.
    * H = log2(N) − (Σ c·log2 c)/N computed in one two-level
    * aggregation (explode → (doc,token) partial counts → per-doc agg);
    * shuffle is linear in tokens. round(…, 6) bridges libm ulp skew
    * between engines (same convention as the cosine oracles). */
  def textEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tf = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(split(trim($"text"), wsPat)).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    tf.groupBy($"doc_id").agg(
      sum($"c").as("n_tok"),
      count(lit(1)).as("n_distinct"),
      round(log2(sum($"c").cast("double"))
        - sum($"c".cast("double") * log2($"c".cast("double"))) / sum($"c"), 6)
        .as("token_entropy"),
      round(count(lit(1)).cast("double") / sum($"c"), 6).as("ttr"))
  }

  /** Shared oracle fragments — ONE definition each for the token-count
    * CTE, the entropy expression, and the bigram-LM CTE chain, composed
    * by both the standalone oracles and the fused quality gate (C11) so
    * the signal definitions can never diverge between them. */
  private val tfCteSql: String =
    """tf AS (
      |  SELECT doc_id, tok, count(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |    FROM documents)
      |  GROUP BY doc_id, tok)""".stripMargin

  private val entropyExprSql: String =
    """round(log2(CAST(sum(c) AS DOUBLE))
      |    - sum(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) / sum(c), 6)""".stripMargin

  private val lmCtesSql: String =
    """tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents),
      |bg AS (
      |  SELECT doc_id, l[g] AS w1, l[g] || ' ' || l[g+1] AS b
      |  FROM tok, unnest(range(1, greatest(len(l), 1))) u(g)),
      |cb AS (SELECT b, count(*) AS cb FROM bg GROUP BY b),
      |cu AS (SELECT w1, count(*) AS cu FROM bg GROUP BY w1),
      |v AS (SELECT count(DISTINCT w1) AS v FROM bg)""".stripMargin

  private val lmSelectSql: String =
    """SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |  round(avg(ln((cb.cb + 1.0) / (cu.cu + v.v))), 6) AS lm_score
      |FROM bg JOIN cb USING (b) JOIN cu USING (w1) CROSS JOIN v
      |GROUP BY doc_id""".stripMargin

  val textEntropySql: String =
    s"""WITH $tfCteSql
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
      |  CAST(count(*) AS BIGINT) AS n_distinct,
      |  $entropyExprSql
      |    AS token_entropy,
      |  round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS ttr
      |FROM tf GROUP BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C9
  /** Sliding-window chunking (RAG/context layout): 128-token windows
    * with stride 96; the last window is clipped to the doc end. Pure
    * integer arithmetic over the token count — a narrow explode, no
    * shuffle; chunk boundaries are identical in both engines. */
  def textChunks(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val W = 128L; val S = 96L
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        size(split(trim($"text"), wsPat)).cast("long").as("n_tok"))
      .withColumn("n_chunks",
        when($"n_tok" <= W, 1L)
          .otherwise(lit(1L) + expr(s"(n_tok - $W + ${S - 1}) DIV $S")))
      .select($"doc_id", $"n_tok", $"n_chunks",
        explode(sequence(lit(0L), $"n_chunks" - 1)).as("chunk_idx"))
      .withColumn("start_tok", $"chunk_idx" * S)
      .withColumn("end_tok", least($"start_tok" + W, $"n_tok"))
  }

  val textChunksSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n_tok,
      |    CASE WHEN n_tok <= 128 THEN 1
      |         ELSE 1 + (n_tok - 128 + 95) // 96 END AS n_chunks
      |  FROM t)
      |SELECT doc_id, n_tok, CAST(n_chunks AS BIGINT) AS n_chunks,
      |  g AS chunk_idx, g * 96 AS start_tok,
      |  least(g * 96 + 128, n_tok) AS end_tok
      |FROM c, unnest(range(n_chunks)) u(g)""".stripMargin

  // ---------------------------------------------------------------- C10
  /** Bigram-LM quality score (perplexity proxy): corpus-wide bigram and
    * prefix-unigram counts, add-1 smoothing over the prefix vocabulary,
    * per-doc mean log-probability. The KenLM-style filter stage of a
    * data pipeline, as three linear aggregations + two equi-joins —
    * counts shuffle on the n-gram key, never on documents. Docs with
    * fewer than 2 tokens have no bigrams and are absent (no score). */
  def textLmScore(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val toks = split(trim($"text"), wsPat)
    val n1 = greatest(size(toks) - 1, lit(0))
    val bigrams = zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
      (a, b) => concat_ws(" ", a, b))
    val docBg = Tables.documents(spark, sfDir)
      .select($"doc_id", explode(bigrams).as("bg"))
      .withColumn("w1", substring_index($"bg", " ", 1))
    // The three count subtrees stay INDEPENDENT reads of docBg — they
    // schedule in parallel, and both "derive cu/v from cb" rollup
    // variants measured SLOWER here (serialized tiny-shuffle barriers
    // outweigh the saved explode at bench SF). On a 100 TB corpus the
    // opposite holds: derive cu(w1)=Σcb and v=|cu| from the one cb
    // pass so the corpus explodes once — same math, swap noted here.
    val cb = docBg.groupBy($"bg").agg(count(lit(1)).as("cb"))
    val cu = docBg.groupBy($"w1").agg(count(lit(1)).as("cu"))
    val v = docBg.select($"w1").agg(countDistinct($"w1").as("v"))
    docBg.join(cb, "bg").join(cu, "w1").crossJoin(broadcast(v))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(($"cb" + lit(1.0)) / ($"cu" + $"v"))), 6).as("lm_score"))
  }

  val textLmScoreSql: String =
    s"""WITH $lmCtesSql
      |$lmSelectSql""".stripMargin

  // ---------------------------------------------------------------- C11
  /** Fused quality gate: the keep/drop decision a filtering pipeline
    * ships, combining the heuristic score (C2), token entropy (C8),
    * and bigram-LM score (C10) in ONE lazy plan — Catalyst fuses the
    * three signal subtrees; nothing materializes between stages. Docs
    * without bigrams (< 2 tokens) fail the LM leg via the left join. */
  def textQualityGate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val q = textQualityScore(spark, sfDir).select($"doc_id", $"quality_score")
    val e = textEntropy(spark, sfDir).select($"doc_id", $"token_entropy")
    val l = textLmScore(spark, sfDir).select($"doc_id", $"lm_score")
    q.join(e, "doc_id").join(l, Seq("doc_id"), "left")
      .select($"doc_id", $"quality_score", $"token_entropy", $"lm_score",
        when($"quality_score" >= 0.72 && $"token_entropy" >= 4.0
          && coalesce($"lm_score", lit(-99.0)) >= -3.42, "Y").otherwise("N")
          .as("pass_flag"))
  }

  val textQualityGateSql: String =
    s"""WITH q AS (
      |  SELECT doc_id,
      |    0.4 * (length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / length(text))
      |    + 0.3 * (1.0 - length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text))
      |    + 0.3 * least(1.0, CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) / 100.0)
      |      AS quality_score
      |  FROM documents),
      |$tfCteSql,
      |ent AS (
      |  SELECT doc_id,
      |    $entropyExprSql
      |      AS token_entropy
      |  FROM tf GROUP BY doc_id),
      |$lmCtesSql,
      |lm AS (
      |  $lmSelectSql)
      |SELECT q.doc_id, quality_score, token_entropy, lm_score,
      |  CASE WHEN quality_score >= 0.72 AND token_entropy >= 4.0
      |        AND coalesce(lm_score, -99.0) >= -3.42
      |    THEN 'Y' ELSE 'N' END AS pass_flag
      |FROM q JOIN ent ON q.doc_id = ent.doc_id
      |LEFT JOIN lm ON q.doc_id = lm.doc_id""".stripMargin

  // --------------------------------------------------------------- C15
  /** Repetition filters — the Gopher/MassiveText quality signals (Rae
    * et al. 2021 §A1.1): within-document n-gram repetition is the
    * strongest cheap predictor of boilerplate/spam. Per document:
    *   - rep3 = 1 − distinct/total token 3-grams (0 for empty docs);
    *   - top2_frac = share of the single most frequent 2-gram.
    * Grams are built as STRINGS (slice + concat_ws — bit-identical in
    * both engines), not hashes, so distinct counts can never diverge
    * by hash collision. rep3 is a narrow per-row projection (array
    * ops, no shuffle); top2_frac is one explode + one (doc, gram)
    * count — the gram KEY shuffles, the text column never does. The
    * n-gram framing means the filter is tokenizer-independent: the
    * 100 TB path runs the identical plan. */
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // tokenize into a materialized column FIRST: referencing the split
    // expression inside the transform lambda would re-run the regex
    // split once per gram position — O(tokens²) regex work per doc
    // (measured 4.97 s vs 0.6 s at sf0.1)
    def grams(toks: Column, k: Int) =
      when(size(toks) < k, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
    // both gram sizes ride ONE exploded relation and one
    // (doc, k, gram) count agg; distinct-3-gram count falls out as the
    // group count (array_distinct over per-doc string arrays is
    // quadratic in doc length — the agg form is the linear path)
    val grams23 = Tables.documents(spark, sfDir)
      // row-parallelism for the two-size gram explode (r20; guide
      // §2.5): one scan task otherwise (single-row-group corpus;
      // measured 0.8 s 1-task stage = the row's cost)
      .repartition(spark.sparkContext.defaultParallelism, $"doc_id")
      .select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
      .select($"doc_id", explode(concat(
        transform(grams($"toks", 3), s => struct(lit(3).as("k"), s.as("s"))),
        transform(grams($"toks", 2), s => struct(lit(2).as("k"), s.as("s")))))
        .as("g"))
      .select($"doc_id", $"g.k".as("k"), $"g.s".as("s"))
    grams23.groupBy($"doc_id", $"k", $"s").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(
        sum(when($"k" === 3, $"c")).cast("int").as("n3"),
        count(when($"k" === 3, lit(1))).as("d3"),
        max(when($"k" === 2, $"c")).as("top2"),
        sum(when($"k" === 2, $"c")).as("n2"))
      .select($"doc_id", $"n3",
        round(lit(1.0) - $"d3" / $"n3", 6).as("rep3"),
        round($"top2" / $"n2", 6).as("top2_frac"))
      .orderBy($"doc_id")
  }

  val textRepetitionSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS l
      |  FROM documents),
      |g3 AS (
      |  SELECT doc_id,
      |    CASE WHEN len(l) < 3 THEN array_to_string(l, ' ')
      |         ELSE l[g] || ' ' || l[g+1] || ' ' || l[g+2] END AS s
      |  FROM tok, unnest(range(1, greatest(len(l) - 2, 1) + 1)) AS u(g)),
      |a3 AS (
      |  SELECT doc_id, count(*) AS n3, count(DISTINCT s) AS d3
      |  FROM g3 GROUP BY 1),
      |g2 AS (
      |  SELECT doc_id,
      |    CASE WHEN len(l) < 2 THEN array_to_string(l, ' ')
      |         ELSE l[g] || ' ' || l[g+1] END AS s
      |  FROM tok, unnest(range(1, greatest(len(l) - 1, 1) + 1)) AS u(g)),
      |c2 AS (SELECT doc_id, s, count(*) AS c FROM g2 GROUP BY 1, 2),
      |a2 AS (SELECT doc_id, max(c) AS top2, sum(c) AS n2 FROM c2 GROUP BY 1)
      |SELECT a3.doc_id, CAST(n3 AS INT) AS n3,
      |  round(1.0 - d3 / n3, 6) AS rep3,
      |  round(top2 / n2, 6) AS top2_frac
      |FROM a3 JOIN a2 ON a3.doc_id = a2.doc_id
      |ORDER BY a3.doc_id""".stripMargin

  // ---------------------------------------------------------------- C16
  /** BPE merge-round statistics: the top-20 most frequent adjacent
    * character pairs across the lowercased word stream — exactly the
    * count a byte-pair-encoding trainer computes to pick its next
    * merge (C1 counts tokens, J6 measures vocab coverage; this is the
    * missing third leg of the tokenizer story). One explode over
    * words, one over per-word pair arrays, one count agg on the
    * ≤ alphabet² pair key space — the text column itself never
    * shuffles, and the per-element substring lambda only touches
    * short word strings (the O(tokens²) regex-in-lambda pitfall from
    * §6 does not apply: the lambda input is the exploded word, not
    * the document). Deterministic top-20 via the (n desc, pair)
    * total order. */
  def textBpePairs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(explode(split(lower(trim($"text")), wsPat)).as("w"))
      .filter(length($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair").limit(20)
  }

  val textBpePairsSql: String =
    """WITH words AS (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents),
      |prs AS (
      |  SELECT substring(w, CAST(g.gs AS INT), 2) AS pair
      |  FROM words, unnest(generate_series(1, length(w) - 1)) g(gs)
      |  WHERE length(w) >= 2)
      |SELECT pair, CAST(count(*) AS BIGINT) AS n
      |FROM prs GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin

  // --------------------------------------------------------------- C18
  /** Readability scoring — the document-difficulty axis the C2/C11
    * quality signals don't cover (a curriculum or domain-mix builder
    * bins corpora by reading level; Flesch 1948 is the standard cheap
    * proxy). Per document, from three regexp-run counts:
    *   - sentences = runs of [.!?] (clamped ≥ 1),
    *   - words     = alphabetic runs (clamped ≥ 1),
    *   - syllables = vowel-group runs in the lowercased text (the
    *     classic hyphenation-free syllable proxy).
    * The Flesch reading-ease score is computed in ×1000 fixed point
    * with integer floor-divisions only — every operand is a positive
    * BIGINT, so Spark's `div` (truncate) and DuckDB's `//` (floor)
    * agree and the score is bit-exact across engines. One narrow
    * projection, no shuffle at all (the ORDER BY is the driver's
    * presentation sort); the text column never leaves its partition.
    * At 100 TB this is a pure map stage fused into whatever scan
    * feeds it. */
  def textReadability(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select($"doc_id",
        greatest(lit(1L), size(expr("regexp_extract_all(text, '[.!?]+', 0)"))
          .cast("long")).as("sentences"),
        greatest(lit(1L), size(expr("regexp_extract_all(text, '[A-Za-z]+', 0)"))
          .cast("long")).as("words"),
        size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
          .cast("long").as("syllables"))
      .withColumn("wps_milli", expr("words * 1000 div sentences"))
      .withColumn("spw_milli", expr("syllables * 1000 div words"))
      .withColumn("flesch_milli",
        expr("206835 - (1015 * wps_milli) div 1000 - (84600 * spw_milli) div 1000"))
      .withColumn("band",
        when($"flesch_milli" >= 70000, "easy")
          .when($"flesch_milli" >= 50000, "medium")
          .otherwise("hard"))
      .select($"doc_id", $"sentences", $"words", $"syllables",
        $"flesch_milli", $"band")
      .orderBy($"doc_id")
  }

  val textReadabilitySql: String =
    """WITH counts AS (
      |  SELECT doc_id,
      |    greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS sentences,
      |    greatest(1, len(regexp_extract_all(text, '[A-Za-z]+'))) AS words,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
      |      AS syllables
      |  FROM documents),
      |fp AS (
      |  SELECT doc_id, CAST(sentences AS BIGINT) AS sentences,
      |    CAST(words AS BIGINT) AS words, syllables,
      |    words * 1000 // sentences AS wps_milli,
      |    syllables * 1000 // words AS spw_milli
      |  FROM counts)
      |SELECT doc_id, sentences, words, syllables,
      |  206835 - (1015 * wps_milli) // 1000 - (84600 * spw_milli) // 1000
      |    AS flesch_milli,
      |  CASE
      |    WHEN 206835 - (1015 * wps_milli) // 1000
      |      - (84600 * spw_milli) // 1000 >= 70000 THEN 'easy'
      |    WHEN 206835 - (1015 * wps_milli) // 1000
      |      - (84600 * spw_milli) // 1000 >= 50000 THEN 'medium'
      |    ELSE 'hard' END AS band
      |FROM fp ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- C19
  /** Zipf-law fit per source — the corpus-forensics check that a feed
    * looks like natural language (token frequencies ≈ C/rank^s with
    * s ≈ 1; spam/boilerplate/generated feeds bend the curve): per
    * source, a least-squares fit of ln(count) against ln(rank) over
    * the top-50 tokens, plus the exact corpus totals (total/distinct
    * tokens — the Heaps-law inputs).
    *
    * Plan: one (source, tok) count agg — only the token KEY shuffles,
    * the text never does — feeding (a) per-source totals and (b) a
    * per-source top-50 window over the VOCAB relation (|vocab| ≪
    * |tokens|; the sort is per source over its vocabulary, never over
    * the corpus). The regression sums are the one float aggregation
    * (ln terms), bridged by round(…,6) — the C8/B59 libm convention.
    * At 100 TB the same plan holds: vocab relations are the small
    * side of everything. */
  def textZipf(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tf = Tables.documents(spark, sfDir)
      .select($"source", explode(split(trim($"text"), wsPat)).as("tok"))
      .groupBy($"source", $"tok").agg(count(lit(1)).as("c"))
    val totals = tf.groupBy($"source").agg(
      sum($"c").as("total_tokens"), count(lit(1)).as("distinct_tokens"))
    val w = Window.partitionBy($"source").orderBy($"c".desc, $"tok")
    val reg = tf.withColumn("r", row_number().over(w)).filter($"r" <= 50)
      .select($"source",
        log($"r".cast("double")).as("x"), log($"c".cast("double")).as("y"))
      .groupBy($"source").agg(
        count(lit(1)).as("n_top"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"),
        sum($"y" * $"y").as("syy"))
    reg.join(totals, "source")
      .select($"source", $"n_top", $"total_tokens", $"distinct_tokens",
        round(($"n_top" * $"sxy" - $"sx" * $"sy")
          / ($"n_top" * $"sxx" - $"sx" * $"sx"), 6).as("zipf_slope"),
        round(($"n_top" * $"sxy" - $"sx" * $"sy")
          * ($"n_top" * $"sxy" - $"sx" * $"sy")
          / (($"n_top" * $"sxx" - $"sx" * $"sx")
            * ($"n_top" * $"syy" - $"sy" * $"sy")), 6).as("zipf_r2"))
      .orderBy($"source")
  }

  /** DuckDB mirror: same tf CTE kernel, same window rank, same
    * regression expression tree over ln terms, rounded at 6. */
  val textZipfSql: String =
    """WITH tf AS (
      |  SELECT source, tok, count(*) AS c FROM (
      |    SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS tok
      |    FROM documents) GROUP BY source, tok),
      |totals AS (
      |  SELECT source, CAST(sum(c) AS BIGINT) AS total_tokens,
      |    count(*) AS distinct_tokens
      |  FROM tf GROUP BY source),
      |top AS (
      |  SELECT source, c,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY c DESC, tok) AS r
      |  FROM tf),
      |reg AS (
      |  SELECT source, count(*) AS n_top,
      |    sum(ln(r)) AS sx, sum(ln(c)) AS sy,
      |    sum(ln(r) * ln(c)) AS sxy, sum(ln(r) * ln(r)) AS sxx,
      |    sum(ln(c) * ln(c)) AS syy
      |  FROM top WHERE r <= 50 GROUP BY source)
      |SELECT reg.source, n_top, total_tokens, distinct_tokens,
      |  round((n_top * sxy - sx * sy) / (n_top * sxx - sx * sx), 6)
      |    AS zipf_slope,
      |  round((n_top * sxy - sx * sy) * (n_top * sxy - sx * sy)
      |    / ((n_top * sxx - sx * sx) * (n_top * syy - sy * sy)), 6)
      |    AS zipf_r2
      |FROM reg JOIN totals ON reg.source = totals.source
      |ORDER BY reg.source""".stripMargin

  // ---------------------------------------------------------------- C20
  /** Boilerplate segment removal — the C4/CCNet cleaning pass ("drop
    * any line that occurs ≥ N times in the corpus") re-expressed over
    * aligned 8-token segments (this corpus has no newlines; a real
    * crawl would key on lines). A segment is boilerplate when its
    * exact text recurs in ≥ 3 distinct documents of the SAME source —
    * nav bars, footers, cookie banners concentrate within a site.
    * Emits the per-document cleaning report: segments kept/dropped and
    * the cleaned length (kept segments joined by single spaces —
    * computed arithmetically, no order-sensitive string agg).
    *
    * Plan: one explode to the segment relation — which immediately
    * collapses each segment to its 60-bit md5 prefix (15 hex chars →
    * BIGINT, the portable md5-h32 convention widened so collisions
    * are negligible: P ≈ (10⁵ segments/source)²/2⁶¹ ≈ 4·10⁻⁹) plus
    * its byte length, so segment TEXT never enters any shuffle (the
    * round-8 board's worst ×20 ratio, 6.6, was this operator
    * shuffling segment strings as the group key) — then one groupBy
    * on the 8-byte (source, seg_h) key for the recurrence counts and
    * an equi-join back on the same key. The oracle keys on the
    * identical md5 prefix, so a collision (which only merges counts)
    * cannot diverge the engines. At 100 TB the ≥3-doc filter runs
    * BEFORE the join-back (the boilerplate list is the rare side,
    * exactly like a stop-word list), which keeps this linear. */
  def textSegDedup(spark: SparkSession, sfDir: String): DataFrame = {
    // This synthetic corpus has no organic boilerplate (random token
    // streams never align an identical 8-token segment across ≥3
    // docs), so the site-chrome signal is injected deterministically —
    // every document gets its source's 8-token footer prepended
    // (aligned: exactly segment 0), the same planted-signal convention
    // as A25's lateness offsets and D5's re-ingested duplicates.
    segDedupPipeline(Tables.documents(spark, sfDir))
  }

  /** The C20 cleaning pass over an arbitrary (doc_id, source, text)
    * corpus (factored for the ScaleProbe). */
  def segDedupPipeline(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val B = 8L
    val withFooter = concat(
      lit("home about contact privacy terms login search "),
      $"source", lit(" "), $"text")
    val toks = split(trim(withFooter), wsPat)
    val segs = docs
      .select($"doc_id", $"source", $"text")
      .select($"doc_id", $"source", toks.as("toks"))
      .withColumn("n_tok", size($"toks").cast("long"))
      .withColumn("n_seg", expr(s"(n_tok + ${B - 1}) DIV $B"))
      .select($"doc_id", $"source", $"toks", $"n_seg",
        explode(sequence(lit(0L), $"n_seg" - 1)).as("seg_idx"))
      .withColumn("seg_text",
        array_join(slice($"toks", ($"seg_idx" * B + 1).cast("int"), lit(B.toInt)), " "))
      // the ONLY columns that survive past this projection are the
      // 60-bit hash and the byte length — segment text dies scan-side
      .select($"doc_id", $"source", $"n_seg", $"seg_idx",
        conv(substring(md5($"seg_text".cast("binary")), 1, 15), 16, 10)
          .cast("long").as("seg_h"),
        length($"seg_text").cast("long").as("seg_len"))
    val counts = segs.groupBy($"source", $"seg_h")
      .agg(countDistinct($"doc_id").as("n_docs"))
    segs.join(counts, Seq("source", "seg_h"))
      .groupBy($"doc_id")
      .agg(max($"n_seg").as("n_seg"),
        sum(when($"n_docs" >= 3, 1L).otherwise(0L)).as("n_dropped"),
        sum(when($"n_docs" < 3, 1L).otherwise(0L)).as("n_kept"),
        (sum(when($"n_docs" < 3, $"seg_len").otherwise(0L))
          + greatest(sum(when($"n_docs" < 3, 1L).otherwise(0L)) - 1, lit(0L)))
          .as("cleaned_len"))
      .orderBy($"doc_id")
  }

  val textSegDedupSql: String =
    """WITH base AS (
      |  SELECT doc_id, source,
      |    string_split_regex(trim(
      |      'home about contact privacy terms login search ' || source
      |      || ' ' || text), '\s+') AS toks
      |  FROM documents),
      |b2 AS (
      |  SELECT doc_id, source, toks,
      |    (CAST(len(toks) AS BIGINT) + 7) // 8 AS n_seg
      |  FROM base),
      |segs AS (
      |  SELECT doc_id, source, n_seg, g AS seg_idx,
      |    ('0x' || substr(md5(
      |      array_to_string(toks[(g*8+1):(g*8+8)], ' ')), 1, 15))::BIGINT
      |      AS seg_h,
      |    len(array_to_string(toks[(g*8+1):(g*8+8)], ' ')) AS seg_len
      |  FROM b2, unnest(range(n_seg)) u(g)),
      |counts AS (
      |  SELECT source, seg_h, count(DISTINCT doc_id) AS n_docs
      |  FROM segs GROUP BY 1, 2)
      |SELECT s.doc_id, max(s.n_seg) AS n_seg,
      |  CAST(sum(CASE WHEN n_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  CAST(sum(CASE WHEN n_docs < 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(sum(CASE WHEN n_docs < 3 THEN s.seg_len ELSE 0 END)
      |    + greatest(sum(CASE WHEN n_docs < 3 THEN 1 ELSE 0 END) - 1, 0)
      |    AS BIGINT) AS cleaned_len
      |FROM segs s JOIN counts c ON s.source = c.source
      |  AND s.seg_h = c.seg_h
      |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin

  // ---------------------------------------------------------------- C21
  /** Line-granularity boilerplate removal — C20 at the granularity a
    * real crawl keys on (CCNet/C4 drop recurring LINES). The corpus
    * has no newlines, so the line structure is derived
    * deterministically and identically in both engines — the A25/C20
    * planted-signal convention: line 0 is the source's footer (site
    * chrome, the planted recurrence), and the document's own tokens
    * partition into lines of cyclic lengths 5/9/7/12 (offsets
    * 0/5/14/26 in each 33-token cycle). Unlike C20's aligned 8-token
    * windows, line boundaries are variable-length and UNALIGNED with
    * any fixed stride — the shape a paragraph/line segmentation
    * actually produces; when a corpus with native newlines lands,
    * only the line-derivation projection changes.
    *
    * A line is boilerplate when it recurs in ≥ 3 distinct documents
    * of the same source. Same scale discipline as C20: each line
    * collapses scan-side to its 60-bit md5 prefix + byte length, so
    * only 8-byte keys shuffle; the oracle keys on the identical
    * prefix (collisions merge counts in both engines alike). */
  def textLineDedup(spark: SparkSession, sfDir: String): DataFrame =
    lineDedupPipeline(Tables.documents(spark, sfDir))

  /** The C21 pass over an arbitrary (doc_id, source, text) corpus
    * (factored for the ScaleProbe). */
  def lineDedupPipeline(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs
      .select($"doc_id", $"source", split(trim($"text"), wsPat).as("toks"))
      .withColumn("n_tok", size($"toks").cast("long"))
      .withColumn("n_body",
        expr("4 * (n_tok div 33) + CASE WHEN n_tok % 33 = 0 THEN 0 " +
          "WHEN n_tok % 33 <= 5 THEN 1 WHEN n_tok % 33 <= 14 THEN 2 " +
          "WHEN n_tok % 33 <= 26 THEN 3 ELSE 4 END"))
    val lines = base
      .select($"doc_id", $"source", $"toks", $"n_body",
        explode(sequence(lit(0L), $"n_body")).as("li"))
      .withColumn("line_text",
        when($"li" === 0,
          concat(lit("home about contact privacy terms login search "),
            $"source"))
          .otherwise(array_join(slice($"toks",
            (lit(33L) * expr("(li - 1) div 4")
              + expr("CASE (li - 1) % 4 WHEN 0 THEN 0 WHEN 1 THEN 5 " +
                "WHEN 2 THEN 14 ELSE 26 END") + 1).cast("int"),
            expr("CASE (li - 1) % 4 WHEN 0 THEN 5 WHEN 1 THEN 9 " +
              "WHEN 2 THEN 7 ELSE 12 END").cast("int")), " ")))
      .select($"doc_id", $"source", ($"n_body" + 1).as("n_lines"),
        conv(substring(md5($"line_text".cast("binary")), 1, 15), 16, 10)
          .cast("long").as("line_h"),
        length($"line_text").cast("long").as("line_len"))
    val counts = lines.groupBy($"source", $"line_h")
      .agg(countDistinct($"doc_id").as("n_docs"))
    lines.join(counts, Seq("source", "line_h"))
      .groupBy($"doc_id")
      .agg(max($"n_lines").as("n_lines"),
        sum(when($"n_docs" >= 3, 1L).otherwise(0L)).as("n_dropped"),
        sum(when($"n_docs" < 3, 1L).otherwise(0L)).as("n_kept"),
        (sum(when($"n_docs" < 3, $"line_len").otherwise(0L))
          + greatest(sum(when($"n_docs" < 3, 1L).otherwise(0L)) - 1, lit(0L)))
          .as("cleaned_len"))
      .orderBy($"doc_id")
  }

  val textLineDedupSql: String =
    """WITH base AS (
      |  SELECT doc_id, source,
      |    string_split_regex(trim(text), '\s+') AS toks,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
      |      AS n_tok
      |  FROM documents),
      |b2 AS (
      |  SELECT doc_id, source, toks,
      |    4 * (n_tok // 33) + CASE WHEN n_tok % 33 = 0 THEN 0
      |      WHEN n_tok % 33 <= 5 THEN 1 WHEN n_tok % 33 <= 14 THEN 2
      |      WHEN n_tok % 33 <= 26 THEN 3 ELSE 4 END AS n_body
      |  FROM base),
      |lines AS (
      |  SELECT doc_id, source, n_body + 1 AS n_lines,
      |    CASE WHEN li = 0
      |      THEN 'home about contact privacy terms login search ' || source
      |      ELSE array_to_string(toks[
      |        (CAST(33 * ((li-1) // 4) AS BIGINT)
      |          + CASE (li-1) % 4 WHEN 0 THEN 0 WHEN 1 THEN 5
      |            WHEN 2 THEN 14 ELSE 26 END + 1):
      |        (CAST(33 * ((li-1) // 4) AS BIGINT)
      |          + CASE (li-1) % 4 WHEN 0 THEN 0 WHEN 1 THEN 5
      |            WHEN 2 THEN 14 ELSE 26 END
      |          + CASE (li-1) % 4 WHEN 0 THEN 5 WHEN 1 THEN 9
      |            WHEN 2 THEN 7 ELSE 12 END)], ' ')
      |      END AS line_text
      |  FROM b2, unnest(range(n_body + 1)) u(li)),
      |keyed AS (
      |  SELECT doc_id, source, n_lines,
      |    ('0x' || substr(md5(line_text), 1, 15))::BIGINT AS line_h,
      |    len(line_text) AS line_len
      |  FROM lines),
      |counts AS (
      |  SELECT source, line_h, count(DISTINCT doc_id) AS n_docs
      |  FROM keyed GROUP BY 1, 2)
      |SELECT k.doc_id, max(k.n_lines) AS n_lines,
      |  CAST(sum(CASE WHEN n_docs >= 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  CAST(sum(CASE WHEN n_docs < 3 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(sum(CASE WHEN n_docs < 3 THEN k.line_len ELSE 0 END)
      |    + greatest(sum(CASE WHEN n_docs < 3 THEN 1 ELSE 0 END) - 1, 0)
      |    AS BIGINT) AS cleaned_len
      |FROM keyed k JOIN counts c ON k.source = c.source
      |  AND k.line_h = c.line_h
      |GROUP BY k.doc_id ORDER BY k.doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("text_line_dedup", textLineDedup, textLineDedupSql),
    QueryDef("text_seg_dedup", textSegDedup, textSegDedupSql),
    QueryDef("text_zipf", textZipf, textZipfSql),
    QueryDef("text_readability", textReadability, textReadabilitySql),
    QueryDef("text_bpe_pairs", textBpePairs, textBpePairsSql),
    QueryDef("text_repetition", textRepetition, textRepetitionSql),
    QueryDef("text_ngram_freq", textNgramFreq, textNgramFreqSql),
    QueryDef("text_chunks", textChunks, textChunksSql),
    QueryDef("text_lm_score", textLmScore, textLmScoreSql),
    QueryDef("text_quality_gate", textQualityGate, textQualityGateSql),
    QueryDef("text_redact", textRedact, textRedactSql),
    QueryDef("text_token_count", textTokenCount, textTokenCountSql),
    QueryDef("text_quality_score", textQualityScore, textQualityScoreSql),
    QueryDef("text_lang_id", textLangId, textLangIdSql),
    QueryDef("text_fingerprint", textFingerprint, textFingerprintSql),
    QueryDef("text_shingles", textShingles, textShinglesSql),
    QueryDef("text_entropy", textEntropy, textEntropySql))
}
