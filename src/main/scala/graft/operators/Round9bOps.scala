package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.QueryDef
import graft.Tables
import graft.functions.gf

/** Second round-9 widening (SURVEY.md §2 rows A29, B75, D24): URL
  * canonicalization for the crawl frontier, an l-diversity privacy
  * audit beside B66's k-anonymity, and an EXACT set-similarity join
  * via prefix filtering (AllPairs/PPJoin family, Bayardo et al.
  * WWW'07) — the zero-false-negative alternative to the D2 MinHash-LSH
  * candidate generator.
  *
  * Scale discipline (100 TB): URL work is a narrow scan-side
  * projection plus one group-by on the canonical key; the prefix join
  * shuffles only 8-byte shingle hashes and bounds its candidate
  * fan-out by the prefix-filter theorem (a pair with Jaccard ≥ τ MUST
  * share a token among each side's rarest (n − ⌈τ·n⌉ + 1) tokens);
  * verification is confined to the candidate relation via the shared
  * D4 exact kernel. Text never shuffles.
  */
object Round9bOps {

  // ---------------------------------------------------------------- A29
  /** URL canonicalization + variant report — the crawl-frontier dedup
    * step the reference's scraper (web_scrape.py:78-111 walks fixed
    * page URLs) never needed but any multi-source crawl does: scheme
    * and host case-folded, default :80 port stripped, fragments
    * dropped, `utm_*` tracking parameters removed, surviving query
    * parameters sorted, trailing slash stripped. Output is one row
    * per canonical page with how many raw URLs (and distinct raw
    * spellings) collapse onto it — the fan-in a frontier dedups on.
    *
    * The corpus has no URL column, so raw URLs are derived
    * deterministically per doc (same discipline as C21's derived line
    * structure): scheme/host case, port, trailing slash, tracking
    * params, param ORDER, and fragment all vary by doc_id residues,
    * while the underlying page identity is (source, doc_id mod 50,
    * v = doc_id mod 3 when params are present). Canonicalization is
    * genuine string parsing — the derivation only supplies variety.
    *
    * Scale: canonicalization is a narrow per-row projection (no UDF —
    * regexp + higher-order array functions, all codegen'd); the one
    * shuffle is the group-by on the canonical key. At 100 TB the
    * frontier would group on a 64-bit hash of the canonical form and
    * keep one exemplar string; here the canonical URL IS the output
    * key, so it groups directly. */
  /** Lowercased host with the scheme's DEFAULT port stripped — `:80`
    * only under http, `:443` only under https (round-9 advisor fix:
    * the unconditional strip folded `https://host:80`, a legal
    * non-default port and a distinct origin, onto `https://host`).
    * Non-default ports survive for any scheme. */
  def urlDomain(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z]+)://", 1))
    val host = lower(regexp_extract(noFrag, "^[A-Za-z]+://([^/?#]+)", 1))
    when(scheme === "http", regexp_replace(host, ":80$", ""))
      .when(scheme === "https", regexp_replace(host, ":443$", ""))
      .otherwise(host)
  }

  /** The canonicalization kernel: case-fold scheme+host, strip :80,
    * drop fragment, drop `utm_*` params, sort surviving params, strip
    * trailing slash. Pure column expression (codegen'd, no UDF);
    * IDEMPOTENT — canonicalize∘canonicalize ≡ canonicalize, spec-pinned
    * (`Round9bSpec`), the property a frontier needs to mix already-
    * canonical and raw URLs in one stream. */
  def canonicalizeUrl(u: Column): Column = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z]+)://", 1))
    val host = urlDomain(u)
    val pathq = regexp_extract(noFrag, "^[A-Za-z]+://[^/?#]+([^#]*)$", 1)
    val path = regexp_replace(regexp_extract(pathq, "^([^?]*)", 1), "/$", "")
    val qs = regexp_extract(pathq, "\\?(.*)$", 1)
    val kept = array_sort(filter(split(qs, "&"),
      p => !p.startsWith("utm_") && length(p) > 0))
    concat(scheme, lit("://"), host, path,
      when(size(kept) > 0, concat(lit("?"), array_join(kept, "&")))
        .otherwise(lit("")))
  }

  /** The deterministic raw-URL derivation (shared by A29 and the G20
    * streaming frontier twin): page identity is (source, id mod 50,
    * v = id mod 3 when params present); everything else — case, port,
    * slash, tracking params, param ORDER, fragment — is spelling
    * variety keyed on id residues. */
  def rawUrlCol(id: Column, source: Column): Column = {
    val v = id % 3
    val page = id % 50
    concat(
      when(id % 3 === 0, "HTTP").otherwise("http"),
      lit("://"),
      when(id % 2 === 0, concat(lit("WWW."), source, lit(".Example.com")))
        .otherwise(concat(lit("www."), source, lit(".example.com"))),
      when(id % 5 === 0, ":80").otherwise(""),
      lit("/p/"), page,
      when(id % 7 === 0, "/").otherwise(""),
      when(id % 4 === 0, concat(lit("?v="), v, lit("&utm_campaign=x")))
        .when(id % 4 === 1, concat(lit("?utm_source=feed&v="), v))
        .when(id % 4 === 2, concat(lit("?v="), v))
        .otherwise(""),
      when(id % 6 === 0, "#top").otherwise(""))
  }

  def etlUrlCanonical(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val withRaw = d.select(col("doc_id"),
      rawUrlCol(col("doc_id"), col("source")).as("raw_url"))
    withRaw
      .select(col("raw_url"), canonicalizeUrl(col("raw_url")).as("canon_url"),
        urlDomain(col("raw_url")).as("domain"))
      .groupBy("canon_url", "domain")
      .agg(count(lit(1)).as("n_raw"),
        countDistinct(col("raw_url")).as("n_variants"))
  }

  /** The derivation + canonicalization CTE chain (raw → parsed →
    * parts → canon), the SQL mirror of `rawUrlCol` ∘ `canonicalizeUrl`
    * — ONE definition shared by the A29 oracle and the G20 streaming
    * frontier twin's oracle. */
  val urlCanonSqlCtes: String =
    """raw AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'http' END)
      |    || '://'
      |    || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' || source || '.Example.com'
      |             ELSE 'www.' || source || '.example.com' END)
      |    || (CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END)
      |    || '/p/' || CAST(doc_id % 50 AS VARCHAR)
      |    || (CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END)
      |    || (CASE WHEN doc_id % 4 = 0
      |           THEN '?v=' || CAST(doc_id % 3 AS VARCHAR) || '&utm_campaign=x'
      |         WHEN doc_id % 4 = 1
      |           THEN '?utm_source=feed&v=' || CAST(doc_id % 3 AS VARCHAR)
      |         WHEN doc_id % 4 = 2 THEN '?v=' || CAST(doc_id % 3 AS VARCHAR)
      |         ELSE '' END)
      |    || (CASE WHEN doc_id % 6 = 0 THEN '#top' ELSE '' END) AS raw_url
      |  FROM documents),
      |parsed AS (
      |  SELECT raw_url,
      |    regexp_replace(raw_url, '#.*$', '') AS nofrag
      |  FROM raw),
      |parts AS (
      |  SELECT raw_url, scheme,
      |    CASE WHEN scheme = 'http'
      |           THEN regexp_replace(rawhost, ':80$', '')
      |         WHEN scheme = 'https'
      |           THEN regexp_replace(rawhost, ':443$', '')
      |         ELSE rawhost END AS host,
      |    regexp_extract(nofrag, '^[A-Za-z]+://[^/?#]+([^#]*)$', 1) AS pathq
      |  FROM (SELECT raw_url, nofrag,
      |          lower(regexp_extract(nofrag, '^([A-Za-z]+)://', 1)) AS scheme,
      |          lower(regexp_extract(nofrag, '^[A-Za-z]+://([^/?#]+)', 1))
      |            AS rawhost
      |        FROM parsed)),
      |canon AS (
      |  SELECT raw_url, host AS domain,
      |    scheme || '://' || host
      |    || regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/$', '')
      |    || (CASE WHEN len(kept) > 0
      |             THEN '?' || array_to_string(kept, '&') ELSE '' END)
      |      AS canon_url
      |  FROM (SELECT raw_url, scheme, host, pathq,
      |          list_sort(list_filter(
      |            string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
      |            p -> p NOT LIKE 'utm_%' AND len(p) > 0)) AS kept
      |        FROM parts))""".stripMargin

  // NB: concatenation, NOT an interpolated stripMargin template — the
  // CTE body's `|| '…'` concat lines would lose a pipe to stripMargin.
  val etlUrlCanonicalSql: String =
    "WITH " + urlCanonSqlCtes + "\n" +
      """SELECT canon_url, domain, count(*) AS n_raw,
        |  count(DISTINCT raw_url) AS n_variants
        |FROM canon GROUP BY canon_url, domain""".stripMargin

  // ---------------------------------------------------------------- A31
  /** Politeness-bounded crawl schedule — the planning step between
    * A29's canonical frontier and A16's fetch stage: each domain's
    * pages must fetch sequentially at one request per POLITENESS_S
    * seconds (the reference's sleep-between-requests discipline,
    * web_scrape.py, made a plan instead of a driver loop), domains
    * spread across K=4 crawler slots by round-robin over the
    * size-descending order (greedy LPT flavor: the B58/J12 ranking
    * discipline — the max-min load gap telescopes to at most one
    * domain's pages). Output per domain: its slot, its own crawl
    * seconds, and its finish time within the slot's sequential
    * schedule — the table a scheduler reads to predict completion
    * and spot the long-pole domain.
    *
    * Scale: the per-domain page counts are A29's group-by output
    * (domain-bounded, tiny); ranking and the in-slot cumsum are
    * windows over that |domains|-row relation (allowlisted ≤|sources|
    * rows); nothing row-scale shuffles. */
  def etlCrawlSchedule(spark: SparkSession, sfDir: String): DataFrame = {
    val politeness = 5L // seconds between requests to one domain
    val pages = etlUrlCanonical(spark, sfDir)
      .groupBy(col("domain")).agg(count(lit(1)).as("n_pages"))
    val ranked = pages.withColumn("rk", row_number().over(
      Window.orderBy(col("n_pages").desc, col("domain"))))
      .withColumn("crawler", (col("rk") - 1) % 4)
    val wSlot = Window.partitionBy(col("crawler")).orderBy(col("rk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked
      .withColumn("crawl_s", col("n_pages") * politeness)
      .withColumn("finish_s", sum(col("crawl_s")).over(wSlot))
      .select(col("domain"), col("n_pages"), col("crawler"),
        col("crawl_s"), col("finish_s"))
  }

  val etlCrawlScheduleSql: String =
    "WITH " + urlCanonSqlCtes + ",\n" +
      """pages AS (
        |  SELECT domain, count(DISTINCT canon_url) AS n_pages
        |  FROM canon GROUP BY domain),
        |ranked AS (
        |  SELECT domain, n_pages,
        |    row_number() OVER (ORDER BY n_pages DESC, domain) AS rk
        |  FROM pages)
        |SELECT domain, n_pages,
        |  CAST((rk - 1) % 4 AS BIGINT) AS crawler,
        |  n_pages * 5 AS crawl_s,
        |  CAST(sum(n_pages * 5) OVER (PARTITION BY (rk - 1) % 4
        |    ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS finish_s
        |FROM ranked""".stripMargin

  // ---------------------------------------------------------------- B75
  /** l-diversity audit — the privacy lens B66's k-anonymity misses: a
    * quasi-identifier class can be large (k-anonymous) yet expose its
    * members because every row carries the SAME sensitive value.
    * Classes are (mktsegment, nation) over customers joined to their
    * orders; the sensitive attribute is o_orderpriority; a class
    * passes at l ≥ 3 distinct sensitive values (Machanavajjhala et
    * al., ICDE'06). Output: per-class size, distinct-sensitive count,
    * and the pass flag — the table a release gate reads.
    *
    * Scale: one equi-join (customer side broadcastable at any
    * realistic dimension size) and one group-by; COUNT(DISTINCT) is
    * Spark's two-phase partial-distinct aggregate, so the shuffle
    * carries (class, priority) pairs — bounded by |classes|·|priority
    * domain|, not by orders. */
  def qLDiversity(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"), col("c_nationkey"))
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col("o_orderpriority")).as("l_distinct"))
      .withColumn("l_ok",
        when(col("l_distinct") >= 3, 1L).otherwise(0L))
  }

  val qLDiversitySql: String =
    """SELECT c_mktsegment, c_nationkey, count(*) AS class_size,
      |  count(DISTINCT o_orderpriority) AS l_distinct,
      |  CAST(CASE WHEN count(DISTINCT o_orderpriority) >= 3
      |       THEN 1 ELSE 0 END AS BIGINT) AS l_ok
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment, c_nationkey""".stripMargin

  // ---------------------------------------------------------------- B76
  /** Gini concentration index of order values per market segment —
    * the inequality lens on revenue concentration (is a segment's
    * revenue spread across orders or carried by a few?), beside B58's
    * Pareto frontier and B69's skew profile. Classic rank formula:
    * G = (2·Σ r·x − (n+1)·Σx) / (n·Σx) over values sorted ascending.
    *
    * Exactness discipline: order values become exact integer CENTS
    * (2-dp doubles, ×100 round is exact), ranks are per-segment
    * row_numbers with a unique (cents, orderkey) order, and both Σ
    * accumulate into Decimal(38,0) ↔ HUGEINT (Σ r·x overflows BIGINT
    * near SF 100 — the B70 advisor lesson applied up front; headroom
    * to ~1e38 ≈ SF 10⁶). The single float step — the final division —
    * is mirrored VERBATIM (numerator/denominator each cast exact→
    * double, one multiply, one divide, floor) so both engines make
    * the identical IEEE decisions; output is integer ppm.
    *
    * Scale: one broadcastable dimension join, a per-segment
    * (partitioned) rank window, one group-by. Nothing global. */
  def qGini(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).select("c_custkey", "c_mktsegment")
    val x = Tables.orders(spark, sfDir)
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderkey").as("tie"))
    giniPipeline(x).withColumnRenamed("seg", "c_mktsegment")
  }

  /** Rank-formula Gini over (seg, cents, tie) — shared by the query
    * surface and the `Round9bSpec` closed-form cases. */
  def giniPipeline(x: DataFrame): DataFrame = {
    val ranked = x.withColumn("r", row_number().over(
      Window.partitionBy("seg").orderBy(col("cents"), col("tie"))))
    ranked.groupBy("seg")
      .agg(count(lit(1)).as("n"),
        sum(col("cents").cast("decimal(38,0)")).as("sx"),
        sum((col("r").cast("long") * col("cents")).cast("decimal(38,0)"))
          .as("srx"))
      .select(col("seg"), col("n"),
        expr("""CAST(floor((1000000.0 * CAST(2 * srx - (n + 1) * sx AS DOUBLE))
                / CAST(n * sx AS DOUBLE)) AS BIGINT)""").as("gini_ppm"))
  }

  val qGiniSql: String =
    """WITH x AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |r AS (
      |  SELECT seg, cents,
      |    row_number() OVER (PARTITION BY seg ORDER BY cents, o_orderkey) AS r
      |  FROM x),
      |a AS (
      |  SELECT seg, count(*) AS n,
      |    sum(CAST(cents AS HUGEINT)) AS sx,
      |    sum(CAST(r AS HUGEINT) * cents) AS srx
      |  FROM r GROUP BY seg)
      |SELECT seg AS c_mktsegment, n,
      |  CAST(floor((1000000.0 * CAST(2 * srx - (n + 1) * sx AS DOUBLE))
      |       / CAST(n * sx AS DOUBLE)) AS BIGINT) AS gini_ppm
      |FROM a""".stripMargin

  // ---------------------------------------------------------------- B77
  /** Bootstrap confidence interval for the mean purchase value by
    * DETERMINISTIC hash subsampling — the uncertainty quantification
    * B65/B73's parametric tests assume away (no normality needed),
    * in the merge-friendly form distributed systems actually use
    * (Kleiner et al.'s Bag of Little Bootstraps and Poisson-bootstrap
    * streaming estimators are this family). B = 32 half-sample
    * replicates: replicate b includes a row iff bit b of the row's
    * portable md5-h32 is set — each replicate is a deterministic
    * ~n/2 subsample, so the whole expansion collapses map-side into
    * 32 (count, sum) partials and nothing row-sized ever shuffles.
    * CI = 2nd and 31st order statistics of the 32 replicate means
    * (≈ 94% nominal; half-sampling widens the interval by ~√2 vs the
    * full n-bootstrap — subsampling à la Politis-Romano, documented
    * conservative, not hidden).
    *
    * Exactness: values in integer cents, replicate sums are exact
    * BIGINTs, the replicate mean is the one mirrored float division,
    * and the order statistics tie-break on replicate id. */
  def qBootstrapCi(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        gf.h32(concat(lit("boot:"), col("event_id"))).as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rs = ev
      .select(col("cents"), col("h"),
        explode(sequence(lit(0), lit(31))).as("b"))
      .filter(expr("(shiftright(h, b) & 1) = 1"))
      .groupBy("b")
      .agg(count(lit(1)).as("n_b"), sum(col("cents")).as("s_b"))
    val m = rs
      .withColumn("mean_b", col("s_b").cast("double") / col("n_b"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("mean_b"), col("b"))))
    val tot = ev.agg(count(lit(1)).as("n"),
      (sum(col("cents")).cast("double") / count(lit(1))).as("mean"))
    tot
      .crossJoin(broadcast(m.filter(col("r") === 2)
        .select(col("mean_b").as("ci_lo"))))
      .crossJoin(broadcast(m.filter(col("r") === 31)
        .select(col("mean_b").as("ci_hi"))))
      .select(lit(32L).as("n_resamples"), col("n"), col("mean"),
        col("ci_lo"), col("ci_hi"))
  }

  val qBootstrapCiSql: String =
    """WITH ev AS (
      |  SELECT CAST(round(value * 100) AS BIGINT) AS cents,
      |    ('0x' || substr(md5('boot:' || CAST(event_id AS VARCHAR)), 1, 8))
      |      ::BIGINT AS h
      |  FROM events WHERE event_type = 'purchase'),
      |ex AS (
      |  SELECT cents, b FROM ev, range(32) t(b)
      |  WHERE ((h >> CAST(b AS INT)) & 1) = 1),
      |rs AS (SELECT b, count(*) AS n_b, sum(cents) AS s_b FROM ex GROUP BY b),
      |m AS (
      |  SELECT b, CAST(s_b AS DOUBLE) / n_b AS mean_b,
      |    row_number() OVER (ORDER BY CAST(s_b AS DOUBLE) / n_b, b) AS r
      |  FROM rs),
      |tot AS (
      |  SELECT count(*) AS n,
      |    CAST(sum(cents) AS DOUBLE) / count(*) AS mean
      |  FROM ev)
      |SELECT CAST(32 AS BIGINT) AS n_resamples, tot.n, tot.mean,
      |  lo.mean_b AS ci_lo, hi.mean_b AS ci_hi
      |FROM tot, (SELECT mean_b FROM m WHERE r = 2) lo,
      |  (SELECT mean_b FROM m WHERE r = 31) hi""".stripMargin

  // ---------------------------------------------------------------- D24
  /** Exact set-similarity join via PREFIX FILTERING (AllPairs/PPJoin,
    * Bayardo et al. WWW'07; Xiao et al. WWW'08) — the third candidate
    * generator in the dedup family and the only EXACT one: D2's
    * MinHash-LSH trades false negatives for speed, D4 verifies inside
    * LSH candidates (inheriting their recall); prefix filtering has
    * recall 1.0 BY THEOREM. Order each doc's 3-shingle set by global
    * document frequency (rarest first); a pair with Jaccard ≥ τ must
    * share at least one token within each side's first
    * n − ⌈τ·n⌉ + 1 tokens, so the candidate join runs only on those
    * prefixes. Candidates are then verified with the SHARED D4 exact
    * kernel (one definition of Jaccard per engine). τ = 0.8.
    *
    * Scale: the document-frequency relation is vocabulary-bounded and
    * the prefix equi-join shuffles 8-byte hashes; prefix length is
    * ~n/5 at τ=0.8, and rarest-first ordering makes prefix tokens the
    * LOW-fan-out ones — the theorem bounds recall, the ordering
    * bounds cost. The per-doc position window partitions by doc_id
    * (never global), and the corpus is shingled ONCE — the persisted
    * relation feeds both the prefix phase and the shared verify
    * kernel. */
  def dedupPrefixJoin(spark: SparkSession, sfDir: String): DataFrame =
    prefixJoinPipeline(DedupOps.corpus(Tables.documents(spark, sfDir)))

  /** The full prefix-filter pipeline over an arbitrary (doc_id, text)
    * relation at τ=0.8 — shared by the query surface and the ×N
    * `ScaleProbe`. */
  def prefixJoinPipeline(docs: DataFrame): DataFrame = {
    // shingle ONCE: the persisted (doc_id, sh) relation feeds both the
    // prefix candidate phase (as exploded postings) and the shared
    // exact-verify kernel — one text scan for the whole operator
    val shingled = docs.select(col("doc_id"),
      gf.shingle_md5_h32(col("text"), 3).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val post = shingled
      .select(col("doc_id"), explode(array_distinct(col("sh"))).as("h"))
    val dfreq = post.groupBy("h").agg(count(lit(1)).as("d"))
    val sized = post.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pos = post.join(dfreq, "h")
      .withColumn("p", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("d"), col("h"))))
    val pref = pos.join(sized, "doc_id")
      .filter(col("p") <= col("n") - expr("(4 * n + 4) div 5") + 1)
      .select(col("doc_id"), col("h"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct()
    // materialize the (duplicate-sized) verified pairs eagerly, then
    // release the corpus-sized shingle cache — returning a lazy plan
    // over the persisted relation leaked one cached corpus per
    // invocation (bench reps, the ×N ScaleProbe loop) until session
    // end (round-9 advisor fix). The eager localCheckpoint also cuts
    // the plan lineage like the other iterative operators.
    val out = DedupOps.ngramJaccardVerify(shingled, 0.8, cand)
      .localCheckpoint(true)
    shingled.unpersist()
    out
  }

  val dedupPrefixJoinSql: String = {
    s"""WITH ${DedupOps.corpusSql},
       |${DedupOps.shingleSqlCtes("corpus")},
       |dfreq AS (SELECT h, count(*) AS d FROM shh GROUP BY h),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
       |pos AS (
       |  SELECT s.doc_id, s.h, z.n,
       |    row_number() OVER (PARTITION BY s.doc_id ORDER BY f.d, s.h) AS p
       |  FROM shh s JOIN dfreq f ON f.h = s.h
       |  JOIN sizes z ON z.doc_id = s.doc_id),
       |pref AS (
       |  SELECT doc_id, h FROM pos
       |  WHERE p <= n - ((4 * n + 4) // 5) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM pref a JOIN pref b
       |    ON a.h = b.h AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT c.id1, c.id2, count(*) AS i
       |  FROM cand c
       |  JOIN shh h1 ON h1.doc_id = c.id1
       |  JOIN shh h2 ON h2.doc_id = c.id2 AND h2.h = h1.h
       |  GROUP BY c.id1, c.id2)
       |SELECT i.id1, i.id2,
       |  CAST(i.i AS DOUBLE) / (s1.n + s2.n - i.i) AS jaccard
       |FROM inter i
       |JOIN sizes s1 ON s1.doc_id = i.id1
       |JOIN sizes s2 ON s2.doc_id = i.id2
       |WHERE CAST(i.i AS DOUBLE) / (s1.n + s2.n - i.i) >= 0.8""".stripMargin
  }

  // ---------------------------------------------------------------- B80
  /** RFM customer segmentation — the classic marketing-BI scoring
    * (Recency / Frequency / Monetary) the B-family's cohort (B27),
    * retention (B64), and dormancy (B40) views all orbit: per
    * customer, days since last order, order count, and lifetime spend
    * in exact cents, each scored 1-5 against the corpus's quintile
    * boundaries, plus the standard segment label.
    *
    * Scale discipline: NO windows anywhere — the four quintile
    * boundaries per dimension come from one exact-percentile
    * aggregation (B23b's kernel; approx_percentile at 100 TB) and
    * broadcast back, so scoring is a pure scan-side comparison chain
    * (score = 1 + Σ [v > qᵢ], exact integer vs interpolated-double
    * comparisons mirrored verbatim). One groupBy on custkey + one
    * 1-row broadcast cross. Recency is measured against the corpus
    * max order date (both engines' max of the same dates). */
  def qRfmSegmentation(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
    val rfm = o.groupBy(col("o_custkey"))
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .as("monetary_cents"))
      .crossJoin(broadcast(o.agg(max(col("o_orderdate")).as("corpus_max"))))
      .withColumn("recency_days",
        datediff(col("corpus_max"), col("last_order")))
      .select(col("o_custkey").as("c_custkey"), col("recency_days"),
        col("frequency"), col("monetary_cents"))
    val bounds = rfm.agg(
      expr("percentile(-recency_days, array(0.2, 0.4, 0.6, 0.8))").as("qr"),
      expr("percentile(frequency, array(0.2, 0.4, 0.6, 0.8))").as("qf"),
      expr("percentile(monetary_cents, array(0.2, 0.4, 0.6, 0.8))").as("qm"))
    def score(v: Column, qs: Column): Column =
      (lit(1L) + (0 to 3).map(i =>
        when(v > element_at(qs, i + 1), 1L).otherwise(0L)).reduce(_ + _))
    rfm.crossJoin(broadcast(bounds))
      .withColumn("r_score", score(-col("recency_days"), col("qr")))
      .withColumn("f_score", score(col("frequency"), col("qf")))
      .withColumn("m_score", score(col("monetary_cents"), col("qm")))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4
          && col("m_score") >= 4, "champion")
          .when(col("r_score") >= 4 && col("f_score") >= 3, "loyal")
          .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
          .otherwise("regular"))
      .select(col("c_custkey"), col("recency_days"), col("frequency"),
        col("monetary_cents"), col("r_score"), col("f_score"),
        col("m_score"), col("segment"))
  }

  val qRfmSegmentationSql: String =
    """WITH rfm AS (
      |  SELECT o_custkey AS c_custkey,
      |    date_diff('day', max(o_orderdate),
      |      (SELECT max(o_orderdate) FROM orders)) AS recency_days,
      |    CAST(count(*) AS BIGINT) AS frequency,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS monetary_cents
      |  FROM orders GROUP BY o_custkey),
      |b AS (
      |  SELECT
      |    quantile_cont(-recency_days, [0.2, 0.4, 0.6, 0.8]) AS qr,
      |    quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS qf,
      |    quantile_cont(monetary_cents, [0.2, 0.4, 0.6, 0.8]) AS qm
      |  FROM rfm),
      |scored AS (
      |  SELECT c_custkey, recency_days, frequency, monetary_cents,
      |    1 + (CASE WHEN -recency_days > qr[1] THEN 1 ELSE 0 END)
      |      + (CASE WHEN -recency_days > qr[2] THEN 1 ELSE 0 END)
      |      + (CASE WHEN -recency_days > qr[3] THEN 1 ELSE 0 END)
      |      + (CASE WHEN -recency_days > qr[4] THEN 1 ELSE 0 END) AS r_score,
      |    1 + (CASE WHEN frequency > qf[1] THEN 1 ELSE 0 END)
      |      + (CASE WHEN frequency > qf[2] THEN 1 ELSE 0 END)
      |      + (CASE WHEN frequency > qf[3] THEN 1 ELSE 0 END)
      |      + (CASE WHEN frequency > qf[4] THEN 1 ELSE 0 END) AS f_score,
      |    1 + (CASE WHEN monetary_cents > qm[1] THEN 1 ELSE 0 END)
      |      + (CASE WHEN monetary_cents > qm[2] THEN 1 ELSE 0 END)
      |      + (CASE WHEN monetary_cents > qm[3] THEN 1 ELSE 0 END)
      |      + (CASE WHEN monetary_cents > qm[4] THEN 1 ELSE 0 END) AS m_score
      |  FROM rfm, b)
      |SELECT c_custkey, recency_days, frequency, monetary_cents,
      |  CAST(r_score AS BIGINT) AS r_score,
      |  CAST(f_score AS BIGINT) AS f_score,
      |  CAST(m_score AS BIGINT) AS m_score,
      |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
      |         THEN 'champion'
      |       WHEN r_score >= 4 AND f_score >= 3 THEN 'loyal'
      |       WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
      |       WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
      |       ELSE 'regular' END AS segment
      |FROM scored""".stripMargin

  // ---------------------------------------------------------------- H17
  /** Spatial grid-bucketed nearest-neighbor join — the geohash/S2
    * pattern that makes "nearest X within radius r" an EQUI-join at
    * any scale (the join family's missing spatial axis beside as-of
    * (H1/H6) and interval-range (H4)): each probe point explodes to
    * its 3×3 neighborhood of r-sized grid cells; candidates come from
    * the cell equi-join ONLY; the containment theorem (any point
    * within r of p lies in one of p's 9 cells when cell side = r)
    * makes the bounded-NN result EXACT — spec-proven against the
    * all-pairs brute force, which is also the DuckDB oracle.
    *
    * Coordinates derive deterministically per key on a power-of-2
    * grid ((h32 mod 4096)·100/4096 — every value, difference, and
    * squared distance is an EXACT double, so both engines make
    * identical comparisons with zero trig/libm exposure). Nearest =
    * min-struct (d², custkey). Suppliers with no customer within
    * r = 5 are absent (bounded semantics, documented).
    *
    * Scale: probe side explodes ×9 scan-side; the only shuffle is the
    * cell equi-join; candidate fan-out is bounded by cell occupancy
    * (at 100 TB: pick r so cells hold ~O(1) neighbors, exactly how
    * production geo-joins are tuned). Never all-pairs. */
  def qGridKnnJoin(spark: SparkSession, sfDir: String): DataFrame = {
    def coord(prefix: String, id: Column): Column =
      (gf.h32(concat(lit(prefix), id)) % 4096)
        .cast("double") * lit(100.0) / lit(4096.0)
    val s = Tables.supplier(spark, sfDir).select(col("s_suppkey"),
      coord("gx:s", col("s_suppkey")).as("sx"),
      coord("gy:s", col("s_suppkey")).as("sy"))
    val c = Tables.customer(spark, sfDir).select(col("c_custkey"),
      coord("gx:c", col("c_custkey")).as("cx"),
      coord("gy:c", col("c_custkey")).as("cy"))
      .withColumn("cellx", floor(col("cx") / 5.0))
      .withColumn("celly", floor(col("cy") / 5.0))
    val neighbors = array((for { dx <- -1 to 1; dy <- -1 to 1 } yield
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val sCells = s
      .withColumn("bx", floor(col("sx") / 5.0))
      .withColumn("by", floor(col("sy") / 5.0))
      .withColumn("n", explode(neighbors))
      .select(col("s_suppkey"), col("sx"), col("sy"),
        (col("bx") + col("n.dx")).as("cellx"),
        (col("by") + col("n.dy")).as("celly"))
    sCells.join(c, Seq("cellx", "celly"))
      .withColumn("d2",
        (col("sx") - col("cx")) * (col("sx") - col("cx"))
          + (col("sy") - col("cy")) * (col("sy") - col("cy")))
      .filter(col("d2") <= 25.0)
      .groupBy(col("s_suppkey"))
      .agg(min(struct(col("d2").as("d2"), col("c_custkey").as("c_custkey")))
        .as("m"))
      .select(col("s_suppkey"), col("m.c_custkey").as("c_custkey"),
        col("m.d2").as("d2"))
  }

  val qGridKnnJoinSql: String =
    """WITH sc AS (
      |  SELECT s_suppkey,
      |    (('0x' || substr(md5('gx:s' || CAST(s_suppkey AS VARCHAR)), 1, 8))
      |      ::BIGINT % 4096) * 100.0 / 4096 AS sx,
      |    (('0x' || substr(md5('gy:s' || CAST(s_suppkey AS VARCHAR)), 1, 8))
      |      ::BIGINT % 4096) * 100.0 / 4096 AS sy
      |  FROM supplier),
      |cc AS (
      |  SELECT c_custkey,
      |    (('0x' || substr(md5('gx:c' || CAST(c_custkey AS VARCHAR)), 1, 8))
      |      ::BIGINT % 4096) * 100.0 / 4096 AS cx,
      |    (('0x' || substr(md5('gy:c' || CAST(c_custkey AS VARCHAR)), 1, 8))
      |      ::BIGINT % 4096) * 100.0 / 4096 AS cy
      |  FROM customer),
      |cand AS (
      |  SELECT s_suppkey, c_custkey,
      |    (sx - cx) * (sx - cx) + (sy - cy) * (sy - cy) AS d2
      |  FROM sc, cc)
      |SELECT s_suppkey, c_custkey, d2 FROM (
      |  SELECT s_suppkey, c_custkey, d2,
      |    row_number() OVER (PARTITION BY s_suppkey ORDER BY d2, c_custkey)
      |      AS rn
      |  FROM cand WHERE d2 <= 25.0) WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------- B79
  /** Two-sample Kolmogorov-Smirnov test between the purchase and
    * click value distributions — the SHAPE-sensitive nonparametric
    * complement closing the test triad (B65 z-test: means under
    * normality; B73 Mann-Whitney: location shifts; KS: ANY
    * distributional difference, including variance/shape changes a
    * rank test misses). D = sup|F_A − F_B| evaluated at every pooled
    * distinct value.
    *
    * Exactness: the supremum numerator is the exact BIGINT
    * max |n_B·cumA(v) − n_A·cumB(v)| (headroom n² ≈ 4·10¹⁴ at
    * SF 100), located by the min-struct tie-break (largest
    * difference, then smallest value — the B72 argmax discipline);
    * D and the asymptotic λ = D·√(n_A·n_B/(n_A+n_B)) are the two
    * mirrored float expressions, rounded 6 dp.
    *
    * Scale: the global ECDF cumsum runs with NO unpartitioned window —
    * the B73/q_ntile distributedRank discipline (distinct values
    * range-repartition; partition-local cumsums + broadcast 32-row
    * offsets globalize both group counts in one pass). */
  def qKsTest(spark: SparkSession, sfDir: String): DataFrame =
    ksPipeline(Tables.events(spark, sfDir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type"), col("value")))

  /** KS over an (event_type ∈ {purchase, click}, value) relation —
    * shared by the query surface and the `Round9bSpec` closed-form
    * case. */
  def ksPipeline(ab: DataFrame): DataFrame = {
    val dv = ab.groupBy(col("value")).agg(
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("na_v"),
      sum(when(col("event_type") === "click", 1L).otherwise(0L))
        .as("nb_v"))
    val part = dv.repartitionByRange(32, col("value"))
      .withColumn("__pid", spark_partition_id())
    val wloc = Window.partitionBy(col("__pid")).orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = part
      .withColumn("__la", sum(col("na_v")).over(wloc))
      .withColumn("__lb", sum(col("nb_v")).over(wloc))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val woff = Window.partitionBy(lit(1)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = local.groupBy(col("__pid"))
      .agg(sum(col("na_v")).as("__pa"), sum(col("nb_v")).as("__pb"))
      .withColumn("__offa", coalesce(sum(col("__pa")).over(woff), lit(0L)))
      .withColumn("__offb", coalesce(sum(col("__pb")).over(woff), lit(0L)))
      .select(col("__pid"), col("__offa"), col("__offb"))
    val tot = dv.agg(sum(col("na_v")).as("n_a"), sum(col("nb_v")).as("n_b"))
    val m = local.join(broadcast(offs), "__pid")
      .crossJoin(broadcast(tot))
      .withColumn("absdiff", abs(
        col("n_b") * (col("__offa") + col("__la"))
          - col("n_a") * (col("__offb") + col("__lb"))))
      .agg(min(struct((-col("absdiff")).as("nd"), col("value").as("v"),
        col("n_a").as("na"), col("n_b").as("nb"))).as("m"))
    m.select(col("m.na").as("n_a"), col("m.nb").as("n_b"),
        (-col("m.nd")).as("d_num"), col("m.v").as("ks_at"))
      .withColumn("ks",
        round(col("d_num").cast("double") / (col("n_a") * col("n_b")), 6))
      .withColumn("ks_lambda",
        round((col("d_num").cast("double") / (col("n_a") * col("n_b")))
          * sqrt((col("n_a").cast("double") * col("n_b"))
            / (col("n_a") + col("n_b"))), 6))
  }

  val qKsTestSql: String =
    """WITH ab AS (
      |  SELECT event_type, value FROM events
      |  WHERE event_type IN ('purchase', 'click')),
      |dv AS (
      |  SELECT value,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS na_v,
      |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS nb_v
      |  FROM ab GROUP BY value),
      |r AS (
      |  SELECT value,
      |    CAST(sum(na_v) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_a,
      |    CAST(sum(nb_v) OVER (ORDER BY value
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_b
      |  FROM dv),
      |t AS (
      |  SELECT CAST(sum(na_v) AS BIGINT) AS n_a,
      |    CAST(sum(nb_v) AS BIGINT) AS n_b
      |  FROM dv),
      |d AS (
      |  SELECT r.value, t.n_a, t.n_b,
      |    abs(t.n_b * r.cum_a - t.n_a * r.cum_b) AS absdiff
      |  FROM r, t)
      |SELECT n_a, n_b, absdiff AS d_num, value AS ks_at,
      |  round(CAST(absdiff AS DOUBLE) / (n_a * n_b), 6) AS ks,
      |  round((CAST(absdiff AS DOUBLE) / (n_a * n_b))
      |    * sqrt((CAST(n_a AS DOUBLE) * n_b) / (n_a + n_b)), 6) AS ks_lambda
      |FROM d ORDER BY absdiff DESC, value LIMIT 1""".stripMargin

  // ---------------------------------------------------------------- J16
  /** Coreset extraction by sensitivity-weighted PRIORITY SAMPLING —
    * the data-selection primitive that keeps a provably useful small
    * subset of a 100 TB embedding corpus (Bachem/Lucic/Krause's
    * sensitivity framework for the weights, Duffield/Lund/Thorup
    * priority sampling for the deterministic weighted
    * without-replacement draw). Sensitivity proxy w(x) = d²(x,
    * nearest standing centroid) + 1 on the E3 integer grid (outliers
    * and cell-edge points carry the clustering cost — exactly the
    * points a coreset must keep); priority = w / u with u = (h32+1)/2³²
    * a deterministic hash-uniform, so there is NO RNG and both
    * engines replay the draw bit-for-bit. The top-64 priorities are
    * the sample; est_weight = max(w, τ) with τ the 65th priority —
    * the Duffield estimator that makes Horvitz-Thompson sums
    * unbiased.
    *
    * Scale: one broadcast-argmin assignment pass (the shared E3
    * kernel), a narrow priority projection, and a TakeOrdered top-65
    * (per-partition top-k + driver merge of 65 rows — NO global
    * sort); the two windows after the cut run over exactly 65 rows
    * (allowlisted). */
  /** Nearest-standing-cell assignment carrying the squared distance —
    * the E3 broadcast-argmin kernel with d² kept (shared by J16, its
    * G21 streaming twin's join-back, and the spec). */
  def assignWithD2(emb: DataFrame): DataFrame = {
    val cents = AnnOps.ivfCentroids(emb)
    emb.crossJoin(broadcast(cents))
      .withColumn("dist2",
        gf.l2sq_long(AnnOps.quantize(col("embedding")), col("centroid_q")))
      .groupBy(col("vec_id"))
      .agg(min_by(struct(col("cell"), col("dist2")),
        struct(col("dist2"), col("cell"))).as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"),
        col("best.dist2").as("d2"))
  }

  def sampleCoreset(spark: SparkSession, sfDir: String): DataFrame = {
    val ad = assignWithD2(Tables.embeddings(spark, sfDir))
    val pri = ad
      .withColumn("h", gf.h32(concat(lit("core:"), col("vec_id"))))
      .withColumn("priority", (col("d2") + 1).cast("double")
        / ((col("h") + 1).cast("double") / lit(4294967296.0)))
    val t = pri.orderBy(col("priority").desc, col("vec_id")).limit(65)
    val w = Window.orderBy(col("priority").desc, col("vec_id"))
    val wAll = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    t.withColumn("rn", row_number().over(w))
      .withColumn("tau", min(col("priority")).over(wAll))
      .filter(col("rn") <= 64)
      .select(col("vec_id"), col("cell"), col("d2"),
        greatest((col("d2") + 1).cast("double"), col("tau"))
          .as("est_weight"))
  }

  val sampleCoresetSql: String =
    """WITH qv AS (
      |  SELECT vec_id, label, dim,
      |    floor(embedding[dim+1]::DOUBLE * 1000000)::BIGINT AS q
      |  FROM embeddings, range(64) d(dim)),
      |cent AS (
      |  SELECT label AS cell, dim,
      |    floor(CAST(sum(q) AS DOUBLE) / count(*))::BIGINT AS c
      |  FROM qv GROUP BY label, dim),
      |dist AS (
      |  SELECT v.vec_id, c.cell,
      |    CAST(sum((v.q - c.c) * (v.q - c.c)) AS BIGINT) AS d2
      |  FROM qv v JOIN cent c ON c.dim = v.dim
      |  GROUP BY v.vec_id, c.cell),
      |assign AS (
      |  SELECT vec_id, cell, d2 FROM (
      |    SELECT vec_id, cell, d2,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
      |    FROM dist) WHERE rn = 1),
      |pri AS (
      |  SELECT vec_id, cell, d2,
      |    CAST(d2 + 1 AS DOUBLE)
      |      / ((('0x' || substr(md5('core:' || CAST(vec_id AS VARCHAR)), 1, 8))
      |           ::BIGINT + 1) / 4294967296.0) AS priority
      |  FROM assign),
      |t AS (SELECT * FROM pri ORDER BY priority DESC, vec_id LIMIT 65),
      |r AS (
      |  SELECT vec_id, cell, d2, priority,
      |    row_number() OVER (ORDER BY priority DESC, vec_id) AS rn,
      |    min(priority) OVER () AS tau
      |  FROM t)
      |SELECT vec_id, cell, d2,
      |  greatest(CAST(d2 + 1 AS DOUBLE), tau) AS est_weight
      |FROM r WHERE rn <= 64""".stripMargin

  // ---------------------------------------------------------------- D26
  /** b-bit MinHash calibration (Li & König, WWW'10) — the STORAGE
    * axis of the dedup trade space (D12 tunes the threshold, D22 the
    * banding; this measures what surviving on 1 bit per permutation
    * costs): keeping only the lowest bit of each of the 128 minhash
    * values compresses signatures 64× (16 B vs 1 KB per doc — at
    * 100 TB the difference between an index that fits in executor
    * memory and one that doesn't), at the price of estimator
    * variance. For b = 1, bits of non-matching permutations agree
    * half the time, so Ĵ = 2·(match/128) − ½·2; the table shows, per
    * full-estimate decile over the permissive candidate set, the
    * full and b-bit estimates side by side — the measured
    * variance-vs-storage curve read before committing an index
    * layout.
    *
    * Exactness: matches are exact integer counts (zip_with over the
    * shared signature kernels; the SQL replays Σ[m₁ mod 2 = m₂ mod 2]
    * from the same mh relation), bucket = floor(10·k/128) on exact
    * binary fractions, and the two mean estimates are the mirrored
    * float divisions (6 dp). Candidates come from the run-shared
    * store — no new corpus scan. */
  def dedupBbitMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = DedupOps.sharedPairs(spark, sfDir, 0.3)
      .select(col("id1"), col("id2"))
    val sigs = DedupOps.minhashSigs(
      DedupOps.corpus(Tables.documents(spark, sfDir)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val joined = pairs
      .join(sigs.select(col("doc_id").as("id1"), col("sig").as("s1")), "id1")
      .join(sigs.select(col("doc_id").as("id2"), col("sig").as("s2")), "id2")
      .withColumn("full_m", size(filter(
        zip_with(col("s1"), col("s2"), (x, y) => x === y), b => b)))
      .withColumn("bbit_m", size(filter(
        zip_with(col("s1"), col("s2"), (x, y) => x % 2 === y % 2), b => b)))
    joined
      .withColumn("bucket",
        floor(col("full_m").cast("double") * 10.0 / 128.0).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("full_m")).as("sum_full_m"),
        sum(col("bbit_m")).as("sum_bbit_m"))
      .withColumn("mean_full_est",
        round(col("sum_full_m").cast("double") / (col("n_pairs") * 128), 6))
      .withColumn("mean_bbit_est",
        round(col("sum_bbit_m").cast("double") * 2.0
          / (col("n_pairs") * 128) - 1.0, 6))
  }

  val dedupBbitMinhashSql: String =
    s"""WITH ${DedupOps.minhashSqlCtes},
       |p AS (SELECT id1, id2 FROM est WHERE est_jaccard >= 0.3),
       |m2 AS (
       |  SELECT p.id1, p.id2,
       |    CAST(sum(CASE WHEN a.m = b.m THEN 1 ELSE 0 END) AS BIGINT)
       |      AS full_m,
       |    CAST(sum(CASE WHEN a.m % 2 = b.m % 2 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS bbit_m
       |  FROM p
       |  JOIN mh a ON a.doc_id = p.id1
       |  JOIN mh b ON b.doc_id = p.id2 AND b.j = a.j
       |  GROUP BY p.id1, p.id2),
       |bk AS (
       |  SELECT CAST(floor(CAST(full_m AS DOUBLE) * 10.0 / 128.0)
       |      AS BIGINT) AS bucket,
       |    full_m, bbit_m
       |  FROM m2)
       |SELECT bucket, count(*) AS n_pairs,
       |  CAST(sum(full_m) AS BIGINT) AS sum_full_m,
       |  CAST(sum(bbit_m) AS BIGINT) AS sum_bbit_m,
       |  round(CAST(sum(full_m) AS DOUBLE) / (count(*) * 128), 6)
       |    AS mean_full_est,
       |  round(CAST(sum(bbit_m) AS DOUBLE) * 2.0 / (count(*) * 128) - 1.0, 6)
       |    AS mean_bbit_est
       |FROM bk GROUP BY bucket""".stripMargin

  // ---------------------------------------------------------------- D25
  /** Connected components by alternating LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the D-family's second closure algorithm
    * beside D6's label propagation + pointer jumping. Each round
    * rewires edges toward component minima: large-star hangs every
    * neighbor LARGER than the center onto the neighborhood minimum;
    * small-star hangs the not-larger neighborhood onto its minimum.
    * The edge set provably converges to per-component stars rooted at
    * the minimum id in O(log² n) rounds (O(log n) observed) —
    * DIAMETER-INDEPENDENT, unlike plain propagation's O(diameter):
    * the property that matters when a 100 TB near-dup graph chains
    * (template drift) rather than cliques.
    *
    * Convergence is verified (edge set unchanged — two anti-joins of
    * the duplicate-sized relation), and non-convergence throws rather
    * than silently returning a partial labeling (the D6 discipline).
    * Output is the (doc_id, cluster_id) label relation; the oracle is
    * the recursive-closure `lab` relation — hash equality proves the
    * contraction computes EXACTLY the transitive closure's min-id
    * labeling. Spec additionally pins equality with D6's
    * `connectedComponents` on chain/star/clique shapes.
    *
    * Scale: every round is two (groupBy + equi-join) passes over the
    * duplicate-sized edge relation, lineage-truncated; nothing ever
    * fans out beyond the neighborhood minima being attached. */
  def dedupCcTwostar(spark: SparkSession, sfDir: String): DataFrame =
    twoStarComponents(
      DedupOps.dedupMinhashLsh(spark, sfDir).select("id1", "id2"))

  def twoStarComponents(pairs: DataFrame, maxIter: Int = 12): DataFrame = {
    def sym(e: DataFrame): DataFrame =
      e.select(col("x").as("a"), col("y").as("b"))
        .unionByName(e.select(col("y").as("a"), col("x").as("b")))
        .filter(col("a") =!= col("b")).distinct()
    var edges = sym(pairs.select(col("id1").as("x"), col("id2").as("y")))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // LARGE-STAR over the full neighborhood: m = min(N(u) ∪ {u});
      // every neighbor v > u re-hangs onto m. The min relation is
      // |V|-sized — at scale it must NOT broadcast (measured: the
      // size estimator under-calls it at ×50 replicas and the build
      // OOMs the driver); shuffle_hash co-partitions it with the
      // edge relation on the same key the groupBy just shuffled on
      val mLarge = edges.groupBy("a")
        .agg(least(min(col("b")), col("a")).as("m"))
      val large = edges.join(mLarge.hint("shuffle_hash"), "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("x"), col("m").as("y"))
      val e1 = sym(large).localCheckpoint(true)
      // SMALL-STAR over the not-larger neighborhood: centers keep
      // their own edge to m, smaller neighbors re-hang onto m
      val smallIn = e1.filter(col("b") < col("a"))
      val mSmall = smallIn.groupBy("a").agg(min(col("b")).as("m"))
      val withM = smallIn.join(mSmall.hint("shuffle_hash"), "a")
      val small = withM.select(col("b").as("x"), col("m").as("y"))
        .unionByName(withM.select(col("a").as("x"), col("m").as("y")))
      val e2 = sym(small).localCheckpoint(true)
      // set equality via two anti-joins (both relations are distinct);
      // exceptAll would let the planner broadcast a |E|-sized side
      val changed =
        e2.join(edges.hint("shuffle_hash"), Seq("a", "b"), "left_anti")
          .limit(1).count() +
          edges.join(e2.hint("shuffle_hash"), Seq("a", "b"), "left_anti")
            .limit(1).count()
      edges = e2
      converged = changed == 0
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"two-star contraction did not converge in $maxIter rounds")
    // converged edges are stars rooted at component minima
    edges.groupBy(col("a").as("doc_id"))
      .agg(least(min(col("b")), col("a")).as("cluster_id"))
  }

  val dedupCcTwostarSql: String =
    s"""WITH RECURSIVE ${ClusterOps.componentsSqlCtes}
       |SELECT doc_id, cluster_id FROM lab""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("etl_url_canonical", etlUrlCanonical, etlUrlCanonicalSql),
    QueryDef("etl_crawl_schedule", etlCrawlSchedule, etlCrawlScheduleSql),
    QueryDef("q_l_diversity", qLDiversity, qLDiversitySql),
    QueryDef("q_gini", qGini, qGiniSql),
    QueryDef("q_rfm_segmentation", qRfmSegmentation, qRfmSegmentationSql),
    QueryDef("q_bootstrap_ci", qBootstrapCi, qBootstrapCiSql),
    QueryDef("q_ks_test", qKsTest, qKsTestSql),
    QueryDef("q_grid_knn_join", qGridKnnJoin, qGridKnnJoinSql),
    QueryDef("dedup_bbit_minhash", dedupBbitMinhash, dedupBbitMinhashSql),
    QueryDef("sample_coreset", sampleCoreset, sampleCoresetSql),
    QueryDef("dedup_cc_twostar", dedupCcTwostar, dedupCcTwostarSql),
    QueryDef("dedup_prefix_join", dedupPrefixJoin, dedupPrefixJoinSql))
}
