package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnOps, RetrievalOps, Round10Ops}

/** Round-10 operator specs (SURVEY §2 rows landed this round). */
class Round10Spec extends SparkSuite {

  test("bm25_standing: result equals the rebuild-from-text C17 and the index side probes Exchange-free") {
    // running the query builds the two standing stores (2 segments each)
    val standing = RetrievalOps.bm25Standing(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val rebuilt = RetrievalOps.textBm25(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(standing.nonEmpty)
    assert(standing == rebuilt, "standing index diverged from rebuild")

    val (post, dls) = RetrievalOps.bm25Stores(spark, sf)
    assert(post.segments.size == 2, s"expected 2 posting segments")
    assert(dls.segments.size == 2)

    // Exchange-free index side: under forced SMJ, no Exchange may sit
    // directly above a posting-segment bucketed scan in the probe plan
    val abt = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(abt)
    spark.conf.set(abt, "-1")
    try {
      val probe = post.probe(
        RetrievalOps.bm25ProbeTerms(spark).select(col("tok")).distinct(),
        _.select(col("tok"), col("doc_id"), col("c")))
      val plan = probe.queryExecution.executedPlan.toString
      val indexSideExchanges =
        "Exchange[^\\n]*\\n[^\\n]*graft_bm25_post".r.findAllMatchIn(plan).size
      assert(indexSideExchanges == 0,
        s"index side shuffled:\n$plan")
    } finally prior.fold(spark.conf.unset(abt))(spark.conf.set(abt, _))
  }

  test("dedup_substr_spans: planted embedded copies recover exact extents, pinned against brute force") {
    import spark.implicits._
    // doc 1: 30 distinct tokens; doc 2 embeds tokens a4..a15 (12-token
    // verbatim copy) inside its own stream; doc 3 embeds TWO disjoint
    // copies (a0..a8, 9 toks; a20..a29, 10 toks); doc 4 shares nothing
    def t(p: String, n: Int) = (0 until n).map(p + _)
    val a = t("a", 30)
    val docs = Seq(
      (1L, a.mkString(" ")),
      (2L, (t("b", 10) ++ a.slice(4, 16) ++ t("c", 10)).mkString(" ")),
      (3L, (t("d", 5) ++ a.slice(0, 9) ++ t("e", 7) ++ a.slice(20, 30))
        .mkString(" ")),
      (4L, t("z", 25).mkString(" "))).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("id1", "id2") // all pairs: recall is the LSH's job
    val got = Round10Ops.substrSpansPipeline(docs, cand).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

    // brute force: islands of 8-gram positions shared with the peer
    val toks = docs.collect().map(r => r.getLong(0) -> r.getString(1)
      .trim.split("\\s+").toSeq).toMap
    def grams(id: Long): Seq[String] = {
      val l = toks(id)
      if (l.size < 8) Seq(l.mkString(" "))
      else (0 to l.size - 8).map(i => l.slice(i, i + 8).mkString(" "))
    }
    val want = (for {
      (x, y) <- Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
        (3L, 4L))
      (d, p) <- Seq((x, y), (y, x))
      peerSet = grams(p).toSet
      spans = {
        val ps = grams(d).zipWithIndex.collect {
          case (g, i) if peerSet(g) => i }
        // group consecutive positions into islands
        ps.foldLeft(List.empty[(Int, Int, Int)]) {
          case ((s, e, n) :: rest, i) if i == e + 1 => (s, i, n + 1) :: rest
          case (acc, i) => (i, i, 1) :: acc
        }
      }
      (s, e, n) <- spans
    } yield (d, p, s.toLong, (e - s + 8).toLong, n.toLong)).toSet
    assert(want.exists(_._4 == 12L)) // the 12-token copy is visible
    assert(got == want, s"got ${got -- want} extra, missing ${want -- got}")

    // the headline planted case reads exactly as the paper's semantics:
    // a verbatim L-token copy = ONE island of L-7 grams, span_len = L
    assert(got.contains((1L, 2L, 4L, 12L, 5L)))
    assert(got.contains((2L, 1L, 10L, 12L, 5L)))
    assert(got.contains((3L, 1L, 21L, 10L, 3L))) // 10-token copy
  }

  test("ann_graph_search: recall vs E1 brute force with candidate volume, vs IVF at its volume") {
    def topsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
    def recall(got: Map[Long, Set[Long]], want: Map[Long, Set[Long]]): Double =
      want.keys.toSeq.map(q =>
        (got.getOrElse(q, Set.empty) & want(q)).size / 5.0)
        .sum / want.size

    // measured at sf0.1 (2000 vectors): at the 500-vector test corpus
    // any 6-hop traversal saturates to a quarter of the corpus and the
    // volume/lift numbers stop meaning anything
    val sfBig = "/root/testdata/sf0.1"
    val n = Tables.embeddings(spark, sfBig).count().toDouble
    val exact = topsOf(SparkEntry.queries("ann_bruteforce")(spark, sfBig))

    // graph beam search: EXACT visited volume from the traversal state
    val visited = Round10Ops.annGraphVisited(spark, sfBig)
    val beamVolPerQ = visited.count() / exact.size.toDouble
    val beamRecall = recall(topsOf(Round10Ops.annGraphSearch(spark, sfBig)),
      exact)

    // IVF (E3, nprobe=3) for the comparison row: recall from the
    // public pipeline, volume ≈ nprobe × mean cell occupancy
    val emb = Tables.embeddings(spark, sfBig)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val ivfRecall = recall(topsOf(
      AnnOps.ivfTopK(emb, queries, 5, nprobe = 3)
        .select(col("qid"), col("rank"), col("nid"), col("sim"))), exact)
    val nCells = AnnOps.ivfCentroids(emb).count().toDouble
    val ivfVolPerQ = 3.0 / nCells * n

    info(f"corpus=$n%.0f | beam: recall=$beamRecall%.2f vol/q=$beamVolPerQ%.0f "
      + f"(${100 * beamVolPerQ / n}%.1f%%) | ivf(nprobe=3): recall=$ivfRecall%.2f "
      + f"vol/q≈$ivfVolPerQ%.0f (${100 * ivfVolPerQ / n}%.1f%%)")

    // pinned from measurement: the graph traversal concentrates — its
    // recall beats random sampling at equal volume by ≥2× (on RANDOM
    // embeddings there is no cluster structure to navigate, so the
    // honest claim is the lift, not absolute recall), touching ≤15%
    // of the corpus per query
    assert(beamRecall >= 0.15, f"beam recall $beamRecall%.2f")
    assert(beamVolPerQ / n <= 0.15, f"beam volume ${beamVolPerQ / n}%.2f")
    assert(beamRecall >= 2.0 * (beamVolPerQ / n),
      f"no lift over random sampling: recall=$beamRecall%.2f at "
        + f"${beamVolPerQ / n}%.2f volume")
  }

  test("bpe training: merge trajectory and final segmentation equal a reference greedy trainer") {
    import spark.implicits._
    // words with a known useful merge structure: "the"-family shares
    // th/he, repeats force multi-char merges, "aaaa" exercises the
    // left-to-right overlap rule
    val docs = Seq(
      (1L, "the the the then there the banana bandana"),
      (2L, "then banana aaaa aaa the there hehe"),
      (3L, "banana banana then the hehe aaaa")).toDF("doc_id", "text")

    // reference trainer: plain Scala greedy BPE with the identical
    // (count desc, "a|b" asc) tie-break and left-to-right merges
    val words: Map[String, Long] = docs.collect()
      .flatMap(_.getString(1).toLowerCase.trim.split("\\s+"))
      .groupBy(identity).map { case (w, a) => w -> a.length.toLong }
    var segs: Map[String, Vector[String]] =
      words.keys.map(w => w -> w.map(_.toString).toVector).toMap
    val refMerges = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    (1 to 20).foreach { _ =>
      val counts = scala.collection.mutable.Map
        .empty[(String, String), Long].withDefaultValue(0L)
      for ((w, s) <- segs; i <- 0 until s.size - 1)
        counts((s(i), s(i + 1))) += words(w)
      if (counts.nonEmpty) {
        val ((a, b), n) = counts.toSeq
          .minBy { case ((a, b), n) => (-n, a + "|" + b) }
        refMerges += ((a, b, n))
        segs = segs.map { case (w, s) =>
          val out = scala.collection.mutable.Buffer.empty[String]
          var i = 0
          while (i < s.size) {
            if (i + 1 < s.size && s(i) == a && s(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += s(i); i += 1 }
          }
          w -> out.toVector
        }
      }
    }

    val (table, vocabF) = graft.operators.Round10Ops.bpeTrainOn(docs)
    val gotMerges = table.orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(gotMerges == refMerges.toSeq,
      s"trajectory diverged:\n got $gotMerges\n ref ${refMerges.toSeq}")

    val gotSegs = vocabF.collect().map { r =>
      r.getString(0) ->
        r.getString(1).stripPrefix("|").stripSuffix("|").split("\\|\\|")
          .toVector
    }.toMap
    assert(gotSegs == segs, "final segmentation diverged")
    // the overlap rule did its job: aaaa under the (a,a)-family merges
    // segments greedily left-to-right, never overlapping
    assert(segs("aaaa").mkString("+") == gotSegs("aaaa").mkString("+"))
  }

  test("q_markov_attribution: closed-form depth-1 chains give exact removal effects; effects non-negative on the corpus") {
    import spark.implicits._
    // 10 users: 6 view→purchase, 1 view-only, 2 click-only, 1
    // click→purchase → base conversion 7/10, removal(view) leaves
    // only the click path (1/10), removal(click) only view (6/10)
    val rows = (1 to 6).flatMap(u => Seq((u.toLong, u * 10L, 1L, "view"),
      (u.toLong, u * 10L + 1, 2L, "purchase"))) ++
      Seq((10L, 100L, 1L, "view")) ++
      Seq((7L, 70L, 1L, "click"), (8L, 80L, 1L, "click")) ++
      Seq((9L, 90L, 1L, "click"), (9L, 91L, 2L, "purchase"))
    val ev = rows.toDF("user_id", "event_id", "off", "event_type")
      .select(col("user_id"), col("event_id"),
        expr("timestamp_seconds(1700000000 + off)").as("ts"),
        col("event_type"))
    val got = graft.operators.Round10Ops.markovPipeline(spark, ev)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // exact fixed-point integers: p(view)=6e9 div 7, p(click)=1e9 div 3,
    // base=(7·857142857+3·333333333) div 10, removals per construction
    assert(got("view") == (699999999L, 99999999L, 600000000L, 857142L))
    assert(got("click") == (699999999L, 599999999L, 100000000L, 142857L))

    // corpus-level sanity: removal never increases reachability, and
    // shares floor-sum to ≤ 1e6 within |channels| ulps
    val corp = graft.operators.Round10Ops
      .qMarkovAttribution(spark, sf).collect()
    assert(corp.nonEmpty)
    corp.foreach { r =>
      assert(r.getLong(3) >= 0L, s"negative removal effect: $r")
      assert(r.getLong(1) >= r.getLong(2))
    }
    val shares = corp.map(_.getLong(4)).sum
    assert(shares <= 1000000L && shares >= 1000000L - corp.length)
  }

  test("text_kn_lm: per-doc scores equal a reference KN scorer; the model normalizes over the vocab") {
    import spark.implicits._
    val docs = Seq(
      (1L, "san francisco is a city and san diego is a city"),
      (2L, "new york is a city new jersey is a state"),
      (3L, "the city and the state and the city")).toDF("doc_id", "text")

    // reference model from plain counts
    val streams = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
    val bigs = streams.flatMap { case (_, t) => t.zip(t.tail) }
    val cb = bigs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val cu = bigs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val n1pFwd = bigs.distinct.groupBy(_._1)
      .map { case (k, v) => k -> v.size.toLong }
    val n1pBwd = bigs.distinct.groupBy(_._2)
      .map { case (k, v) => k -> v.size.toLong }
    val b = bigs.distinct.size.toDouble
    val d = 0.75
    def p(w1: String, w2: String): Double =
      math.max(cb.getOrElse((w1, w2), 0L) - d, 0.0) / cu(w1) +
        (d * n1pFwd(w1) / cu(w1)) * (n1pBwd.getOrElse(w2, 0L) / b)

    // KN's defining property: interpolated P(·|w1) sums to 1 over the
    // FULL vocab (discount mass exactly funds the continuation term)
    val vocab = streams.flatMap(_._2).distinct
    cu.keys.foreach { w1 =>
      val total = vocab.map(w2 => p(w1, w2)).sum
      assert(math.abs(total - 1.0) < 1e-9, f"sum P(.|$w1) = $total%.12f")
    }

    // pipeline scores = reference mean-log scores (6dp)
    val want = streams.map { case (id, t) =>
      val lps = t.zip(t.tail).map { case (a, w) => math.log(p(a, w)) }
      id -> BigDecimal(lps.sum / lps.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val got = graft.operators.Round10Ops.knLmPipeline(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (id, s) =>
      assert(math.abs(s - want(id)) <= 1e-6, s"doc $id: $s vs ${want(id)}")
    }

    // the KN insight: "francisco" is frequent-after-"san" but
    // context-locked, so its continuation mass is the floor, below a
    // versatile completer like "city"
    assert(n1pBwd(("francisco")) < n1pBwd(("city")))
  }

  test("weighted quantiles: exact vs expanded brute force, merge-order independent, raises on bad weights") {
    import spark.implicits._
    import graft.functions.WeightedQuantileAgg.weighted_quantiles
    // weighted set with ties, a heavy value, and a weight-1 tail
    val rows = Seq((5L, 3L), (1L, 1L), (9L, 10L), (5L, 2L), (2L, 4L),
      (7L, 1L), (1L, 6L))
    val percents = Seq(10, 25, 50, 75, 90, 100)
    def run(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.agg(weighted_quantiles(col("v"), col("w"), percents).as("q"))
        .collect().head.getSeq[Long](0)

    // brute force: expand each value w times; percentile-disc lower
    val expanded = rows.flatMap { case (v, w) => Seq.fill(w.toInt)(v) }.sorted
    val want = percents.map { p =>
      val rank = math.ceil(p / 100.0 * expanded.size).toInt
      expanded(rank - 1)
    }
    val base = rows.toDF("v", "w")
    assert(run(base) == want)

    // merge-order independence: any partitioning/order gives the bits
    Seq(base.repartition(1), base.repartition(7),
      base.orderBy(col("v").desc), base.orderBy(col("w"))).foreach { df =>
      assert(run(df) == want, "partitioning changed the quantiles")
    }

    // contract: non-positive weights raise rather than mis-aggregate
    val err = intercept[Exception] {
      Seq((1L, 0L)).toDF("v", "w")
        .agg(weighted_quantiles(col("v"), col("w"), Seq(50))).collect()
    }
    assert(err.getMessage != null)
  }

  test("text_bpe_sweep: fertility non-increasing in vocab size, word total constant, agrees with encode at the shared vocabulary") {
    val rows = graft.operators.Round10Ops.textBpeSweep(spark, sf)
      .orderBy("vocab_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(10L, 20L, 40L))

    // every merge can only shrink a word's token count, so token
    // totals and fertility are monotone non-increasing in vocab size;
    // the word total is a property of the corpus, not the vocabulary
    assert(rows.map(_._2).distinct.size == 1,
      s"word total varies across vocab sizes: ${rows.toSeq}")
    rows.sliding(2).foreach { case Array(lo, hi) =>
      assert(hi._3 <= lo._3, s"token total increased: $lo -> $hi")
      assert(hi._4 <= lo._4, s"fertility increased: $lo -> $hi")
    }
    rows.foreach { case (_, w, t, f) =>
      assert(f == t * 1000000L / w, "fertility is not the x1e6 ratio")
      assert(t >= w, "BPE cannot emit fewer tokens than words")
    }

    // the 20-merge snapshot is the SAME vocabulary C26 encodes with,
    // so the sweep's corpus totals must equal encode's per-doc sums
    val enc = graft.operators.Round10Ops.textBpeEncode(spark, sf)
      .agg(sum(col("n_words")), sum(col("n_bpe_tokens"))).collect()(0)
    val at20 = rows.find(_._1 == 20L).get
    assert((enc.getLong(0), enc.getLong(1)) == (at20._2, at20._3),
      s"sweep@20 ${at20} != encode totals $enc")
  }
}
