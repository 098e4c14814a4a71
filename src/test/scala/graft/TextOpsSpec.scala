package graft

import org.apache.spark.sql.functions._

/** Property tests for the no-oracle text operators (SURVEY.md §5.3). */
class TextOpsSpec extends SparkSpecBase {

  private def docs = Tables.documents(spark, sfDir)

  /** Exact Jaccard ground-truth pairs at the given threshold. */
  private def jaccardPairs(threshold: Double): Set[(Long, Long)] = {
    import spark.implicits._
    val sh = operators.TextOps.shingles(docs).cache()
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.as("a")
      .join(sh.as("b"), $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.as("za"), $"d1" === $"za.doc_id")
      .join(sizes.as("zb"), $"d2" === $"zb.doc_id")
      .select($"d1", $"d2",
        ($"i".cast("double") / ($"za.n" + $"zb.n" - $"i")).as("j"))
      .filter($"j" >= threshold)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    sh.unpersist()
    pairs
  }

  test("minhash LSH recalls >= 90% of exact Jaccard pairs at j >= 0.6") {
    import spark.implicits._
    val truth = jaccardPairs(0.6)
    assume(truth.nonEmpty, "no planted near-dup pairs at sf0.001")
    val candidates = operators.TextOps.minhashCandidates(docs)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val recall = truth.count(candidates.contains).toDouble / truth.size
    assert(recall >= 0.9, s"recall $recall over ${truth.size} true pairs")
  }

  test("minhash LSH finds ALL exact duplicates (identical docs collide)") {
    import spark.implicits._
    // inject exact duplicates: copy of each doc with id offset +100000
    val dup = docs.withColumn("doc_id", $"doc_id" + 100000L)
    val corpus = docs.unionByName(dup)
    val candidates = operators.TextOps.minhashCandidates(corpus)
      .select($"d1", $"d2").as[(Long, Long)].collect().toSet
    val ids = docs.select($"doc_id").as[Long].collect()
    val missing = ids.filterNot(id => candidates.contains((id, id + 100000L)))
    assert(missing.isEmpty, s"exact dups missed for ids: ${missing.take(5).mkString(",")}")
  }

  test("simhash: near-dup pairs are closer in Hamming distance than random pairs") {
    import spark.implicits._
    val sig = operators.TextOps.simhashSignatures(docs)
      .select($"doc_id", $"simhash").as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val nearPairs = jaccardPairs(0.6)
    assume(nearPairs.nonEmpty, "no planted near-dup pairs at sf0.001")
    val nearAvg = nearPairs.toSeq.map { case (a, b) => hamming(sig(a), sig(b)) }
      .sum.toDouble / nearPairs.size
    val ids = sig.keys.toSeq.sorted
    val randomPairs = for (i <- ids.indices; j <- i + 1 until ids.length) yield (ids(i), ids(j))
    val randAvg = randomPairs.map { case (a, b) => hamming(sig(a), sig(b)) }
      .sum.toDouble / randomPairs.size
    assert(nearAvg < randAvg / 2,
      s"near-dup avg hamming $nearAvg not well below corpus avg $randAvg")
  }

  test("simhash of identical documents is identical") {
    import spark.implicits._
    val dup = docs.withColumn("doc_id", $"doc_id" + 100000L)
    val sig = operators.TextOps.simhashSignatures(docs.unionByName(dup))
      .select($"doc_id", $"simhash").as[(Long, Long)].collect().toMap
    for ((id, s) <- sig if id < 100000L)
      assert(sig(id + 100000L) == s, s"duplicate of $id hashed differently")
  }

  test("sliding chunks tile each document: stride 32, length <= 64, full coverage") {
    import spark.implicits._
    val toks = docs.select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ").filter(_.nonEmpty) }.toMap
    val chunks = operators.TextOps.textChunkSliding.fn(spark, sfDir)
      .as[(Long, Long, Long, String)].collect()
    chunks.foreach { case (id, idx, nTok, text) =>
      val doc = toks(id)
      val start = idx.toInt * 32
      val expect = doc.slice(start, start + 64)
      assert(text == expect.mkString(" "), s"doc $id chunk $idx content mismatch")
      assert(nTok == expect.length, s"doc $id chunk $idx length mismatch")
    }
    val perDoc = chunks.groupBy(_._1).view.mapValues(_.length).toMap
    for ((id, doc) <- toks if doc.nonEmpty)
      assert(perDoc(id) == (doc.length - 1) / 32 + 1,
        s"doc $id: wrong chunk count for ${doc.length} tokens")
  }

  test("decontamination matches a Scala set-algebra recompute") {
    import spark.implicits._
    val raw = docs.select($"doc_id", $"source", lower($"text")).as[(Long, String, String)].collect()
    def shingleSet(t: String): Set[String] = {
      val toks = t.split(" ").filter(_.nonEmpty)
      toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val benchShingles = raw.filter(_._2 == "src0").flatMap(r => shingleSet(r._3)).toSet
    val expected = raw.filter(_._2 != "src0").flatMap { case (id, _, t) =>
      val sh = shingleSet(t)
      val hits = sh.count(benchShingles.contains)
      if (hits >= 3) Some(id -> ((hits.toLong, sh.size.toLong))) else None
    }.toMap
    val got = operators.TextOps.textDecontaminateNgram.fn(spark, sfDir)
      .select($"doc_id", $"n_hits", $"n_shingles").as[(Long, Long, Long)].collect()
      .map { case (id, h, n) => id -> ((h, n)) }.toMap
    assert(got == expected, s"decontamination sets differ: " +
      s"only-got=${(got.keySet -- expected.keySet).take(5)}, " +
      s"only-expected=${(expected.keySet -- got.keySet).take(5)}")
  }

  test("bloom decontamination: plan probes the bloom, result equals the exact twin") {
    import spark.implicits._
    val bloom = operators.TextOps.textDecontaminateBloom.fn(spark, sfDir)
    // the bloom probe must actually be in the candidate filter (else this
    // row is just the exact query with extra steps)
    val analyzed = bloom.queryExecution.analyzed.toString
    assert(analyzed.contains("might_contain") || analyzed.contains("BloomFilter"),
      s"no bloom probe in the plan:\n$analyzed")
    val got = bloom
      .select($"doc_id", $"n_hits", $"n_shingles").as[(Long, Long, Long)].collect().toSet
    val exact = operators.TextOps.textDecontaminateNgram.fn(spark, sfDir)
      .select($"doc_id", $"n_hits", $"n_shingles").as[(Long, Long, Long)].collect().toSet
    assert(got == exact, s"bloom != exact: only-bloom=${(got -- exact).take(5)}, " +
      s"only-exact=${(exact -- got).take(5)}")
  }

  test("connected components equal a union-find over the declared pair list") {
    import spark.implicits._
    val pairs = operators.TextOps.textJaccardSimpairs.fn(spark, sfDir)
      .select($"d1", $"d2").as[(Long, Long)].collect()
    // union-find with attach-larger-root-to-smaller: every component's
    // root converges to its minimum member — the declared canonical id
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap { case (a, b) => Seq(a, b) }.distinct
      .map(id => id -> find(id)).toMap
    val got = operators.TextOps.dedupConnectedComponents.fn(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    assert(got == expected,
      s"component maps differ: only-got=${(got.toSet -- expected.toSet).take(5)}, " +
        s"only-expected=${(expected.toSet -- got.toSet).take(5)}")
  }

  test("rolling fingerprint equals a reference fold computed in Scala") {
    import spark.implicits._
    val got = operators.TextOps.textFingerprintRolling.fn(spark, sfDir)
      .as[(Long, Long)].collect().toMap
    val expected = docs.select($"doc_id", $"text").as[(Long, String)].collect().toMap
      .map { case (id, text) =>
        id -> text.foldLeft(0L)((acc, c) => (acc * 31 + c.toInt) % 1000000007L)
      }
    assert(got == expected)
  }

  test("stratified sample membership matches a driver-side md5 recompute") {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang").as[(Long, String)].collect()
    def bucket(lang: String, id: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$lang:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 4), 16) % 1000
    }
    val expected = docs.groupBy(_._2).map { case (lang, rows) =>
      val target = if (lang == "en") 500L else 200L
      val kept = rows.count { case (id, l) => bucket(l, id) < target }
      lang -> ((rows.length.toLong, kept.toLong))
    }
    val got = operators.TextOps.sampleStratifiedByLang.fn(spark, sfDir)
      .select($"lang", $"n_total", $"n_sampled")
      .as[(String, Long, Long)].collect()
    assert(got.length == expected.size)
    got.foreach { case (lang, nt, ns) =>
      assert(expected(lang) == ((nt, ns)),
        s"$lang: got ($nt,$ns) expected ${expected(lang)}")
    }
  }

  test("vocab coverage: monotone in k, within (0,1], and total mass matches token count") {
    import spark.implicits._
    val rows = SparkEntry.queries("text_vocab_coverage")(spark, sfDir)
      .select($"k", $"terms_used", $"coverage", $"vocab_size")
      .as[(Long, Long, Double, Long)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(10L, 100L, 1000L))
    rows.foreach { case (k, used, cov, vocab) =>
      assert(used == math.min(k, vocab), s"terms_used $used at k=$k vocab=$vocab")
      assert(cov > 0.0 && cov <= 1.0, s"coverage $cov at k=$k")
    }
    // coverage is non-decreasing in k, and hits 1.0 once k >= vocab
    assert(rows.map(_._3).toSeq == rows.map(_._3).sorted.toSeq, "coverage not monotone in k")
    rows.filter { case (k, _, _, vocab) => k >= vocab }
      .foreach { case (k, _, cov, _) => assert(cov == 1.0, s"k=$k covers all but $cov") }
  }

  test("lsh s-curve audit: captures in [0,1], monotone in similarity band per config") {
    import spark.implicits._
    val rows = SparkEntry.queries("text_lsh_scurve_audit")(spark, sfDir)
      .select($"bands", $"rws", $"band_lo", $"n_pairs", $"mean_capture")
      .as[(Long, Long, Double, Long, Double)].collect()
    assert(rows.nonEmpty)
    assert(rows.map(r => (r._1, r._2)).distinct.toSet == Set((16L, 3L), (8L, 6L), (24L, 2L)))
    rows.foreach { r =>
      assert(r._5 >= 0.0 && r._5 <= 1.0, s"capture ${r._5} outside [0,1]")
      assert(r._3 >= 0.5, s"pair table only holds j≥0.5, got band ${r._3}")
    }
    // capture is monotone non-decreasing in the similarity band per config
    rows.groupBy(r => (r._1, r._2)).foreach { case (cfg, rs) =>
      val caps = rs.sortBy(_._3).map(_._5)
      assert(caps.toSeq == caps.sorted.toSeq, s"config $cfg not monotone: ${caps.toSeq}")
    }
    // hand-check one cell: recompute 1-(1-s^3)^16 from the pair similarities
    val sims = SparkEntry.queries("text_jaccard_simpairs")(spark, sfDir)
      .select($"jaccard").as[Double].collect()
    val loBand = rows.filter(r => r._1 == 16 && r._2 == 3).minBy(_._3)
    val inBand = sims.filter(s =>
      math.min(math.floor(s * 10), 9.0) / 10.0 == loBand._3)
    val handMean = inBand.map { s =>
      val t = 1.0 - s * s * s
      val t4 = (t * t) * (t * t)
      1.0 - (t4 * t4) * (t4 * t4)
    }.sum / inBand.length
    assert(loBand._4 == inBand.length, "band pair count mismatch")
    assert(math.abs(loBand._5 - handMean) < 1e-6,
      s"capture ${loBand._5} vs hand $handMean")
  }

  test("js divergence: all 10 pairs, values within [0,1] bits, self-divergence is zero") {
    import spark.implicits._
    val rows = SparkEntry.queries("text_js_divergence_langpair")(spark, sfDir)
      .select($"lang_a", $"lang_b", $"js_bits").as[(String, String, Double)].collect()
    assert(rows.length == 10, s"expected C(5,2)=10 pairs, got ${rows.length}")
    rows.foreach { case (a, b, js) =>
      assert(a < b, s"pair ($a,$b) not canonical")
      // JS divergence with log2 is bounded by 1 bit; tolerance covers
      // the 12-dp per-term rounding over the vocab
      assert(js >= -1e-6 && js <= 1.0 + 1e-6, s"JS($a,$b)=$js outside [0,1]")
    }
    // hand-check: a distribution against itself scores 0 — recompute one
    // pair with identical counts on both sides and the declared algebra
    val freq = operators.TextOps.tokens(Tables.documents(spark, sfDir))
      .where($"lang" === "en")
      .groupBy($"tok").count().as[(String, Long)].collect()
    val v = freq.length // self-pair over its own vocab: p == q ⇒ every term 0
    val n = freq.map(_._2).sum.toDouble
    val js = freq.map { case (_, c) =>
      val p = (c + 0.5) / (n + 0.5 * v)
      val m = p
      0.5 * p * math.log(p / m) / math.log(2) * 2
    }.sum
    assert(math.abs(js) < 1e-12, s"self-JS $js not zero")
  }

  test("rake keywords: phrases stopword-free, scores positive and rank-consistent") {
    import spark.implicits._
    val stop = Set("the", "a", "and", "of", "value", "data")
    val rows = SparkEntry.queries("text_rake_keywords")(spark, sfDir)
      .select($"phrase", $"n_occurrences", $"score")
      .as[(String, Long, Double)].collect()
    assert(rows.length == 10)
    rows.foreach { case (phrase, n, score) =>
      assert(phrase.split(" ").forall(w => !stop.contains(w)),
        s"phrase '$phrase' contains a stopword")
      assert(n >= 1)
      // every word scores degree/freq >= 1, so a phrase scores >= its word count
      assert(score >= phrase.split(" ").length - 1e-6,
        s"'$phrase' score $score below word count")
    }
    val scores = rows.map(_._3)
    assert(scores.toSeq == scores.sorted.reverse.toSeq, "not sorted by score desc")
  }

  test("novelty rate: batch 0 fully novel, novel counts partition the shingle vocabulary") {
    import spark.implicits._
    val rows = SparkEntry.queries("text_ngram_novelty_rate")(spark, sfDir)
      .select($"batch", $"n_shingles", $"n_novel", $"novelty_rate")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(rows.nonEmpty)
    // the earliest batch has nothing before it: everything is novel
    assert(rows.head._4 == 1.0, s"first batch novelty ${rows.head._4}")
    rows.foreach { case (b, total, novel, rate) =>
      assert(novel <= total, s"batch $b novel $novel > total $total")
      assert(rate >= 0.0 && rate <= 1.0)
    }
    // each distinct shingle is novel in exactly one batch
    val distinctShingles = operators.TextOps
      .shingles(Tables.documents(spark, sfDir))
      .select($"shingle").distinct().count()
    assert(rows.map(_._3).sum == distinctShingles,
      s"novel sum ${rows.map(_._3).sum} vs vocabulary $distinctShingles")
  }

  test("class balanced: every language kept at exactly the minority count") {
    import spark.implicits._
    val rows = SparkEntry.queries("sample_class_balanced")(spark, sfDir)
      .select($"lang", $"n_total", $"n_kept").as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    val minTotal = rows.map(_._2).min
    rows.foreach { case (lang, total, kept) =>
      assert(kept == minTotal, s"$lang kept $kept != minority count $minTotal")
      assert(kept <= total)
    }
  }

  test("time holdout: splits partition events 70/15/15 per user with train before test") {
    import spark.implicits._
    val rows = SparkEntry.queries("sample_time_holdout")(spark, sfDir)
      .select($"split", $"n_events", $"n_users")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val totalEvents = Tables.events(spark, sfDir).count()
    assert(rows.values.map(_._1).sum == totalEvents, "splits do not partition the stream")
    // 70/15/15 within per-user integer rounding of the exact rule
    val train = rows("train")._1.toDouble / totalEvents
    assert(train > 0.6 && train < 0.8, s"train share $train far from 0.7")
    // temporal ordering: per user, max(train ts) < min(test ts) — check via raw recompute
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wc = org.apache.spark.sql.expressions.Window.partitionBy($"user_id")
    import org.apache.spark.sql.functions._
    val tagged = Tables.events(spark, sfDir)
      .select($"user_id", $"ts", $"event_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(wc))
      .withColumn("split",
        when($"rn" * 20 <= $"cnt" * 14, "train")
          .when($"rn" * 20 <= $"cnt" * 17, "val").otherwise("test"))
    val violation = tagged.filter($"split" === "train").as("a")
      .join(tagged.filter($"split" === "test").as("b"), Seq("user_id"))
      .filter($"a.ts" > $"b.ts")
      .count()
    assert(violation == 0, s"$violation train events after a test event for the same user")
  }

  test("group kfold: folds partition users AND events, no user straddles folds") {
    import spark.implicits._
    val rows = SparkEntry.queries("sample_group_kfold")(spark, sfDir)
      .select($"fold", $"n_users", $"n_events").as[(Long, Long, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq == (0L to 4L), "folds not 0..4")
    val ev = Tables.events(spark, sfDir)
    assert(rows.map(_._3).sum == ev.count(), "folds do not partition the events")
    assert(rows.map(_._2).sum == ev.select($"user_id").distinct().count(),
      "per-fold user counts overlap — a user straddles folds")
  }

  test("dau new/returning: identity holds and first day is all-new") {
    import spark.implicits._
    val rows = SparkEntry.queries("agg_dau_new_returning")(spark, sfDir)
      .select($"day", $"dau", $"new_users", $"returning_users")
      .as[(java.sql.Timestamp, Long, Long, Long)].collect().sortBy(_._1.getTime)
    assert(rows.nonEmpty)
    rows.foreach { case (d, dau, nw, ret) =>
      assert(nw + ret == dau, s"$d: new+returning != dau")
    }
    assert(rows.head._3 == rows.head._2 && rows.head._4 == 0,
      "the corpus' first day must be 100% new users")
    // total new users across all days = distinct users ever seen
    assert(rows.map(_._3).sum == Tables.events(spark, sfDir)
      .select($"user_id").distinct().count(), "every user is new exactly once")
  }

  test("ccnet buckets: per-lang terciles partition the corpus with ordered score ranges") {
    import spark.implicits._
    val rows = SparkEntry.queries("text_ccnet_quality_buckets")(spark, sfDir)
      .select($"lang", $"bucket".cast("long"), $"n_docs",
        $"min_xent".cast("double"), $"max_xent".cast("double"))
      .as[(String, Long, Long, Double, Double)].collect()
    val perLang = rows.groupBy(_._1)
    val docsPerLang = Tables.documents(spark, sfDir)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    for ((lang, bs) <- perLang) {
      val sorted = bs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length.toLong), s"$lang buckets not dense")
      // NTILE: sizes differ by at most 1 and partition the language
      assert(sorted.map(_._3).sum == docsPerLang(lang), s"$lang buckets lose docs")
      assert(sorted.map(_._3).max - sorted.map(_._3).min <= 1, s"$lang uneven terciles")
      // head scores ≤ middle ≤ tail (ties may touch at the boundary)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._5 <= b._4 + 1e-9,
          s"$lang bucket ${a._2} max ${a._5} above bucket ${b._2} min ${b._4}")
        case _ =>
      }
    }
  }
  test("heaps law: 8-point curve is monotone, totals match corpus, fit is sane") {
    import spark.implicits._
    val rows = SparkEntry.queries("text_heaps_law")(spark, sfDir)
      .select($"batch", $"cum_tokens", $"cum_vocab",
        $"beta".cast("double"), $"ln_k".cast("double"), $"r2".cast("double"))
      .as[(Long, Long, Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq == (0L to 7L), "batches not 0..7")
    // cumulative series never decrease, vocab never exceeds token mass
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(b._2 >= a._2 && b._3 >= a._3, s"cumsum decreased at batch ${b._1}")
      case _ =>
    }
    assert(rows.forall(r => r._3 <= r._2), "vocab above token mass")
    // final point = whole-corpus totals under the same tokenizer
    val tok = docs.select(explode(split(lower($"text"), " ")).as("t"))
      .where($"t" =!= "")
    assert(rows.last._2 == tok.count(), "final cum_tokens != corpus tokens")
    assert(rows.last._3 == tok.distinct().count(), "final cum_vocab != corpus vocab")
    // the fit is one corpus-level constant repeated on every row; Heaps
    // exponent lives in [0,1) — 0 exactly for a closed vocabulary that
    // saturates in batch 0 (this fixture's 31-word corpus does)
    assert(rows.map(r => (r._4, r._5, r._6)).distinct.length == 1, "fit not constant")
    val (beta, _, r2) = (rows.head._4, rows.head._5, rows.head._6)
    assert(beta >= 0.0 && beta < 1.0, s"beta $beta outside [0,1)")
    if (rows.last._3 > rows.head._3)
      assert(beta > 0.0, "vocab grew but beta is 0")
    assert(r2 >= 0.0 && r2 <= 1.0 + 1e-9, s"r2 $r2 outside [0,1]")
  }
  test("langid confusion: cells cover the corpus, diagonal matches langid predictions") {
    import spark.implicits._
    val rows = SparkEntry.queries("text_langid_confusion")(spark, sfDir)
      .select($"lang", $"pred_lang", $"n", $"accuracy".cast("double"))
      .as[(String, String, Long, Double)].collect()
    assert(rows.map(_._3).sum == docs.count(), "cells don't cover the corpus")
    val acc = rows.head._4
    assert(rows.forall(_._4 == acc), "accuracy not constant")
    assert(acc >= 0.0 && acc <= 1.0)
    val diag = rows.filter(r => r._1 == r._2).map(_._3).sum
    assert(math.abs(acc - diag.toDouble / rows.map(_._3).sum) < 1e-6, "accuracy != diagonal share")
    // cross-check against the langid row's predictions joined to labels
    val pred = SparkEntry.queries("text_langid_ngram")(spark, sfDir)
      .select($"doc_id", $"pred_lang")
    val refCells = docs.select($"doc_id", $"lang").join(pred, "doc_id")
      .groupBy($"lang", $"pred_lang").count()
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    rows.foreach { r =>
      assert(refCells.getOrElse((r._1, r._2), 0L) == r._3,
        s"cell (${r._1},${r._2}) ${r._3} vs ${refCells.getOrElse((r._1, r._2), 0L)}") }
  }
  test("source overlap: directed shares in (0,1], top pair verified against set algebra") {
    import spark.implicits._
    val rows = SparkEntry.queries("text_source_overlap_matrix")(spark, sfDir)
      .select($"a_source", $"b_source", $"n_shared", $"overlap_frac".cast("double"))
      .as[(String, String, Long, Double)].collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall(r => r._1 != r._2), "self pair leaked")
    assert(rows.forall(r => r._4 > 0.0 && r._4 <= 1.0 + 1e-9), "share outside (0,1]")
    // exact set-algebra recompute of every reported pair
    val sets = docs.select($"doc_id", $"source", lower($"text").as("t"))
      .as[(Long, String, String)].collect()
      .groupBy(_._2).view.mapValues { ds =>
        ds.flatMap { case (_, _, t) =>
          val toks = t.split(" ").filter(_.nonEmpty)
          toks.sliding(3).filter(_.length == 3).map(_.mkString(" "))
        }.toSet
      }.toMap
    rows.foreach { case (a, b, n, f) =>
      val inter = (sets(a) & sets(b)).size
      assert(inter == n, s"$a->$b shared $n vs $inter")
      assert(math.abs(f - inter.toDouble / sets(a).size) < 1e-6, s"$a->$b share $f")
    }
  }

  test("registry upsert: history frozen, batch-7 rows novel, append adds bucket files") {
    import spark.implicits._
    val v1 = operators.ShingleRegistry.ensure(spark, sfDir)
    val v2 = operators.ShingleRegistry.ensureUpserted(spark, sfDir)
    val v1Rows = v1.as[(String, Long)].collect().toMap
    val v2Rows = v2.as[(String, Long)].collect().toMap
    // every historical row survives the upsert UNCHANGED (append, not
    // merge-rewrite: first_batch of an already-seen shingle never moves)
    v1Rows.foreach { case (s, b) =>
      assert(v2Rows.get(s).contains(b), s"history row ($s,$b) changed to ${v2Rows.get(s)}")
    }
    // every appended row is batch 7 and NOVEL vs history
    val added = v2Rows.view.filterKeys(!v1Rows.contains(_)).toMap
    assert(added.nonEmpty, "batch 7 contributed no novel shingles — fixture vacuous")
    assert(added.values.forall(_ == 7L), "appended rows must carry first_batch=7")
    // the appended generation reuses v1's shingle bucketing: novel rows
    // arrive as ADDITIONAL per-bucket files, never a history rewrite
    def parquetFiles(table: String): Int = {
      val w = spark.conf.get("spark.sql.warehouse.dir")
      val base = if (w.startsWith("file:")) new java.net.URI(w).getPath else w
      Option(new java.io.File(base, table).listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))
    }
    assert(parquetFiles(operators.ShingleRegistry.upsertedTable(sfDir)) >
           parquetFiles(operators.ShingleRegistry.registryTable(sfDir)),
      "upsert must append files beyond the generation clone")
    // and the bucketed scan still serves: a single-shingle probe prunes
    val one = added.keysIterator.next()
    val pruned = v2.where($"shingle" === one)
    assert(pruned.count() == 1L)
  }

  test("registry retraction: bitmask exact, side tables partition bit-5 rows, history untouched, compaction == serve view") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bit = 1L << operators.ShingleRegistry.RetractedBatch
    val reg = operators.ShingleRegistry.ensureBitmask(spark, sfDir)
    // the bitmask is the EXACT contributor index: re-derive it in-plan
    // and compare (shingle, batches, first_batch) row for row
    val expected = operators.TextOps.shingles(Tables.documents(spark, sfDir))
      .withColumn("batch", operators.ShingleRegistry.batchOf($"doc_id"))
      .groupBy($"shingle")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(batch AS INT)))").as("batches"),
        min($"batch").as("first_batch"))
    assert(reg.exceptAll(expected).isEmpty && expected.exceptAll(reg).isEmpty,
      "persisted bitmask registry diverges from the in-plan re-derivation")
    // first_batch is always the lowest set bit of the mask
    assert(reg.filter(expr("CAST(log2(batches & -batches) AS BIGINT)") =!= $"first_batch")
      .count() == 0, "first_batch must equal the lowest set mask bit")

    def dataFiles(table: String): Seq[java.io.File] = {
      val w = spark.conf.get("spark.sql.warehouse.dir")
      val base = if (w.startsWith("file:")) new java.net.URI(w).getPath else w
      Option(new java.io.File(base, table).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
    }
    def files(table: String): Map[String, Long] =
      dataFiles(table).map(f => f.getName -> f.lastModified).toMap
    val regBuilt = files(operators.ShingleRegistry.bitmaskTable(sfDir))
    val (ts, remap) = operators.ShingleRegistry.ensureRetraction(spark, sfDir)
    assert(files(operators.ShingleRegistry.bitmaskTable(sfDir)) == regBuilt,
      "retraction must leave the registry files byte-untouched")
    // the side tables partition the bit-5 rows exactly: tombstones are
    // the exclusive rows, remaps the shared-but-first rows, and they
    // never overlap
    val tsSet = ts.as[String].collect().toSet
    val remapRows = remap.as[(String, Long)].collect().toMap
    assert(tsSet.nonEmpty && remapRows.nonEmpty,
      "retraction fixture vacuous: need both exclusive and shared batch-5 shingles")
    assert(tsSet.intersect(remapRows.keySet).isEmpty,
      "a shingle cannot be both tombstoned and remapped")
    // each side table is one file whose rows are stored sorted by its
    // columns in schema order, so two builds write the same bytes
    for ((table, cols) <- Seq(
        operators.ShingleRegistry.retractTombstoneTable(sfDir) -> Seq("shingle"),
        operators.ShingleRegistry.retractRemapTable(sfDir) -> Seq("shingle", "new_first_batch"))) {
      val one = dataFiles(table)
      assert(one.size == 1, s"$table must be one data file, got ${one.map(_.getName)}")
      val file = one.head
      val stored = spark.read.parquet(file.getPath).collect().toSeq
      val sorted = spark.read.parquet(file.getPath).orderBy(cols.map(col): _*).collect().toSeq
      assert(stored == sorted, s"$table rows are not stored in (${cols.mkString(", ")}) order")
    }
    val exclusive = reg.filter($"batches" === bit).select($"shingle").as[String].collect().toSet
    assert(tsSet == exclusive, "tombstones must be exactly the exclusive bit-5 rows")
    // every remap points to a SURVIVING contributor strictly above none
    remapRows.values.foreach(b =>
      assert(b != operators.ShingleRegistry.RetractedBatch && b >= 0 && b <= 7))
    // compaction: live rows only, bit cleared, first remapped — and the
    // compacted view equals the tombstone-filtered serve view
    val compacted = operators.ShingleRegistry.ensureRetractCompacted(spark, sfDir)
    assert(compacted.filter(($"batches".bitwiseAND(lit(bit))) =!= 0).count() == 0,
      "compacted masks must have the withdrawn bit cleared")
    val serveView = reg
      .join(broadcast(ts), Seq("shingle"), "left_anti")
      .join(broadcast(remap), Seq("shingle"), "left")
      .select($"shingle", coalesce($"new_first_batch", $"first_batch").as("first_batch"))
    val compactView = compacted.select($"shingle", $"first_batch")
    assert(compactView.exceptAll(serveView).isEmpty && serveView.exceptAll(compactView).isEmpty,
      "compacted generation must equal the tombstone-filtered serve view")
    assert(files(operators.ShingleRegistry.bitmaskTable(sfDir)) == regBuilt,
      "compaction must leave the registry files byte-untouched")
  }
}
