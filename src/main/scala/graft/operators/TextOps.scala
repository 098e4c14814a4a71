package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** SURVEY.md §2.1.I (text half) — training-data text pipeline operators:
  * normalization stats, tokenization, n-grams, exact/near dedup
  * (md5 / 3-gram Jaccard / MinHash-LSH / SimHash), language-ID heuristic,
  * quality scoring, token stats, and rolling-hash fingerprints.
  *
  * Scale notes (100 TB):
  *  - Everything tokenizes with built-in split/explode (codegen'd
  *    Generators) — no UDFs, no driver-side text handling.
  *  - Exact near-dup (`text_jaccard_simpairs`) equi-joins on shingle —
  *    the shuffle carries (shingle, doc_id) pairs, never the cross
  *    product. Still O(sum of per-shingle doc-freq²) in the worst case:
  *    at 100 TB, `text_minhash_lsh` is the scale path — candidate
  *    generation by LSH band bucket, constant signatures per doc.
  *  - Per-doc folds (fingerprint) use integer-exact arithmetic so results
  *    are independent of partitioning.
  */
object TextOps extends QueryModule {

  /** Shared-stage memos (atomic, liveness-checked, explicitly released —
    * see [[graft.PlanCache]], whose `evictAll()` is the long-lived-session
    * lifecycle hook). Each memo holds its rows in one columnar
    * `MEMORY_AND_DISK` cache over a lineage cut, not the plan that built
    * them, so no build-time broadcast (the source-tag join below, the
    * shingle self-join) stays pinned behind it.
    */
  private val decontamCache = new graft.PlanCache(1)

  /** Source-tagged distinct shingles, cached across invocations AND
    * across the exact/bloom decontamination twins. Built FROM the
    * unified [[cachedShingles]] relation — the
    * decontamination twins, the Jaccard pair table and the minhash
    * banding all share ONE tokenization of the corpus; this layer only
    * adds the broadcast source tag.
    */
  private def taggedShingles(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(spark, dir)
    val sh = cachedShingles(docs)
      .join(broadcast(docs.select(col("doc_id"), col("source"))), "doc_id")
    decontamCache.getOrCompute(sh)(identity)
  }

  /** Lowercased whitespace tokens with 0-based position. */
  def tokens(docs: org.apache.spark.sql.DataFrame) =
    docs
      .select(col("doc_id"), col("lang"),
        posexplode(split(lower(col("text")), " ")).as(Seq("pos", "tok")))
      .filter(col("tok") =!= "")

  /** The ONE memoized positional-token relation: ~14 declared text rows
    * (wordcount, vocab, zipf, heaps, rake, langid, tf-idf, perplexity, …)
    * read the same tokenize explode of the corpus. Same shared-stage tier as
    * [[cachedShingles]]: corpus-scale, built once per corpus on the
    * Bench shared-text clock, released by [[graft.PlanCache.evictAll]].
    * Like every PlanCache memo, the three corpus-scale ones (tokens, token
    * sets, shingles) hold their rows in a columnar cache at an explicit
    * MEMORY_AND_DISK, because the positional-token explode is larger than
    * the corpus (SCALE.md); the tokenize plan is cut away once they are
    * built.
    */
  private val tokensCache = new graft.PlanCache(1)

  def cachedTokens(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    tokensCache.getOrCompute(tokens(docs))(identity)

  /** Memoized per-doc DISTINCT token arrays — the row-local set relation
    * the PMI row's vocab/df/pair passes all consume (no (doc, tok)
    * exchange anywhere: `array_distinct` is per row). Shared-stage tier
    * and storage as above.
    */
  private val tokenSetsCache = new graft.PlanCache(1)

  def cachedTokenSets(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    tokenSetsCache.getOrCompute(
      docs.select(
        expr("array_distinct(filter(split(lower(text), ' '), t -> t != ''))")
          .as("toks")))(identity)

  /** Distinct 3-gram word shingles per doc — ROW-LOCAL formulation:
    * empty tokens filtered with order kept, a 3-window slid over the
    * token array, duplicates dropped within the row. Zero shuffles — a
    * posexplode + doc-keyed lead-window + global distinct would spend
    * three exchanges deriving what is a pure per-row function of
    * `text`. Identical output: `lead` over position-ordered
    * non-empty tokens IS consecutive-triple formation, and per-doc
    * `array_distinct` IS the (doc_id, shingle) distinct.
    */
  def shingles(docs: org.apache.spark.sql.DataFrame) =
    docs
      // the corpus parquet arrives as few (often 1) input splits at test
      // scale; spread the rows BEFORE the expensive per-row tokenize +
      // 3-gram explode so it uses every core — at cluster scale the
      // exchange is the same one the downstream shingle shuffle needs
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), t -> t != '')").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        explode(expr("""array_distinct(transform(
            sequence(0, size(toks) - 3),
            i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2])))"""))
          .as("shingle"))

  val textNormalizeStats = Q(
    "text_normalize_stats",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .documents(spark, dir)
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").as("sum_chars"),
          max($"n_chars").as("max_chars"),
          (sum($"n_chars") / count(lit(1))).cast(DecimalType(18, 4)).as("avg_chars"),
          sum(length(trim($"text"))).as("sum_trim_len"))
        .orderBy($"lang")
    },
    Some("""
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        MAX(n_chars) AS max_chars,
        CAST(CAST(SUM(n_chars) * 1.0 / COUNT(*) AS DECIMAL(18,4)) AS DOUBLE) AS avg_chars,
        CAST(SUM(LENGTH(TRIM(text))) AS BIGINT) AS sum_trim_len
      FROM documents GROUP BY lang ORDER BY lang
    """.trim))

  val textTokenizeWordcount = Q(
    "text_tokenize_wordcount",
    (spark, dir) => {
      import spark.implicits._
      cachedTokens(Tables.documents(spark, dir))
        .groupBy($"tok")
        .agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"tok")
        .limit(50)
    },
    Some("""
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT UNNEST(string_split(lower(text), ' ')) AS tok FROM documents)
      WHERE tok <> ''
      GROUP BY tok ORDER BY cnt DESC, tok LIMIT 50
    """.trim))

  val textNgramBigrams = Q(
    "text_ngram_bigrams",
    (spark, dir) => {
      import spark.implicits._
      // ROW-LOCAL bigram formation (r13): `lead` over the doc-keyed
      // window re-shuffled and sorted every token; consecutive pairs of
      // the position-ordered non-empty token array are a pure per-row
      // function of `text` (the shingles() lesson, n=2) — identical
      // output, one fact exchange (the lang/bigram agg) instead of two
      // no repartition before the row-local transform: a doc-keyed
      // shuffle would move the whole text column for a computation that
      // needs no co-location — parquet splits already
      // provide scan parallelism, and the lang/bigram agg below is the
      // only exchange the plan needs
      val bigrams = Tables.documents(spark, dir)
        .select($"lang",
          expr("filter(split(lower(text), ' '), t -> t != '')").as("toks"))
        .filter(size($"toks") >= 2)
        .select($"lang", explode(expr(
          """transform(sequence(0, size(toks) - 2),
            |  i -> concat_ws(' ', toks[i], toks[i + 1]))""".stripMargin)).as("bigram"))
        .groupBy($"lang", $"bigram")
        .agg(count(lit(1)).as("cnt"))
      val rankw = Window.partitionBy($"lang").orderBy($"cnt".desc, $"bigram")
      bigrams
        .withColumn("rn", row_number().over(rankw))
        .filter($"rn" <= 10)
        .orderBy($"lang", $"rn")
    },
    Some("""
      SELECT lang, bigram, cnt, rn FROM (
        SELECT lang, bigram, cnt,
          ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, bigram) AS rn
        FROM (
          SELECT lang, tok || ' ' || nxt AS bigram, COUNT(*) AS cnt
          FROM (
            SELECT lang, tok,
              LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
            FROM (
              SELECT doc_id, lang,
                UNNEST(string_split(lower(text), ' ')) AS tok,
                UNNEST(range(len(string_split(lower(text), ' ')))) AS pos
              FROM documents)
            WHERE tok <> '')
          WHERE nxt IS NOT NULL
          GROUP BY lang, bigram))
      WHERE rn <= 10
      ORDER BY lang, rn
    """.trim))

  val textExactDedup = Q(
    "text_exact_dedup",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .documents(spark, dir)
        .groupBy(md5(lower(trim($"text"))).as("text_hash"))
        .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("group_size"))
        .orderBy($"text_hash")
    },
    Some("""
      SELECT md5(lower(trim(text))) AS text_hash,
        MIN(doc_id) AS keeper_id,
        COUNT(*) AS group_size
      FROM documents
      GROUP BY 1 ORDER BY text_hash
    """.trim))

  /** Exact 3-gram-shingle Jaccard near-dup pairs (threshold 0.5). The
    * shingle equi-join makes candidate generation linear in total
    * shingle occurrences.
    *
    * Scale bound (declared-exact BY DESIGN, weak at 100 TB): the
    * equi-join skews on HOT shingles — a stop-3-gram appearing in a
    * constant fraction of documents makes that single join key emit a
    * near-quadratic pair fan-out, concentrated in one task. A
    * frequency-capped shingle filter would fix the skew but change the
    * result (and the oracle), so this row stays the exact formulation;
    * `text_minhash_lsh` below (banded signature equi-join, no per-key
    * quadratic blowup) is the 100 TB candidate-generation path, with
    * TextOpsSpec pinning its recall against this row's ground truth.
    */
  /** Exact 3-gram-shingle Jaccard pairs over an arbitrary documents
    * frame — shared by the declared pair row, the component clustering,
    * and the composed dedup pipeline.
    */
  /** Shingle frames feeding the Jaccard self-join — capacity 2 covers
    * the full-corpus and en-filtered (pipeline_near_dedup) variants.
    */
  private val shinglesCache = new graft.PlanCache(2)

  /** The ONE memoized shingle relation every consumer shares — the
    * Jaccard pair table, the minhash banding, the decontamination tag
    * join, the bitmask registry build. Capacity 2 covers the full-corpus
    * and en-filtered (pipeline_near_dedup) variants. The memo's plan is a
    * scan of its own cached rows, so a consumer that rebuilds
    * [[shingles]] over the same documents does NOT hit it implicitly:
    * call this.
    */
  def cachedShingles(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    shinglesCache.getOrCompute(shingles(docs))(identity)

  /** Memoized (d1, d2, i) shingle-intersection counts over ALL document
    * pairs sharing ≥1 shingle — the quadratic stage itself, shared by
    * the Jaccard pair table (j ≥ 0.5 filter) and the containment row
    * (i/min-size ≥ 0.5 filter, a different survivor set), so the
    * self-join runs once per corpus (r7). The memo keeps the counts, not
    * the join: the broadcast hash relation AQE may build for the shingle
    * self-join is freed once the build ends.
    */
  private val interCache = new graft.PlanCache(2)

  private[graft] def interPairs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sh = cachedShingles(docs)
    // NOTE (r13): a market-basket-style rewrite (group per shingle,
    // explode ordered pairs row-locally) measured SLOWER here (3.1 s →
    // 4.7 s at sf0.1): the pair fan-out is the quadratic auditor's whole
    // point, and the join emits it in compiled code while the nested
    // transform explode is interpreted. At sf0.001 and sf0.1 the self-join
    // plans as a broadcast hash join over the memo's cached rows (sized
    // from the cache's statistics), so no side repeats a shuffle.
    val fresh = sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("i"))
    interCache.getOrCompute(fresh)(identity)
  }

  def jaccardPairs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sh = cachedShingles(docs)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = interPairs(docs)
    inter
      .join(sizes.as("za"), col("d1") === col("za.doc_id"))
      .join(sizes.as("zb"), col("d2") === col("zb.doc_id"))
      .select(
        col("d1"), col("d2"), col("i"),
        col("za.n").as("n1"), col("zb.n").as("n2"),
        (col("i").cast(DoubleType) / (col("za.n") + col("zb.n") - col("i")))
          .cast(DecimalType(18, 6)).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** The DuckDB twins of [[interPairs]] and [[jaccardPairs]] over an `sh`
    * CTE ([[OracleSql.shingles]]): `sizes(doc_id, n)` and `inter(d1, d2,
    * i)`, then `pairs(d1, d2)`, the pairs at Jaccard ≥ 0.5.
    */
  private def shingleInterSql: String =
    """sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      inter AS (
        SELECT s1.doc_id AS d1, s2.doc_id AS d2, COUNT(*) AS i
        FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
        GROUP BY 1, 2
      )"""

  private def jaccardPairsSql: String = s"""$shingleInterSql, pairs AS (
        SELECT d1, d2
        FROM inter
        JOIN sizes za ON d1 = za.doc_id
        JOIN sizes zb ON d2 = zb.doc_id
        WHERE CAST(CAST(i AS DOUBLE) / (za.n + zb.n - i) AS DECIMAL(18,6)) >= 0.5
      )"""

  /** Last computed full-corpus near-dup pair frame — the shared input
    * of the graph family (simpairs / connected components / triangles).
    */
  private val pairsCache = new graft.PlanCache(1)

  /** Jaccard≥0.5 pairs over the FULL documents table, cached across the
    * graph-family queries: each of simpairs, connected components and
    * triangle counting consumes this exact frame, so only the first
    * invocation per input directory pays the quadratic shingle
    * pipeline. (The en-filtered variant in `pipeline_near_dedup` is a
    * different plan and intentionally not cached here.)
    */
  private[graft] def corpusJaccardPairs(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val fresh = jaccardPairs(Tables.documents(spark, dir))
    pairsCache.getOrCompute(fresh)(identity)
  }

  val textJaccardSimpairs = Q(
    "text_jaccard_simpairs",
    (spark, dir) => {
      import spark.implicits._
      corpusJaccardPairs(spark, dir).orderBy($"d1", $"d2")
    },
    Some(s"""
      WITH ${OracleSql.shingles()}, sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      inter AS (
        SELECT s1.doc_id AS d1, s2.doc_id AS d2, COUNT(*) AS i
        FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
        GROUP BY 1, 2)
      SELECT d1, d2, i, za.n AS n1, zb.n AS n2,
        CAST(CAST(CAST(i AS DOUBLE) / (za.n + zb.n - i) AS DECIMAL(18,6)) AS DOUBLE) AS jaccard
      FROM inter
      JOIN sizes za ON d1 = za.doc_id
      JOIN sizes zb ON d2 = zb.doc_id
      WHERE CAST(CAST(i AS DOUBLE) / (za.n + zb.n - i) AS DECIMAL(18,6)) >= 0.5
      ORDER BY d1, d2
    """.trim))

  /** The (doc_id, band, bucket) rows of [[minhashCandidates]]: n_docs ×
    * n_bands small rows.
    */
  private val bandsCache = new graft.PlanCache(1)

  /** MinHash + LSH banding candidate pairs — the scalable near-dup path.
    * 48 hash fns from ONE md5 per shingle (the universal-hash family
    * h_i = (a + i·b) mod p over the digest's two leading 32-bit words —
    * md5-derived so the whole chain mirrors in DuckDB; one crypto hash
    * per shingle, not 48), 16 bands
    * × 3 rows, band bucket = md5 of the joined member signatures. Fully
    * oracled; TextOpsSpec additionally asserts recall ≥ 0.9 against
    * text_jaccard_simpairs ground truth at j ≥ 0.6.
    */
  def minhashCandidates(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val numHashes = 48
    val rowsPerBand = 3
    val sh = cachedShingles(docs)
    // 48 hash functions from ONE md5 per shingle (md5-derived so DuckDB
    // mirrors it; 48 md5 calls per shingle measured ~2× the row, so the
    // family is the textbook universal-hash construction instead:
    // h_i = (a + i·b) mod p with a/b the digest's two leading 32-bit
    // words and p = 4294967291 the largest 32-bit prime — exact integer
    // arithmetic, bit-identical in both engines, one crypto hash per
    // shingle)
    // the digest is projected ONCE and ha/hb slice it, so the
    // one-md5-per-shingle cost is structural — not dependent on the
    // optimizer recognizing two md5(shingle) subexpressions
    val shh = sh
      .select(col("doc_id"), md5(col("shingle")).as("dig"))
      .select(col("doc_id"),
        conv(substring(col("dig"), 1, 8), 16, 10).cast("long").as("ha"),
        conv(substring(col("dig"), 9, 8), 16, 10).cast("long").as("hb"))
    val sigCols = (0 until numHashes).map(i =>
      min((col("ha") + lit(i.toLong) * col("hb")) % lit(4294967291L)).as(s"h$i"))
    val sigs = shh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    // one (band, bucket) struct per band, exploded in a single pass —
    // NOT a per-band union, which would recompute the signature
    // aggregation once per band; the band bucket is the md5 of the
    // ":"-joined member signatures (mirrorable, unlike murmur3)
    val bandStructs = (0 until numHashes / rowsPerBand).map { b =>
      val cs = (0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws(":", cs: _*)).as("bucket"))
    }
    // both sides of the self-join read the bands memo: AQE plans each
    // side's signature aggregate as its own shuffle stage (no exchange
    // reuse), so recomputing would run the md5 pass twice
    val bands = bandsCache.getOrCompute(sigs
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket")))(identity)
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  val textMinhashLsh = Q(
    "text_minhash_lsh",
    (spark, dir) => {
      import spark.implicits._
      minhashCandidates(Tables.documents(spark, dir)).orderBy($"d1", $"d2")
    },
    // fully oracled: DuckDB re-derives the shingles,
    // all 48 md5-derived min-hashes, the 16 band buckets and the
    // bucket-collision pairs from scratch
    Some(s"""
      WITH ${OracleSql.shingles()}, shh AS (
        SELECT doc_id,
          CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS ha,
          CAST('0x' || substr(md5(shingle), 9, 8) AS BIGINT) AS hb
        FROM sh
      ), sig AS (
        SELECT doc_id, i.i AS i, MIN((ha + i.i * hb) % 4294967291) AS h
        FROM shh, (SELECT UNNEST(range(48)) AS i) i
        GROUP BY doc_id, i.i
      ), bands AS (
        SELECT doc_id, i // 3 AS band,
          md5(string_agg(CAST(h AS VARCHAR), ':' ORDER BY i)) AS bucket
        FROM sig GROUP BY doc_id, i // 3
      )
      SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      FROM bands x
      JOIN bands y ON x.band = y.band AND x.bucket = y.bucket
                  AND x.doc_id < y.doc_id
      ORDER BY d1, d2
    """.trim))

  /** SimHash near-dup fingerprint: 32-bit signature from token hashes —
    * per-bit majority vote of md5-derived token hashes (a murmur3 hash
    * is engine-specific and could not be oracled; the leading 8 hex
    * chars of md5 read as an integer (the digest's HIGH 32 bits), the
    * `sample_hash_split` arithmetic, is bit-identical in both engines at
    * the SAME plan shape — one projection per token either way). Fully
    * oracled;
    * TextOpsSpec additionally asserts planted near-dup pairs land
    * within small Hamming distance.
    */
  def simhashSignatures(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bits = 32
    val tok = cachedTokens(docs).select(col("doc_id"), col("tok"),
      conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("h"))
    val bitCols = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val voted = tok.groupBy(col("doc_id")).agg(bitCols.head, bitCols.tail: _*)
    val sig = (0 until bits)
      .map(b => when(col(s"b$b") > 0, 1L << b).otherwise(0L))
      .reduce(_ + _)
    voted.select(col("doc_id"), sig.as("simhash"))
  }

  val dedupSimhash = Q(
    "dedup_simhash",
    (spark, dir) => {
      import spark.implicits._
      simhashSignatures(Tables.documents(spark, dir)).orderBy($"doc_id")
    },
    // fully oracled: DuckDB re-derives every token's
    // leading-8-hex-chars md5 word, the per-bit ±1 majority votes and the packed
    // signature from scratch
    Some("""
      WITH tok AS (
        SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h
        FROM (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
              FROM documents)
        WHERE tok <> ''
      ), votes AS (
        SELECT doc_id, b.b AS b,
          SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM tok, (SELECT UNNEST(range(32)) AS b) b
        GROUP BY doc_id, b.b
      )
      SELECT doc_id,
        CAST(SUM(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << b ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id ORDER BY doc_id
    """.trim))

  /** Each language's stopword markers, in language-code order. */
  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "en" -> Seq("the", "a", "and", "of", "fast", "slow"),
    "es" -> Seq("el", "la", "los", "y", "un"),
    "fr" -> Seq("le", "la", "les", "et", "un"),
    "zh" -> Seq("de", "shi", "le", "zai", "he"))

  /** Per-document stopword-marker scores over `tok(doc_id, tok)`:
    * `score_<lang>` counts the document's tokens among that language's
    * markers; `extra` aggregates ride the same pass.
    */
  private def langScores(tok: org.apache.spark.sql.DataFrame,
      extra: Column*): org.apache.spark.sql.DataFrame = {
    val scores = langMarkers.map { case (l, ws) =>
      count(when(col("tok").isin(ws: _*), 1)).as(s"score_$l")
    } ++ extra
    tok.groupBy(col("doc_id")).agg(scores.head, scores.tail: _*)
  }

  /** The best marker score of a [[langScores]] row. */
  private def langBestScore: Column = greatest(langMarkers.map(m => col(s"score_${m._1}")): _*)

  /** The predicted language given `best_score`: the first language, in
    * code order, reaching it — the oracle's CASE ... WHEN order.
    */
  private def langPred: Column = langMarkers.map(_._1).foldRight(lit("??")) { (l, acc) =>
    when(col(s"score_$l") === col("best_score"), lit(l)).otherwise(acc)
  }

  /** The DuckDB twin of the stopword-marker scores: `score_<lang>`, the
    * `tok` rows among each language's markers.
    */
  private def langScoresSql: String =
    """COUNT(CASE WHEN tok IN ('der','die','und','das','ein') THEN 1 END) AS score_de,
          COUNT(CASE WHEN tok IN ('the','a','and','of','fast','slow') THEN 1 END) AS score_en,
          COUNT(CASE WHEN tok IN ('el','la','los','y','un') THEN 1 END) AS score_es,
          COUNT(CASE WHEN tok IN ('le','la','les','et','un') THEN 1 END) AS score_fr,
          COUNT(CASE WHEN tok IN ('de','shi','le','zai','he') THEN 1 END) AS score_zh"""

  /** The predicted language: the first, alphabetically, whose score is
    * the best.
    */
  private def langPredSql: String =
    """CASE GREATEST(score_de, score_en, score_es, score_fr, score_zh)
          WHEN score_de THEN 'de'
          WHEN score_en THEN 'en'
          WHEN score_es THEN 'es'
          WHEN score_fr THEN 'fr'
          ELSE 'zh' END"""

  /** Stopword-marker language-ID heuristic: score each language by
    * marker-token hits, predict the argmax (ties broken by language
    * code). Fully deterministic → full oracle.
    */
  val textLangidNgram = Q(
    "text_langid_ngram",
    (spark, dir) => {
      import spark.implicits._
      langScores(cachedTokens(Tables.documents(spark, dir)))
        .withColumn("best_score", langBestScore)
        .select($"doc_id", $"best_score", langPred.as("pred_lang"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH scored AS (
        SELECT doc_id,
          $langScoresSql
        FROM (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
              FROM documents)
        WHERE tok <> ''
        GROUP BY doc_id)
      SELECT doc_id,
        GREATEST(score_de, score_en, score_es, score_fr, score_zh) AS best_score,
        $langPredSql AS pred_lang
      FROM scored ORDER BY doc_id
    """.trim))

  /** Document quality score: length band, punctuation ratio, stopword
    * ratio, mean token length — combined into a DECIMAL score.
    */
  val textQualityScore = Q(
    "text_quality_score",
    (spark, dir) => {
      import spark.implicits._
      val stop = Seq("the", "a", "and", "of", "value", "data")
      val tok = cachedTokens(Tables.documents(spark, dir))
      val tokStats = tok.groupBy($"doc_id").agg(
        count(lit(1)).as("n_tokens"),
        count(when($"tok".isin(stop: _*), 1)).as("n_stop"),
        (sum(length($"tok")).cast(DoubleType) / count(lit(1)))
          .cast(DecimalType(18, 4)).as("mean_tok_len"))
      Tables
        .documents(spark, dir)
        .join(tokStats, "doc_id")
        .select(
          $"doc_id",
          $"n_tokens",
          ($"n_stop".cast(DoubleType) / $"n_tokens")
            .cast(DecimalType(18, 4)).as("stop_ratio"),
          $"mean_tok_len",
          ((length($"text") - length(regexp_replace($"text", "[^a-z ]", "")))
            .cast(DoubleType) / length($"text"))
            .cast(DecimalType(18, 4)).as("nonalpha_ratio"),
          when($"n_chars".between(100, 2000), 1).otherwise(0).as("len_ok"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH tokstats AS (
        SELECT doc_id, COUNT(*) AS n_tokens,
          COUNT(CASE WHEN tok IN ('the','a','and','of','value','data') THEN 1 END) AS n_stop,
          CAST(CAST(SUM(LENGTH(tok)) AS DOUBLE) / COUNT(*) AS DECIMAL(18,4)) AS mean_tok_len
        FROM (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY doc_id)
      SELECT d.doc_id AS doc_id, n_tokens,
        CAST(CAST(CAST(n_stop AS DOUBLE) / n_tokens AS DECIMAL(18,4)) AS DOUBLE) AS stop_ratio,
        CAST(mean_tok_len AS DOUBLE) AS mean_tok_len,
        CAST(CAST(CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^a-z ]', '', 'g'))
             AS DOUBLE) / LENGTH(text) AS DECIMAL(18,4)) AS DOUBLE) AS nonalpha_ratio,
        CAST(CASE WHEN n_chars BETWEEN 100 AND 2000 THEN 1 ELSE 0 END AS BIGINT) AS len_ok
      FROM documents d JOIN tokstats USING (doc_id)
      ORDER BY doc_id
    """.trim))

  /** Token counting: whitespace tokens plus a BPE-ish approximation
    * (ceil of chars/4 per token, the common LLM rule of thumb) — exact
    * integer math, full oracle.
    */
  val textTokenStats = Q(
    "text_token_stats",
    (spark, dir) => {
      import spark.implicits._
      cachedTokens(Tables.documents(spark, dir))
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("ws_tokens"),
          sum(ceil(length($"tok").cast(DoubleType) / 4).cast("long")).as("bpe_est_tokens"),
          max(length($"tok")).as("max_tok_len"))
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id, COUNT(*) AS ws_tokens,
        CAST(SUM(CAST(CEIL(CAST(LENGTH(tok) AS DOUBLE) / 4) AS BIGINT)) AS BIGINT) AS bpe_est_tokens,
        MAX(LENGTH(tok)) AS max_tok_len
      FROM (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok FROM documents)
      WHERE tok <> ''
      GROUP BY doc_id ORDER BY doc_id
    """.trim))

  /** Polynomial rolling-hash fingerprint: fold (acc*31 + ascii) mod 1e9+7
    * over the document's characters. Integer-exact sequential fold →
    * identical in any engine; partition-independent because it's per-row.
    */
  val textFingerprintRolling = Q(
    "text_fingerprint_rolling",
    (spark, dir) => {
      import spark.implicits._
      Tables
        .documents(spark, dir)
        .select(
          $"doc_id",
          expr("""aggregate(
                    transform(sequence(1, length(text)),
                              i -> ascii(substring(text, i, 1))),
                    0L,
                    (acc, c) -> (acc * 31 + c) % 1000000007L)""").as("fingerprint"))
        .orderBy($"doc_id")
    },
    Some("""
      SELECT doc_id,
        list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, LENGTH(text) + 1),
                           i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
          (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
      FROM documents ORDER BY doc_id
    """.trim))

  /** Deterministic hash-based train/test split — THE way to split at
    * 100 TB: membership is a pure function of the row key (md5-derived
    * bucket), so the split is reproducible on any engine, any
    * partitioning, any rerun, and never leaks rows between splits.
    * Contrast df.sample(), whose output depends on partition layout.
    *
    * The bucket comes from the first 4 hex digits parsed as an integer
    * (uniform over 0..65535), so `< 80` is a true ~80/20 split — deriving
    * it from ascii codes of hex characters would skew the fraction to
    * ~75% because lowercase hex ascii values are not uniform mod 100.
    */
  val sampleHashSplit = Q(
    "sample_hash_split",
    (spark, dir) => {
      import spark.implicits._
      val h = md5($"doc_id".cast("string"))
      val bucket = conv(substring(h, 1, 4), 16, 10).cast("long") % 100
      Tables
        .documents(spark, dir)
        .withColumn("split", when(bucket < 80, "train").otherwise("test"))
        .groupBy($"split")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_chars").cast("long").as("sum_chars"),
          min($"doc_id").as("min_id"),
          max($"doc_id").as("max_id"))
        .orderBy($"split")
    },
    Some("""
      SELECT split, COUNT(*) AS n_docs,
        CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      FROM (
        SELECT doc_id, n_chars,
          CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 < 80
               THEN 'train' ELSE 'test' END AS split
        FROM documents)
      GROUP BY split ORDER BY split
    """.trim))

  /** Sequence PACKING — the step that turns a filtered corpus into
    * fixed-token-budget training rows (docs greedily concatenated to a
    * 512-token budget, the fill-ratio-vs-padding trade every LLM data
    * pipeline makes). Formulation: per (lang, md5-bucket) streams,
    * docs in doc_id order, running token count; a doc joins the pack
    * its PREFIX sum lands in (`floor((cum - n_tok)/budget)` — exact:
    * the divisor is a power of two, so the double division is lossless).
    * Declared output is the per-pack manifest (doc count, token mass,
    * fill ratio, oversize count); docs longer than the budget get an
    * oversized pack of their own and are surfaced in `n_oversize`
    * (a real packer splits them — the split point is a tokenizer
    * decision, out of engine scope).
    *
    * Scale notes (100 TB): the window partitions on (lang, bucket)
    * where the BUCKET COUNT IS THE SCALE KNOB — buckets ∝ corpus
    * tokens / (tasks-worth of packs × budget) keeps every window
    * partition bounded (8 here ≈ thousands of docs each at sf0.1); the
    * md5 bucketing is partitioning-independent and engine-mirrorable
    * (`sample_hash_split`'s arithmetic). One shuffle on (lang, bucket),
    * one window pass, one map-side-combinable agg on the same key
    * prefix — the agg reuses the window's exchange.
    */
  val textPackSequences = Q(
    "text_pack_sequences",
    (spark, dir) => {
      import spark.implicits._
      val budget = 512
      val toks = Tables.documents(spark, dir)
        .select(
          $"doc_id", $"lang",
          size(filter(split(lower($"text"), " "), t => t =!= ""))
            .cast("long").as("n_tok"),
          (conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
            .cast("long") % 8).as("bucket"))
      val w = Window.partitionBy($"lang", $"bucket").orderBy($"doc_id")
      toks
        .withColumn("cum", sum($"n_tok").over(w))
        .withColumn("pack_id",
          floor(($"cum" - $"n_tok") / lit(budget.toDouble)).cast("long"))
        .groupBy($"lang", $"bucket", $"pack_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum($"n_tok").as("pack_tokens"),
          sum(when($"n_tok" > budget, 1L).otherwise(0L)).as("n_oversize"))
        .select(
          $"lang", $"bucket", $"pack_id", $"n_docs", $"pack_tokens", $"n_oversize",
          ($"pack_tokens".cast(DoubleType) / budget)
            .cast(DecimalType(18, 6)).as("fill_ratio"))
        .orderBy($"lang", $"bucket", $"pack_id")
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, lang,
          CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tok,
          CAST(${OracleSql.batchKey("doc_id")} AS BIGINT) AS bucket
        FROM documents
      ), packed AS (
        SELECT lang, bucket, n_tok,
          CAST(FLOOR((SUM(n_tok) OVER (PARTITION BY lang, bucket ORDER BY doc_id) - n_tok) / 512.0) AS BIGINT) AS pack_id
        FROM toks
      )
      SELECT lang, bucket, pack_id,
        COUNT(*) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS pack_tokens,
        CAST(SUM(CASE WHEN n_tok > 512 THEN 1 ELSE 0 END) AS BIGINT) AS n_oversize,
        CAST(CAST(SUM(n_tok) AS DOUBLE) / 512 AS DECIMAL(18,6)) AS fill_ratio
      FROM packed
      GROUP BY lang, bucket, pack_id
      ORDER BY lang, bucket, pack_id
    """.trim))

  /** TF-IDF: smooth-idf weights (ln((N+1)/(df+1))+1, scikit-style) with
    * top-3 terms per queried doc. Document frequency aggregates over the
    * WHOLE corpus (distinct (doc,tok) then count per tok — two shuffles
    * keyed on token, partial-aggregated); the corpus-size scalar joins
    * in as a broadcast 1-row frame, never a driver collect. The idf
    * algebra runs in double on identical operands both engines, with the
    * §2.0 DECIMAL(18,6) guard on the final weight.
    */
  val textTfidfTopterms = Q(
    "text_tfidf_topterms",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val toks = cachedTokens(docs)
      val tf = toks.filter($"doc_id" < 50)
        .groupBy($"doc_id", $"tok")
        .agg(count(lit(1)).as("tf"))
      val dfreq = toks.select($"doc_id", $"tok").distinct()
        .groupBy($"tok").agg(count(lit(1)).as("df"))
      val ndocs = docs.select(countDistinct($"doc_id").as("n_docs"))
      val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"tok")
      tf.join(dfreq, "tok")
        .crossJoin(broadcast(ndocs))
        .withColumn("tfidf",
          ($"tf" * (log(($"n_docs" + 1).cast("double") / ($"df" + 1)) + 1))
            .cast(DecimalType(18, 6)))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .select($"doc_id", $"rn", $"tok", $"tfidf")
        .orderBy($"doc_id", $"rn")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, tok FROM (
          SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok FROM documents)
        WHERE tok <> ''),
      tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks WHERE doc_id < 50 GROUP BY doc_id, tok),
      dfreq AS (
        SELECT tok, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
      nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, tok,
          CAST(tf * (LN(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1) AS DECIMAL(18,6)) AS tfidf
        FROM tf JOIN dfreq USING (tok) CROSS JOIN nd)
      SELECT doc_id, CAST(rn AS BIGINT) AS rn, tok, CAST(tfidf AS DOUBLE) AS tfidf
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) AS rn
            FROM scored)
      WHERE rn <= 3
      ORDER BY doc_id, rn
    """.trim))

  /** Fuzzy near-dup by edit distance — completes the dedup family
    * (exact, Jaccard, MinHash-LSH, SimHash, embedding-cosine, fuzzy):
    * block by (lang, length-band, 8-char prefix) so candidate pairs stay
    * per-block quadratic — on this corpus the prefix key cuts candidates
    * 377× (250k → 662 pairs at sf0.1) while retaining every ≤-25 hit —
    * then keep pairs whose 60-char-prefix Levenshtein distance is ≤ 25.
    * Prefix blocking is the standard recall/scan trade: near-dups with
    * divergent openings are missed; `text_minhash_lsh` is the
    * recall-safe path. Both engines implement classic unit-cost edit
    * distance, so the integer result is exactly comparable.
    */
  val dedupFuzzyEditdistance = Q(
    "dedup_fuzzy_editdistance",
    (spark, dir) => {
      import spark.implicits._
      val d = Tables
        .documents(spark, dir)
        .select($"doc_id", $"lang",
          (length($"text") / 40).cast("long").as("lb"),
          substring($"text", 1, 8).as("pre"),
          substring($"text", 1, 60).as("head"))
      val a = d.select($"lang", $"lb", $"pre", $"doc_id".as("d1"), $"head".as("h1"))
      val b = d.select($"lang".as("lang2"), $"lb".as("lb2"), $"pre".as("pre2"),
        $"doc_id".as("d2"), $"head".as("h2"))
      a.join(b, $"lang" === $"lang2" && $"lb" === $"lb2" && $"pre" === $"pre2" &&
          $"d1" < $"d2")
        .withColumn("dist", levenshtein($"h1", $"h2").cast("long"))
        .filter($"dist" <= 25)
        .select($"lang", $"d1", $"d2", $"dist")
        .orderBy($"lang", $"d1", $"d2")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, lang,
          CAST(length(text) // 40 AS BIGINT) AS lb,
          substr(text, 1, 8) AS pre,
          substr(text, 1, 60) AS head
        FROM documents)
      SELECT a.lang AS lang, a.doc_id AS d1, b.doc_id AS d2,
        CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
      FROM d a JOIN d b
        ON a.lang = b.lang AND a.lb = b.lb AND a.pre = b.pre
        AND a.doc_id < b.doc_id
      WHERE levenshtein(a.head, b.head) <= 25
      ORDER BY lang, d1, d2
    """.trim))

  /** Sliding-window document chunking — the unit operation of training /
    * RAG corpus preparation: each document becomes overlapping 64-token
    * chunks at stride 32, one output row per chunk.
    *
    * Scale notes (100 TB): chunking is a pure per-row explode (sequence +
    * slice, all codegen'd) — zero shuffle, embarrassingly parallel. The
    * chunk text rides the row; nothing is collected or re-joined. The
    * final ORDER BY exists only for the declared-output contract.
    */
  val textChunkSliding = Q(
    "text_chunk_sliding",
    (spark, dir) => {
      import spark.implicits._
      val chunkLen = 64
      val stride = 32
      Tables
        .documents(spark, dir)
        .select(
          $"doc_id",
          filter(split($"text", " "), t => t =!= "").as("toks"))
        .select($"doc_id", $"toks", size($"toks").as("n"))
        .where($"n" > 0)
        .select(
          $"doc_id", $"toks",
          explode(sequence(lit(0), $"n" - 1, lit(stride))).as("start"))
        .select(
          $"doc_id",
          ($"start" / stride).cast("long").as("chunk_idx"),
          slice($"toks", $"start" + 1, lit(chunkLen)).as("chunk"))
        .select(
          $"doc_id",
          $"chunk_idx",
          size($"chunk").cast("long").as("n_tokens"),
          array_join($"chunk", " ").as("chunk_text"))
        .orderBy($"doc_id", $"chunk_idx")
    },
    Some("""
      WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
      ), s AS (
        SELECT doc_id, toks, len(toks) AS n,
          UNNEST(range(0, len(toks), 32)) AS start
        FROM t WHERE len(toks) > 0
      )
      SELECT doc_id,
        CAST(start // 32 AS BIGINT) AS chunk_idx,
        CAST(len(list_slice(toks, start + 1, least(start + 64, n))) AS BIGINT) AS n_tokens,
        array_to_string(list_slice(toks, start + 1, least(start + 64, n)), ' ') AS chunk_text
      FROM s
      ORDER BY doc_id, chunk_idx
    """.trim))

  /** Train/test decontamination over [[taggedShingles]], with `src0` as
    * the held-out benchmark: `candidates(benchSh, trainSh)` picks the
    * training (doc_id, shingle) rows worth confirming; an exact join to
    * the broadcast benchmark set confirms them, and every training doc
    * with ≥ 3 hits is reported with its shingle count and contamination
    * ratio. The source tags are cached once, so the three branches
    * (benchmark set, training set, sizes) do not each re-tokenize the
    * corpus.
    */
  private def decontaminate(spark: org.apache.spark.sql.SparkSession, dir: String)(
      candidates: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val sh = taggedShingles(spark, dir)
    val benchSh = sh.where($"source" === "src0")
      .select($"shingle").distinct()
    val trainSh = sh.where($"source" =!= "src0")
      .select($"doc_id", $"shingle")
    val sizes = trainSh.groupBy($"doc_id").agg(count(lit(1)).as("n_shingles"))
    candidates(benchSh, trainSh)
      .join(broadcast(benchSh), "shingle")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_hits"))
      .join(sizes, "doc_id")
      .select(
        $"doc_id", $"n_hits", $"n_shingles",
        ($"n_hits".cast(DoubleType) / $"n_shingles")
          .cast(DecimalType(18, 6)).as("contamination"))
      .where($"n_hits" >= 3)
      .orderBy($"doc_id")
  }

  /** Train/test decontamination by n-gram overlap — the guard every
    * training corpus needs against benchmark leakage: treat one source
    * (`src0`) as the held-out benchmark, flag every training document
    * sharing ≥ 3 distinct 3-gram shingles with ANY benchmark document,
    * with the shared-shingle count and contamination ratio.
    *
    * Scale notes (100 TB): the benchmark shingle set is small by
    * construction (benchmarks are, even when the corpus is not) and is
    * BROADCAST — the training side is never shuffled by shingle, only
    * hash-aggregated by doc_id, which partial-aggregates map-side. This
    * is the formulation that survives a 100 TB training corpus: cost is
    * one scan + one broadcast probe, not a shingle-keyed repartition of
    * everything.
    */
  val textDecontaminateNgram = Q(
    "text_decontaminate_ngram",
    (spark, dir) => {
      decontaminate(spark, dir)((_, trainSh) => trainSh)
    },
    Some(s"""
      WITH ${OracleSql.shingles()}, bench AS (
        SELECT DISTINCT s.shingle
        FROM sh s JOIN documents d ON s.doc_id = d.doc_id
        WHERE d.source = 'src0'
      ), train AS (
        SELECT s.doc_id, s.shingle
        FROM sh s JOIN documents d ON s.doc_id = d.doc_id
        WHERE d.source <> 'src0'
      ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY 1
      ), hits AS (
        SELECT t.doc_id, COUNT(*) AS n_hits
        FROM train t JOIN bench b ON t.shingle = b.shingle GROUP BY 1
      )
      SELECT h.doc_id, h.n_hits, z.n_shingles,
        CAST(CAST(CAST(h.n_hits AS DOUBLE) / z.n_shingles AS DECIMAL(18,6)) AS DOUBLE) AS contamination
      FROM hits h JOIN sizes z USING (doc_id)
      WHERE h.n_hits >= 3
      ORDER BY doc_id
    """.trim))

  /** Cross-document BOILERPLATE detection — the C4-style signal the
    * within-doc `text_repetition_stats` and cross-corpus
    * `text_decontaminate_ngram` rows cannot see: a 3-gram shingle
    * appearing in ≥ 5 distinct documents is boilerplate (nav chrome,
    * license headers, templated spans), and a document whose distinct
    * shingle mass is dominated by such shingles is template-generated.
    * Emits the top-40 documents by boilerplate share with exact counts.
    *
    * Scale notes (100 TB): the shingle document-frequency table is one
    * map-side-combinable agg over the cached (doc_id, shingle) relation
    * shared with the decontamination twins; the common-shingle set is
    * df-threshold-bounded (boilerplate is by definition a small
    * DISTINCT vocabulary even when its occurrence mass is huge) and
    * broadcast, so the corpus-sized side never reshuffles and a hot
    * shingle costs its occurrence count, never a pairwise blowup —
    * the reason this formulation replaces any doc×doc overlap join.
    * Final top-k is TakeOrderedAndProject (no global sort).
    */
  val textBoilerplateShare = Q(
    "text_boilerplate_share",
    (spark, dir) => {
      import spark.implicits._
      val sh = taggedShingles(spark, dir).select($"doc_id", $"shingle")
      val common = sh.groupBy($"shingle")
        .agg(count(lit(1)).as("df"))
        .filter($"df" >= 5)
        .select($"shingle")
      // ONE doc_id aggregation (r8 — previously sizes + hits aggregated
      // separately and merge-joined): the broadcast common set marks
      // each shingle row, and count(hit) inside the same partial agg
      // delivers both totals per document in a single shuffle
      sh.join(broadcast(common.withColumn("hit", lit(1))), Seq("shingle"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_shingles"), count($"hit").as("n_common"))
        .select(
          $"doc_id", $"n_shingles", $"n_common",
          ($"n_common".cast(DoubleType) / $"n_shingles")
            .cast(DecimalType(18, 6)).as("boilerplate_share"))
        .orderBy($"boilerplate_share".desc, $"doc_id")
        .limit(40)
    },
    Some(s"""
      WITH ${OracleSql.shingles()}, common AS (
        SELECT shingle FROM (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1)
        WHERE df >= 5
      ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1
      ), hits AS (
        SELECT s.doc_id, COUNT(*) AS n_common
        FROM sh s JOIN common c USING (shingle) GROUP BY 1
      )
      SELECT z.doc_id, z.n_shingles,
        COALESCE(h.n_common, 0) AS n_common,
        CAST(CAST(CAST(COALESCE(h.n_common, 0) AS DOUBLE) / z.n_shingles
             AS DECIMAL(18,6)) AS DOUBLE) AS boilerplate_share
      FROM sizes z LEFT JOIN hits h USING (doc_id)
      ORDER BY boilerplate_share DESC, doc_id
      LIMIT 40
    """.trim))

  /** Bloom-pre-filtered decontamination — the SAME declared output (and
    * oracle) as `text_decontaminate_ngram`, with the benchmark set
    * carried as a BLOOM FILTER instead of an exact broadcast set, plus
    * an exact confirm join over the surviving candidates so false
    * positives cannot reach the output.
    *
    * Why this row exists (100 TB): the exact formulation broadcasts the
    * full distinct benchmark-shingle set — fine while benchmarks are
    * small, but a many-benchmark contamination sweep can push that set
    * past broadcast limits. The bloom is O(numBits) regardless of
    * shingle count (100 KB here), reaches every task as a 1-row scalar
    * subquery — the exact mechanism Spark's own InjectRuntimeFilter
    * plants (`BloomFilterAggregate` build + `BloomFilterMightContain`
    * probe), surfaced as `graft_might_contain` — and the expensive
    * exact join then touches only the ~FP-rate fraction of training
    * shingles that pass the probe. Sizing: 100k estimated items ×
    * 800k bits ⇒ ~3% FP at capacity; the confirm join makes FP rate a
    * COST knob, not a correctness one. An empty benchmark yields a
    * null bloom, `graft_might_contain` returns null, the filter drops
    * every candidate — identical to the exact form's empty join.
    */
  val textDecontaminateBloom = Q(
    "text_decontaminate_bloom",
    (spark, dir) => {
      graft.functions.GraftFunctions.register(spark)
      decontaminate(spark, dir) { (benchSh, trainSh) =>
        val runId = Artifacts.uniqueId()
        val bv = s"bench_sh_$runId"
        val tv = s"train_sh_$runId"
        benchSh.createOrReplaceTempView(bv)
        trainSh.createOrReplaceTempView(tv)
        // analysis resolves the views eagerly, so dropping them in the
        // finally is safe for the lazy frame returned
        try spark.sql(
          s"""SELECT doc_id, shingle FROM $tv
             |WHERE graft_might_contain(
             |  (SELECT graft_bloom_agg(xxhash64(shingle), 100000L, 800000L)
             |   FROM $bv),
             |  xxhash64(shingle))""".stripMargin)
        finally {
          spark.catalog.dropTempView(bv)
          spark.catalog.dropTempView(tv)
        }
      }
    },
    textDecontaminateNgram.oracle)

  /** Connected-components dedup clustering: the step that turns
    * near-dup PAIRS into dedup GROUPS — each document in any
    * Jaccard≥0.5 pair is assigned its component's canonical id (the
    * minimum doc_id reachable through near-dup edges), the keeper a
    * dedup pass would retain.
    *
    * Algorithm: min-label propagation with POINTER JUMPING. Each
    * round (a) takes the neighborhood minimum over the undirected
    * edge list, then (b) jumps through the label map itself
    * (comp := label(comp)), which halves the remaining chain depth —
    * so the driver-side loop converges in O(log diameter) rounds
    * instead of O(diameter). Plain propagation measured 24 s at sf0.1
    * (the documents table's near-dup chains are deeper than clique
    * intuition suggests, and every extra round re-optimizes and
    * re-compiles a strictly larger plan); jumping plus an eager
    * `localCheckpoint` per round — which truncates the lineage so
    * round k's plan does NOT contain rounds 0..k-1 — brings it to
    * ~2 s. Convergence is a count of strictly-decreasing labels.
    *
    * Scale notes (100 TB): this is exactly large-scale dedup's
    * component stage (union-find is inherently sequential; label
    * propagation is the shuffle-parallel equivalent, and pointer
    * jumping is the classic PRAM trick that makes it logarithmic).
    * Each round is two equi-joins + one groupBy on the PAIR table —
    * never the corpus; the pair table is the small output of
    * LSH/Jaccard candidate generation. The pair pipeline is
    * materialized ONCE via an eager `localCheckpoint` before the loop,
    * so no round's plan contains the shingle join, and the edge/label
    * tables are sized to the pair count (`pairPartitions`) rather than
    * the session shuffle default — at bench scale that is a single
    * partition (no 32-task scheduling overhead on a few-hundred-row
    * table); at 100 TB the same formula spreads a billions-of-edges
    * pair table across thousands of partitions. On a real cluster the
    * per-round truncation would be a reliable `checkpoint` to the
    * cluster FS rather than executor-local blocks. The DuckDB oracle
    * computes the same components via a recursive transitive-closure
    * CTE — a genuinely different algorithm, so agreement is strong
    * evidence.
    */
  /** Memoized label tables keyed by the analyzed plan of their pair
    * input: five graph-family queries (components, cluster quality,
    * keeper selection, triangle counting, the composed pipeline) all
    * derive from the same deterministic label propagation, so only the
    * first caller per distinct pair plan pays the iterative loop
    * (PlanCache makes the find-or-compute atomic, skips dead-context
    * entries, keeps the final labels in its columnar cache and frees an
    * evicted entry; the loop releases its own last round once the memo
    * holds the labels). Call sites pass
    * the SAME pair frame (not per-caller projections of it) so the
    * family shares one entry per input directory.
    */
  private val labelsCache = new graft.PlanCache(4)

  /** [[connectedComponents]] in DuckDB: the `verts`, `<edges>` and
    * recursive `reach(a, b)` CTEs over a `pairs(d1, d2)` CTE; a
    * component's label is MIN(b) per a. `edges` names the edge CTE.
    */
  private def componentReachSql(edges: String): String = s"""verts AS (
        SELECT d1 AS id FROM pairs UNION SELECT d2 FROM pairs
      ), $edges AS (
        SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs
      ), reach(a, b) AS (
        SELECT id, id FROM verts
        UNION
        SELECT r.a, e.b FROM reach r JOIN $edges e ON r.b = e.a
      )"""

  /** Min-label pointer-jumping connected components over an undirected
    * pair table with columns (d1, d2) — returns (id, comp). Shared by
    * the declared component row and the composed dedup pipeline.
    */
  def connectedComponents(pairsIn: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    var lastRound: Option[org.apache.spark.sql.DataFrame] = None
    val memo = labelsCache.getOrCompute(pairsIn) { p =>
      // Materialize the pair table exactly once; every round below joins
      // this checkpointed table, never the upstream candidate pipeline.
      val pairs = graft.Checkpoints.cut(p.select(col("d1"), col("d2")))
      val nPairs = pairs.count()
      // ~1M edge-rows per partition; 1 partition at bench scale.
      val nPart = math.max(1, (nPairs / 500000L).toInt)
      val verts = pairs.select(col("d1").as("id"))
        .union(pairs.select(col("d2").as("id"))).distinct()
      val edges = graft.Checkpoints.cut(
        pairs.select(col("d1").as("src"), col("d2").as("dst"))
          .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
          .repartition(nPart, col("dst")))
      var labels = graft.Checkpoints.cut(
        verts.select(col("id"), col("id").as("comp"))
          .repartition(nPart, col("id")))
      // pairs fed verts (now inside the labels checkpoint) and edges;
      // its blocks are dead weight from here on
      graft.PlanCache.release(pairs)
      var changed = 1L
      while (changed > 0) {
        val nbrMin = edges
          .join(labels.select(col("id").as("dst"), col("comp").as("nbr_comp")), "dst")
          .groupBy(col("src")).agg(min(col("nbr_comp")).as("nbr"))
        val stepped = labels
          .join(nbrMin.select(col("src").as("id"), col("nbr")), Seq("id"), "left")
          .select(col("id"), least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"),
            col("comp").as("old"))
        // pointer jump: comp := label(comp). Labels only decrease, so
        // composing with the (pre-step) map is still an upper bound of
        // the true component minimum — but it halves chain depth.
        val next = graft.Checkpoints.cut(stepped
          .join(labels.select(col("id").as("cid"), col("comp").as("ccomp")),
            col("comp") === col("cid"), "left")
          .select(col("id"), least(col("comp"), coalesce(col("ccomp"), col("comp"))).as("comp"),
            col("old")))
        changed = next.where(col("comp") < col("old")).count()
        // next is eagerly materialized — the superseded round's blocks
        // can be released right away
        graft.PlanCache.release(labels)
        labels = next.select(col("id"), col("comp"))
      }
      graft.PlanCache.release(edges)
      lastRound = Some(labels)
      labels
    }
    // the memo holds the labels now: the last round's blocks are dead weight
    lastRound.foreach(graft.PlanCache.release)
    memo
  }

  /** Force the text family's shared stages — the token, shingle and
    * near-dup pair memos, the connected-component labels and the
    * persisted shingle registry — and report the elapsed seconds. Bench
    * calls this OUTSIDE the per-query clocks and logs the figure as
    * `shared_stage_s`, so the shared cost is an explicit line item
    * instead of being silently absorbed by whichever family query happens
    * to run first (honest per-query attribution). Each step's wall clock
    * goes to stderr as `[shared-text] <step> <s> s`
    * ([[graft.Harness.StepClock]]); stdout stays clean for the bench JSON.
    */
  def prepareSharedStages(
      spark: org.apache.spark.sql.SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    val timed = new graft.Harness.StepClock("shared-text")
    // every memo is built (materialized) by its PlanCache lookup
    timed("shingles")(cachedShingles(Tables.documents(spark, dir)))
    // the positional-token and distinct-token-set memos (r14): built on
    // this clock, honestly attributed, so the ~14 token-family consumers
    // measure their OWN aggregation instead of a repeated tokenize
    timed("tokens")(cachedTokens(Tables.documents(spark, dir)))
    timed("tokenSets")(cachedTokenSets(Tables.documents(spark, dir)))
    val pairs = timed("pairs")(corpusJaccardPairs(spark, dir))
    timed("cc")(connectedComponents(pairs))
    // persisted shingle registry: the first run on a corpus pays the
    // build here (its own shared-stage line, not the incremental-dedup
    // query's clock); later sessions re-register metadata only
    timed("registry")(ShingleRegistry.ensure(spark, dir))
    // r12 retraction artifacts: bitmask generation + tombstone/remap
    // side tables + compacted generation, same once-per-corpus rule
    timed("bitmask")(ShingleRegistry.ensureBitmask(spark, dir))
    timed("retraction")(ShingleRegistry.ensureRetraction(spark, dir))
    timed("retractCompacted")(ShingleRegistry.ensureRetractCompacted(spark, dir))
    (System.nanoTime() - t0) / 1e9
  }

  val dedupConnectedComponents = Q(
    "dedup_connected_components",
    (spark, dir) => {
      import spark.implicits._
      connectedComponents(corpusJaccardPairs(spark, dir))
        .select($"id".as("doc_id"), $"comp")
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH RECURSIVE ${OracleSql.shingles()}, $jaccardPairsSql, ${componentReachSql("edges")}
      SELECT a AS doc_id, MIN(b) AS comp
      FROM reach GROUP BY a ORDER BY doc_id
    """.trim))

  /** Per-document TRIANGLE counts over the Jaccard≥0.5 near-dup graph —
    * the cluster-density signal connected components can't see: a
    * component formed by a CHAIN (A~B~C with A≁C) merges documents that
    * were never directly similar (transitive-drift risk), while a
    * triangle-dense component is a genuine duplicate clique safe to
    * collapse to one keeper. Standard enumeration on the d1<d2-oriented
    * edge list: 2-paths via the shared middle vertex, closed by an
    * existence check on the (low, high) closing edge — each triangle
    * found exactly once.
    *
    * Scale notes (100 TB): the edge list is near-dup-pair-sized (orders
    * below the corpus); it is checkpointed once so the three
    * self-references never recompute the quadratic shingle pipeline.
    * The 2-path join keys on the middle vertex and the closing check is
    * a LEFT SEMI join keyed on the (a, c) pair — co-partitioned hash
    * joins throughout, no loop join. Degree skew is bounded by dup
    * cluster size; for a pathological hub vertex the standard fix is
    * degree-ordered orientation (point each edge at the higher-degree
    * endpoint), noted here and unnecessary at this corpus's max degree.
    */
  val dedupTriangleCount = Q(
    "dedup_triangle_count",
    (spark, dir) => {
      import spark.implicits._
      val e = corpusJaccardPairs(spark, dir)
        .select($"d1", $"d2").transform(graft.Checkpoints.cut)
      val tri = e.as("e1")
        .join(e.as("e2"), $"e1.d2" === $"e2.d1")
        .select($"e1.d1".as("a"), $"e1.d2".as("b"), $"e2.d2".as("c"))
        .join(e.as("e3"), $"a" === $"e3.d1" && $"c" === $"e3.d2", "left_semi")
      tri.select(explode(array($"a", $"b", $"c")).as("doc_id"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_triangles"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH ${OracleSql.shingles()}, $jaccardPairsSql, tri AS (
        SELECT e1.d1 AS a, e1.d2 AS b, e2.d2 AS c
        FROM pairs e1
        JOIN pairs e2 ON e1.d2 = e2.d1
        WHERE EXISTS (
          SELECT 1 FROM pairs e3 WHERE e3.d1 = e1.d1 AND e3.d2 = e2.d2)
      ), verts AS (
        SELECT a AS doc_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      )
      SELECT doc_id, COUNT(*) AS n_triangles
      FROM verts GROUP BY doc_id ORDER BY doc_id
    """.trim))

  /** Per-component QUALITY report over the near-dup graph — the
    * collapse-vs-review decision table that closes the graph family:
    * components (`dedup_connected_components`) say WHAT merges,
    * triangles (`dedup_triangle_count`) say how cliquish locally; this
    * row scores each component globally — size, internal edge count,
    * density 2E/(n(n-1)), and an is_clique flag. A dedup pass collapses
    * dense components to one keeper and routes sparse chain-formed ones
    * (transitive drift) to review.
    *
    * Scale notes (100 TB): reuses the cached pair table and the
    * pointer-jumping label propagation; the report itself is one
    * equi-join of the PAIR table to the label table (d1's component =
    * d2's by construction) plus two component-keyed aggs — everything
    * is near-dup-pair-sized, orders below the corpus. Density is a
    * pure row function of two exact BIGINTs, identical across engines.
    */
  lazy val dedupClusterQuality = Q(
    "dedup_cluster_quality",
    (spark, dir) => {
      import spark.implicits._
      val pairsFull = corpusJaccardPairs(spark, dir)
      val pairs = pairsFull.select($"d1", $"d2")
      // key the label memo on the UNPROJECTED shared pair frame — the
      // same plan every graph-family query passes, so the CC loop runs
      // once per input directory across the whole family
      val labels = connectedComponents(pairsFull)
      val sizes = labels.groupBy($"comp").agg(count(lit(1)).as("n_docs"))
      val edges = pairs
        .join(labels.withColumnRenamed("id", "d1"), "d1")
        .groupBy($"comp").agg(count(lit(1)).as("n_edges"))
      sizes.join(edges, "comp")
        .select(
          $"comp", $"n_docs", $"n_edges",
          (($"n_edges" * 2).cast(DoubleType) /
            ($"n_docs" * ($"n_docs" - 1)).cast(DoubleType)).as("density"),
          ($"n_edges" * 2 === $"n_docs" * ($"n_docs" - 1)).as("is_clique"))
        .orderBy($"comp")
    },
    Some(s"""
      WITH RECURSIVE ${OracleSql.shingles()}, $jaccardPairsSql, ${componentReachSql("gedges")}, labels AS (
        SELECT a AS id, MIN(b) AS comp FROM reach GROUP BY a
      ), csizes AS (
        SELECT comp, COUNT(*) AS n_docs FROM labels GROUP BY comp
      ), cedges AS (
        SELECT l.comp, COUNT(*) AS n_edges
        FROM pairs p JOIN labels l ON p.d1 = l.id
        GROUP BY l.comp
      )
      SELECT comp, n_docs, n_edges,
        CAST(n_edges * 2 AS DOUBLE) / CAST(n_docs * (n_docs - 1) AS DOUBLE) AS density,
        (n_edges * 2 = n_docs * (n_docs - 1)) AS is_clique
      FROM csizes JOIN cedges USING (comp)
      ORDER BY comp
    """.trim))

  /** Quality-priority KEEPER selection per near-dup component — the
    * final act of the dedup story: components say what merges, this row
    * says which document SURVIVES. Keeper = the component member with
    * the most whitespace tokens (content-richness proxy), doc_id as the
    * deterministic tiebreak; every graph vertex gets its keeper and an
    * `is_keeper` flag (exact-dedup's min-id rule upgraded to a quality
    * rule, the choice real curation pipelines make).
    *
    * Scale notes (100 TB): reuses the cached pair table and the
    * pointer-jumping labels; token counts are one map-side-combinable
    * agg over the corpus. The rank window partitions by COMPONENT — its
    * cost is bounded by component size, which LSH-banded candidate
    * generation keeps small by construction (a pathological giant
    * component is a data-quality signal `dedup_cluster_quality` flags
    * for review before any keeper collapse). The keeper table re-joins
    * back on comp — near-dup-vertex-sized, orders below the corpus.
    */
  lazy val dedupKeeperQuality = Q(
    "dedup_keeper_quality",
    (spark, dir) => {
      import spark.implicits._
      val labels = connectedComponents(corpusJaccardPairs(spark, dir))
        .withColumnRenamed("id", "doc_id")
      val ntok = cachedTokens(Tables.documents(spark, dir))
        .groupBy($"doc_id").agg(count(lit(1)).as("n_tokens"))
      val ranked = labels.join(ntok, "doc_id")
        .withColumn("rk", row_number().over(
          Window.partitionBy($"comp").orderBy($"n_tokens".desc, $"doc_id".asc)))
      val keepers = ranked.where($"rk" === 1)
        .select($"comp", $"doc_id".as("keeper_id"))
      ranked.join(keepers, "comp")
        .select($"doc_id", $"comp", $"n_tokens", $"keeper_id",
          ($"doc_id" === $"keeper_id").as("is_keeper"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH RECURSIVE ${OracleSql.shingles()}, $jaccardPairsSql, ${componentReachSql("gedges")}, labels AS (
        SELECT a AS id, MIN(b) AS comp FROM reach GROUP BY a
      ), ntok AS (
        SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id
      ), ranked AS (
        SELECT l.id AS doc_id, l.comp, n.n_tokens,
          ROW_NUMBER() OVER (PARTITION BY l.comp
            ORDER BY n.n_tokens DESC, l.id) AS rk
        FROM labels l JOIN ntok n ON l.id = n.doc_id
      ), keepers AS (
        SELECT comp, doc_id AS keeper_id FROM ranked WHERE rk = 1
      )
      SELECT r.doc_id, r.comp, r.n_tokens, k.keeper_id,
        (r.doc_id = k.keeper_id) AS is_keeper
      FROM ranked r JOIN keepers k USING (comp)
      ORDER BY r.doc_id
    """.trim))

  /** Stratified deterministic sampling: per-language sampling rates
    * (50% for `en`, 20% for the rest) decided by an md5 bucket of
    * (lang, doc_id) — the `sampleBy` semantics done reproducibly.
    * Unlike `df.stat.sampleBy` (seeded RNG whose draw depends on row
    * order and partitioning), hash-bucket membership is a pure function
    * of the row, so the sample is IDENTICAL on any cluster layout, and
    * re-runs are incremental-friendly (a doc's membership never flips).
    * Output is the per-stratum audit: population, sample size, realized
    * rate against the target.
    *
    * Scale notes (100 TB): per-row hash + filter, one tiny groupBy —
    * no shuffle of unsampled data, no global RNG state.
    */
  val sampleStratifiedByLang = Q(
    "sample_stratified_by_lang",
    (spark, dir) => {
      import spark.implicits._
      val bucket =
        conv(substring(md5(concat($"lang", lit(":"), $"doc_id".cast("string"))), 1, 4),
          16, 10).cast("long") % 1000
      val target = when($"lang" === "en", 500L).otherwise(200L)
      Tables
        .documents(spark, dir)
        .withColumn("keep", (bucket < target).cast("long"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_total"),
          sum($"keep").as("n_sampled"),
          (sum($"keep") * lit(1.0) / count(lit(1))).cast(DecimalType(18, 6))
            .as("realized_rate"),
          (max(target) * lit(1.0) / 1000).cast(DecimalType(18, 6)).as("target_rate"))
        .orderBy($"lang")
    },
    Some("""
      SELECT lang, COUNT(*) AS n_total,
        CAST(SUM(keep) AS BIGINT) AS n_sampled,
        CAST(CAST(SUM(keep) * 1.0 / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS realized_rate,
        CAST(CAST(MAX(target) * 1.0 / 1000 AS DECIMAL(18,6)) AS DOUBLE) AS target_rate
      FROM (
        SELECT lang,
          CASE WHEN CAST('0x' || substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 1000
               < (CASE WHEN lang = 'en' THEN 500 ELSE 200 END)
               THEN 1 ELSE 0 END AS keep,
          CASE WHEN lang = 'en' THEN 500 ELSE 200 END AS target
        FROM documents)
      GROUP BY lang ORDER BY lang
    """.trim))

  /** PII redaction: the scrub pass every training-data pipeline runs
    * before text leaves the trust boundary. The corpus is synthetic
    * word-salad with no natural PII, so the query first APPENDS
    * deterministic PII derived from real columns (an email, an IPv4,
    * a phone number keyed off doc_id/source) and then redacts it —
    * exercising the real mechanics (three regex classes, replacement
    * order, per-class counts) with a verifiable oracle. Output carries
    * the match counts plus an md5 of the redacted text, so the oracle
    * check proves byte-identical redaction output, not just counts.
    *
    * Regex dialect note: patterns are restricted to the syntax Java
    * regex (Spark) and RE2 (DuckDB) share — character classes, bounded
    * repetition, \d and \b — no lookaround, no backreferences.
    *
    * Scale notes (100 TB): pure per-row codegen'd string work — no
    * shuffle at all until the final presentation sort; on a cluster
    * this pipelines with the scan at full width.
    */
  val textPiiRedact = Q(
    "text_pii_redact",
    (spark, dir) => {
      import spark.implicits._
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
      val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
      val withPii = Tables.documents(spark, dir).select(
        $"doc_id", $"lang",
        concat(
          $"text",
          lit(" contact user"), $"doc_id".cast("string"),
          lit("@"), $"source", lit(".org ip 10."),
          ($"doc_id" % 256).cast("string"), lit(".0."),
          ($"doc_id" % 100).cast("string"),
          lit(" tel 555-867-"),
          lpad(($"doc_id" % 10000).cast("string"), 4, "0")).as("txt"))
      withPii
        .select(
          $"doc_id", $"lang",
          regexp_count($"txt", lit(emailRe)).cast("long").as("n_emails"),
          regexp_count($"txt", lit(ipRe)).cast("long").as("n_ips"),
          regexp_count($"txt", lit(phoneRe)).cast("long").as("n_phones"),
          md5(
            regexp_replace(
              regexp_replace(
                regexp_replace($"txt", emailRe, "<EMAIL>"),
                ipRe, "<IP>"),
              phoneRe, "<PHONE>")).as("redacted_md5"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH p AS (
        SELECT doc_id, lang,
          text || ' contact user' || CAST(doc_id AS VARCHAR) ||
            '@' || source || '.org ip 10.' ||
            CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
            CAST(doc_id % 100 AS VARCHAR) ||
            ' tel 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
            AS txt
        FROM documents
      )
      SELECT doc_id, lang,
        CAST(len(regexp_extract_all(txt, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(txt, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        CAST(len(regexp_extract_all(txt, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
        md5(
          regexp_replace(
            regexp_replace(
              regexp_replace(txt, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
              '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
            '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
      FROM p ORDER BY doc_id
    """.trim))

  /** Repetition-signal quality filter (the Gopher/C4 family): per-doc
    * token and 3-gram duplication fractions plus the filter decision.
    * `top_tok_frac` is the most-frequent-token share; `dup_3gram_frac`
    * is 1 − distinct/total shingles — the standard boilerplate and
    * loop-spam signals. The flag compares the 6-decimal ROUNDED
    * fractions so the decision is engine-stable at the thresholds.
    *
    * Scale notes (100 TB): two map-side-combinable aggregation chains
    * (doc×tok then doc; doc×shingle then doc) joined on doc_id — all
    * shuffles are keyed by doc or (doc, gram); nothing is quadratic
    * and no row leaves its group.
    */
  val textRepetitionStats = Q(
    "text_repetition_stats",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val tokCnt = cachedTokens(docs)
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      val tokStats = tokCnt
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_tok"), count(lit(1)).as("n_distinct_tok"),
          max($"c").as("top_cnt"))
      val w = Window.partitionBy($"doc_id").orderBy($"pos")
      val allShingles = cachedTokens(docs)
        .select($"doc_id", $"tok",
          lead($"tok", 1).over(w).as("t1"), lead($"tok", 2).over(w).as("t2"))
        .filter($"t2".isNotNull)
        .select($"doc_id", concat_ws(" ", $"tok", $"t1", $"t2").as("shingle"))
      val shStats = allShingles
        .groupBy($"doc_id", $"shingle").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_sh"), count(lit(1)).as("n_distinct_sh"))
      val topFrac = ($"top_cnt" * lit(1.0) / $"n_tok").cast(DecimalType(18, 6))
      val dupFrac = coalesce(
        (lit(1.0) - $"n_distinct_sh" * lit(1.0) / $"n_sh").cast(DecimalType(18, 6)),
        lit(0).cast(DecimalType(18, 6)))
      tokStats
        .join(shStats, Seq("doc_id"), "left")
        .select(
          $"doc_id", $"n_tok", $"n_distinct_tok",
          topFrac.as("top_tok_frac"), dupFrac.as("dup_3gram_frac"),
          when(topFrac > 0.12 || dupFrac > 0.05, 1L).otherwise(0L)
            .as("is_repetitive"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH ${OracleSql.tokens()}, tc AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2
      ), ts AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
          COUNT(*) AS n_distinct_tok, MAX(c) AS top_cnt
        FROM tc GROUP BY 1
      ), sh AS (
        ${OracleSql.trigrams("a.doc_id")}
      ), sc AS (
        SELECT doc_id, shingle, COUNT(*) AS c FROM sh GROUP BY 1, 2
      ), ss AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_sh,
          COUNT(*) AS n_distinct_sh
        FROM sc GROUP BY 1
      ), j AS (
        SELECT ts.doc_id, ts.n_tok, ts.n_distinct_tok,
          CAST(ts.top_cnt * 1.0 / ts.n_tok AS DECIMAL(18,6)) AS top_tok_frac,
          COALESCE(CAST(1.0 - ss.n_distinct_sh * 1.0 / ss.n_sh AS DECIMAL(18,6)),
            CAST(0 AS DECIMAL(18,6))) AS dup_3gram_frac
        FROM ts LEFT JOIN ss ON ts.doc_id = ss.doc_id
      )
      SELECT doc_id, n_tok, n_distinct_tok,
        CAST(top_tok_frac AS DOUBLE) AS top_tok_frac,
        CAST(dup_3gram_frac AS DOUBLE) AS dup_3gram_frac,
        CAST(CASE WHEN top_tok_frac > 0.12 OR dup_3gram_frac > 0.05
          THEN 1 ELSE 0 END AS BIGINT) AS is_repetitive
      FROM j ORDER BY doc_id
    """.trim))

  /** The LLM-corpus curation pipeline END-TO-END in one declared plan:
    * language-ID gate (the `text_langid_ngram` marker vote) → quality
    * gate (length + token-count floors) → exact-dedup keeper selection
    * (the `text_exact_dedup` md5/min-doc_id rule) → per-language corpus
    * stats. The single-operator rows prove each primitive; this row
    * proves they FUSE into one job — no stage materializes, no stage
    * re-reads the corpus.
    *
    * Scale notes (100 TB): one token explode feeding ONE map-side-
    * combinable per-doc aggregate (lang scores and token counts share
    * the pass), one hash join back to the docs, one hash agg on the
    * text digest for keeper selection, one join to pick keeper rows,
    * one final tiny agg. Every shuffle key is doc_id or the digest —
    * both high-cardinality and unskewed; nothing here is quadratic and
    * nothing collects.
    */
  val pipelineCorpusCuration = Q(
    "pipeline_corpus_curation",
    (spark, dir) => {
      import spark.implicits._
      val perDoc = langScores(cachedTokens(Tables.documents(spark, dir)),
        count(lit(1)).as("n_tokens"))
      val gated = Tables.documents(spark, dir)
        .join(perDoc, "doc_id")
        .withColumn("best_score", langBestScore)
        .select($"doc_id", langPred.as("pred_lang"), $"source", $"n_tokens",
          $"n_chars", md5(lower(trim($"text"))).as("text_hash"))
        .where($"n_chars" >= 100 && $"n_tokens" >= 5 && $"best_score" >= 1)
      val keepers = gated.groupBy($"text_hash")
        .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("group_size"))
      gated
        .join(keepers, $"doc_id" === $"keeper_id")
        .groupBy($"pred_lang", $"source")
        .agg(
          count(lit(1)).as("n_kept"),
          sum($"group_size" - 1).as("n_dupes_removed"),
          sum($"n_tokens").as("sum_tokens"),
          (sum($"n_chars").cast(DoubleType) / count(lit(1)))
            .cast(DecimalType(18, 6)).as("mean_chars"))
        .orderBy($"pred_lang", $"source")
    },
    Some(s"""
      WITH tok AS (
        SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok FROM documents
      ), per_doc AS (
        SELECT doc_id,
          $langScoresSql,
          COUNT(*) AS n_tokens
        FROM tok WHERE tok <> '' GROUP BY doc_id
      ), gated AS (
        SELECT d.doc_id,
          $langPredSql AS pred_lang,
          source, n_tokens, n_chars, md5(lower(trim(text))) AS text_hash
        FROM documents d JOIN per_doc USING (doc_id)
        WHERE n_chars >= 100 AND n_tokens >= 5
          AND GREATEST(score_de, score_en, score_es, score_fr, score_zh) >= 1
      ), keepers AS (
        SELECT text_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS group_size
        FROM gated GROUP BY text_hash
      )
      SELECT pred_lang, source,
        COUNT(*) AS n_kept,
        CAST(SUM(group_size - 1) AS BIGINT) AS n_dupes_removed,
        CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
        CAST(CAST(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS mean_chars
      FROM gated g JOIN keepers k ON g.doc_id = k.keeper_id
      GROUP BY pred_lang, source ORDER BY pred_lang, source
    """.trim))

  /** Fixed-SIZE deterministic sample (k=100): the k documents with the
    * smallest md5(doc_id) — the reproducible equivalent of reservoir
    * sampling (`rdd.takeSample` is seed-and-partitioning dependent;
    * this is a pure row function, identical on any cluster layout).
    *
    * Scale notes (100 TB): `orderBy(h).limit(k)` plans as
    * TakeOrderedAndProject — each partition keeps its local top-k and
    * only k rows per partition reach the driver-side merge; the rank
    * window then runs on k=100 rows, not the corpus. Never a global
    * sort.
    */
  val sampleReservoirFixed = Q(
    "sample_reservoir_fixed",
    (spark, dir) => {
      import spark.implicits._
      val h = md5($"doc_id".cast("string"))
      val top = Tables.documents(spark, dir)
        .select(h.as("h"), $"doc_id", $"source", $"n_chars")
        .orderBy($"h")
        .limit(100)
      top
        .select(
          row_number().over(Window.orderBy($"h")).cast("long").as("sample_rank"),
          $"doc_id", $"source", $"n_chars")
        .orderBy($"sample_rank")
    },
    Some("""
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS sample_rank,
        doc_id, source, n_chars
      FROM documents
      ORDER BY md5(CAST(doc_id AS VARCHAR))
      LIMIT 100
    """.trim))

  /** URL canonicalization + dedup — the web-corpus ingest step (the
    * same page arrives as `HTTPS://Host/path?utm_source=…#frag` and
    * `https://host/path`; a crawl dedup that misses this keeps every
    * variant). Two deterministic messy variants are synthesized per
    * document (uppercase host + tracking params + fragment; trailing
    * slash), canonicalized — lowercase, fragment stripped, `utm_*`
    * params stripped, dangling separators and trailing slash removed —
    * and deduped by the canonical form; per-source stats prove every
    * variant pair collapsed to ONE canonical URL.
    *
    * Scale notes (100 TB): canonicalization is pure per-row string
    * work (map-side); the dedup is one hash agg on the canonical
    * string — the same single-shuffle shape as `text_exact_dedup`.
    */
  val textDedupUrlCanonical = Q(
    "text_dedup_url_canonical",
    (spark, dir) => {
      import spark.implicits._
      val messy = concat(lit("HTTPS://"), upper($"source"),
        lit(".Example.org/docs/"), $"doc_id".cast("string"),
        lit("?utm_source=feed&lang="), $"lang", lit("&utm_campaign=x#frag"))
      val slashy = concat(lit("https://"), $"source",
        lit(".example.org/docs/"), $"doc_id".cast("string"),
        lit("/?lang="), $"lang")
      def canonical(u: org.apache.spark.sql.Column) = {
        val noFrag = regexp_replace(u, "#.*$", "")
        val noUtm = regexp_replace(noFrag, "[?&]utm_[^&]*", "")
        // a stripped LEADING param leaves "&lang=…" with no "?" — turn
        // the first separator back into "?" (anchored: applies once)
        val fixedSep = regexp_replace(noUtm, "^([^?&]*)&", "$1?")
        regexp_replace(lower(fixedSep), "/(\\?|$)", "$1")
      }
      Tables.documents(spark, dir)
        .select($"doc_id", $"source",
          explode(array(messy, slashy)).as("raw_url"))
        .select($"doc_id", $"source", canonical($"raw_url").as("canon"))
        .groupBy($"source")
        .agg(
          count(lit(1)).as("n_raw_urls"),
          countDistinct($"canon").as("n_canonical"),
          countDistinct($"doc_id").as("n_docs"))
        .orderBy($"source")
    },
    Some("""
      SELECT source,
        2 * COUNT(*) AS n_raw_urls,
        COUNT(DISTINCT 'https://' || source || '.example.org/docs/' ||
          CAST(doc_id AS VARCHAR) || '?lang=' || lang) AS n_canonical,
        COUNT(DISTINCT doc_id) AS n_docs
      FROM documents
      GROUP BY source ORDER BY source
    """.trim))

  /** Temperature-based mixture reweighting across corpus SOURCES — the
    * standard LLM data-mixing step: a source's natural share p_s =
    * tokens_s/Σtokens is flattened to q_s ∝ p_s^α (α = 0.5 here), so
    * small high-value sources are upsampled and giant ones downweighted;
    * the report carries natural share, temperature share, and the
    * implied per-source boost factor q_s/p_s an epoch sampler applies.
    * Since q_s ∝ p_s^0.5 ∝ √tokens_s, the weights reduce to
    * √tokens_s / Σ√tokens — no intermediate normalization needed.
    *
    * Determinism (§2.0): √tokens_s is a pure row function of an exact
    * BIGINT (identical doubles in both engines), rounded once to
    * DECIMAL(28,12); the cross-source normalizers Σtokens and Σ√tokens
    * are exact sums (BIGINT / decimal) over the source-sized aggregate,
    * computed by an unpartitioned window — bounded by the SOURCE DOMAIN
    * cardinality (20 here, maybe thousands at 100 TB), never by corpus
    * row count, the same freq-table bound as `win_cume_dist_scalable`.
    * The corpus itself is touched by one two-level map-side-combinable
    * token agg (doc-keyed pre-agg spreads hot sources before the
    * source rollup).
    */
  lazy val sampleMixtureTemperature = Q(
    "sample_mixture_temperature",
    (spark, dir) => {
      import spark.implicits._
      val w = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.documents(spark, dir)
        .select($"doc_id", $"source",
          explode(split(lower($"text"), " ")).as("tok"))
        .filter($"tok" =!= "")
        .groupBy($"doc_id", $"source").agg(count(lit(1)).as("t"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"t").as("tokens"))
        .withColumn("s", sqrt($"tokens".cast(DoubleType)).cast(DecimalType(28, 12)))
        .withColumn("tot_tokens", sum($"tokens").over(w))
        .withColumn("tot_s", sum($"s").over(w))
        .select(
          $"source", $"n_docs", $"tokens",
          ($"tokens".cast(DoubleType) / $"tot_tokens".cast(DoubleType))
            .as("natural_share"),
          ($"s".cast(DoubleType) / $"tot_s".cast(DoubleType))
            .as("temp_share"),
          (($"s".cast(DoubleType) / $"tot_s".cast(DoubleType)) /
            ($"tokens".cast(DoubleType) / $"tot_tokens".cast(DoubleType)))
            .as("boost"))
        .orderBy($"source")
    },
    Some("""
      WITH per_doc AS (
        SELECT doc_id, source, COUNT(*) AS t
        FROM (SELECT doc_id, source, UNNEST(string_split(lower(text), ' ')) AS tok
              FROM documents)
        WHERE tok <> ''
        GROUP BY doc_id, source
      ), per_src AS (
        SELECT source, COUNT(*) AS n_docs, CAST(SUM(t) AS BIGINT) AS tokens,
          CAST(SQRT(CAST(SUM(t) AS DOUBLE)) AS DECIMAL(28,12)) AS s
        FROM per_doc GROUP BY source
      ), normed AS (
        SELECT *, SUM(tokens) OVER () AS tot_tokens, SUM(s) OVER () AS tot_s
        FROM per_src
      )
      SELECT source, n_docs, tokens,
        CAST(tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE) AS natural_share,
        CAST(s AS DOUBLE) / CAST(tot_s AS DOUBLE) AS temp_share,
        (CAST(s AS DOUBLE) / CAST(tot_s AS DOUBLE)) /
          (CAST(tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)) AS boost
      FROM normed ORDER BY source
    """.trim))

  /** ZIPF-LAW slope fit over the term-frequency distribution — the
    * corpus-health fingerprint (natural language sits near slope −1 in
    * log-log rank/frequency space; boilerplate-heavy or synthetic
    * corpora bend away): OLS of ln(freq) on ln(rank) over the top-100
    * terms, from the same closed-form moment algebra as
    * `agg_regression_moments`, plus r² as fit quality.
    *
    * Scale notes (100 TB): term frequencies are one map-side-combinable
    * count (vocab ≪ corpus); the top-100 cut is TakeOrderedAndProject
    * (never a global sort of the vocab), and the regression runs on 100
    * rows. ln() terms round to 12 dp before exact decimal moment sums,
    * so the fitted line is bit-stable across engines and partitionings.
    */
  val textZipfSlope = Q(
    "text_zipf_slope",
    (spark, dir) => {
      import spark.implicits._
      val top = cachedTokens(Tables.documents(spark, dir))
        .groupBy($"tok").agg(count(lit(1)).as("freq"))
        .orderBy($"freq".desc, $"tok").limit(100)
      val w = Window.orderBy($"freq".desc, $"tok")
      val pts = top
        .withColumn("rank", row_number().over(w))
        .select(
          round(log($"rank".cast(DoubleType)), 12).as("x"),
          round(log($"freq".cast(DoubleType)), 12).as("y"))
      val s = pts.agg(
        count(lit(1)).as("n"),
        sum($"x".cast(DecimalType(28, 12))).cast(DoubleType).as("sx"),
        sum($"y".cast(DecimalType(28, 12))).cast(DoubleType).as("sy"),
        sum(($"x" * $"y").cast(DecimalType(28, 12))).cast(DoubleType).as("sxy"),
        sum(($"x" * $"x").cast(DecimalType(28, 12))).cast(DoubleType).as("sxx"),
        sum(($"y" * $"y").cast(DecimalType(28, 12))).cast(DoubleType).as("syy"))
      s.select(
        $"n".as("n_terms"),
        round(($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx"), 6).as("slope"),
        round(($"sy" - ($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx") * $"sx") / $"n", 6).as("intercept"),
        round(
          (($"n" * $"sxy" - $"sx" * $"sy") * ($"n" * $"sxy" - $"sx" * $"sy")) /
            (($"n" * $"sxx" - $"sx" * $"sx") * ($"n" * $"syy" - $"sy" * $"sy")), 6).as("r2"))
    },
    Some("""
      WITH tf AS (
        SELECT tok, COUNT(*) AS freq
        FROM (SELECT UNNEST(string_split(lower(text), ' ')) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY tok
      ), top AS (
        SELECT tok, freq FROM tf ORDER BY freq DESC, tok LIMIT 100
      ), pts AS (
        SELECT
          ROUND(LN(CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS DOUBLE)), 12) AS x,
          ROUND(LN(CAST(freq AS DOUBLE)), 12) AS y
        FROM top
      ), s AS (
        SELECT COUNT(*) AS n,
          CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(y AS DECIMAL(28,12))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
          CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
          CAST(SUM(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE) AS syy
        FROM pts
      )
      SELECT n AS n_terms,
        ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept,
        ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      FROM s
    """.trim))

  /** Incremental-ingest dedup against the PERSISTED shingle registry
    * (SURVEY §2 I-oct) — the production counterpart of
    * `text_ngram_novelty_rate`'s whole-curve job: history (md5 batches
    * 0..6) lives on disk as [[ShingleRegistry]]'s shingle-bucketed
    * warehouse table; the CURRENT batch (7) is scored against it —
    * per new document, how many of its distinct shingles the corpus
    * already holds, and the ≥50 % flag an ingest gate would drop on.
    * Fully oracled: the registry contents are a deterministic function
    * of the corpus, so DuckDB re-derives history + probe from scratch
    * and must match the persisted-serve answer.
    *
    * Scale notes (100 TB): the registry is the huge side — bucketing
    * by shingle means the probe join shuffles ONLY the new batch
    * (PlanSpec asserts exactly one shingle-keyed Exchange); the
    * left-outer merge join streams the bucketed registry scan. The
    * flag compare is exact integer (2·seen ≥ total), no float gate.
    */
  val dedupIncrementalRegistry = Q(
    "dedup_incremental_registry",
    (spark, dir) => {
      import spark.implicits._
      val reg = ShingleRegistry.ensure(spark, dir)
      val cur = shingles(
        Tables.documents(spark, dir)
          .filter(ShingleRegistry.batchOf($"doc_id") === 7))
      cur
        // merge hint: the registry side must never broadcast — at scale
        // it is the big side, and the bucketed scan feeds the sort-merge
        // join co-partitioned (no Exchange on the registry side)
        .join(reg.select($"shingle", lit(1L).as("seen")).hint("merge"),
          Seq("shingle"), "left")
        .groupBy($"doc_id")
        .agg(
          count(lit(1)).as("n_shingles"),
          sum(coalesce($"seen", lit(0L))).as("n_seen"))
        .select($"doc_id", $"n_shingles", $"n_seen",
          round($"n_seen".cast(DoubleType) / $"n_shingles", 6).as("seen_share"),
          ($"n_seen" * 2 >= $"n_shingles").as("is_flagged"))
        .orderBy($"doc_id")
    },
    Some(s"""
      WITH ${OracleSql.shingles()}, ${OracleSql.docBatches}, reg AS (
        SELECT DISTINCT s.shingle
        FROM sh s JOIN b USING (doc_id) WHERE b.batch < 7
      ), cur AS (
        SELECT s.doc_id, s.shingle
        FROM sh s JOIN b USING (doc_id) WHERE b.batch = 7
      )
      SELECT c.doc_id,
        COUNT(*) AS n_shingles,
        CAST(SUM(CASE WHEN r.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_seen,
        ROUND(CAST(SUM(CASE WHEN r.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
              / COUNT(*), 6) AS seen_share,
        SUM(CASE WHEN r.shingle IS NOT NULL THEN 1 ELSE 0 END) * 2 >= COUNT(*)
          AS is_flagged
      FROM cur c LEFT JOIN reg r USING (shingle)
      GROUP BY c.doc_id
      ORDER BY c.doc_id
    """.trim))

  /** Registry UPSERT — the daily-ingest cycle's write half (SURVEY §2
    * I-oct): after `dedup_incremental_registry` scores batch 7 against
    * history, [[ShingleRegistry.ensureUpserted]] appends the batch's
    * NOVEL shingles (anti-join survivors) into the bucketed registry
    * with `first_batch = 7`; the declared result audits the post-upsert
    * generation — shingle count and share per first-shipping batch.
    * Fully oracled: the post-upsert registry is min-batch-over-0..7 per
    * shingle, which DuckDB re-derives from scratch.
    *
    * Scale notes (100 TB): the upsert scans ONLY the new batch and
    * appends per-bucket files — history is never read beyond the
    * co-partitioned anti-join side nor ever rewritten. The audit below
    * is a groupBy over the bucketed table with a broadcast total.
    */
  val dedupRegistryUpsert = Q(
    "dedup_registry_upsert",
    (spark, dir) => {
      import spark.implicits._
      val reg2 = ShingleRegistry.ensureUpserted(spark, dir)
      val counts = reg2.groupBy($"first_batch").agg(count(lit(1)).as("n_shingles"))
      counts
        .crossJoin(broadcast(counts.agg(sum($"n_shingles").as("total"))))
        .select($"first_batch", $"n_shingles",
          round($"n_shingles".cast(DoubleType) / $"total", 6).as("share"))
        .orderBy($"first_batch")
    },
    Some(s"""
      WITH ${OracleSql.shingles()}, ${OracleSql.docBatches}, reg2 AS (
        SELECT s.shingle, CAST(MIN(b.batch) AS BIGINT) AS first_batch
        FROM sh s JOIN b USING (doc_id)
        GROUP BY 1
      ), counts AS (
        SELECT first_batch, COUNT(*) AS n_shingles FROM reg2 GROUP BY 1
      )
      SELECT first_batch, n_shingles,
        ROUND(CAST(n_shingles AS DOUBLE) / SUM(n_shingles) OVER (), 6) AS share
      FROM counts
      ORDER BY first_batch
    """.trim))

  /** PMI / NPMI word co-occurrence (SURVEY §2 I-non) — the association
    * measure behind collocation mining and embedding objectives
    * (word2vec's SGNS factorizes a shifted-PMI matrix): for every pair
    * of top-vocabulary words, pointwise mutual information of their
    * DOCUMENT co-occurrence, ln(c_ab·N / (c_a·c_b)), normalized to
    * [−1, 1] as npmi = pmi / ln(N/c_ab) so scores are comparable
    * across corpus sizes. Completes the association family: lift
    * (`agg_market_basket_lift`) is the RATIO form on baskets, PMI is
    * its LOG form on text, JS/MI measure whole-distribution affinity.
    *
    * Scale notes (100 TB): ONE corpus scan (r13) — the per-doc distinct
    * token sets are materialized once and feed every pass. The
    * real-pipeline vocabulary cut comes first — top-100 tokens by
    * document frequency (bounded, then broadcast back as ONE array
    * literal) — so the per-doc pair fan-out is ≤ |vocab∩doc|², never
    * tokens². df(tok) doubles as the single-token document count (both
    * count docs whose distinct token set contains tok), so no single
    * cells are ever exploded. Per-doc distinct token sets are ROW-LOCAL
    * (array_distinct — no (doc, tok) exchange at all), the vocab filter
    * is a row-local array_intersect against the broadcast array, and
    * pairs explode row-locally from the sorted result (the
    * market-basket recipe: no pair self-join, no doc-keyed shuffle
    * anywhere). The only fact-scale exchanges are the two token-keyed
    * partial aggs (df count, pair count). ln appears only on exact
    * integer operands, rounded at 6 dp (the MI discipline with 6 dp
    * headroom instead of 12).
    */
  val textPmiCooccurrence = Q(
    "text_pmi_cooccurrence",
    (spark, dir) => {
      import spark.implicits._
      // ONE parquet scan of documents: the per-doc distinct token sets
      // are materialized once (lineage cut) and feed BOTH token-keyed
      // fact aggregations, rather than re-scanning and re-tokenizing the
      // corpus for the vocab df pass, the cell pass AND the N count. The
      // per-token doc-frequency table further serves
      // double duty: its top-100 IS the vocab, and df(tok) IS the
      // single-token document count c_a (both count docs whose distinct
      // token set contains tok), so the cell explode no longer emits
      // single-token rows at all.
      // the per-doc distinct token sets are the shared memoized relation
      // — same frame, built once on the shared-text clock instead of a
      // per-construction localCheckpoint job
      val sets = cachedTokenSets(Tables.documents(spark, dir))
      val vocab = graft.Checkpoints.cut(sets
        .select(explode($"toks").as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("df"))
        .orderBy($"df".desc, $"tok").limit(100))
      val vocabArr = vocab.agg(collect_list($"tok").as("vocab"))
      // pair fan-out via TWO codegen'd generators (r14, guide §4): the
      // nested flatten(transform(..., transform(slice(...)))) ran every
      // pair through INTERPRETED lambda code (the SCALE.md r9 HOF
      // lesson) — posexplode + slice-explode emit the identical ordered
      // pairs ((toks[i], toks[j]), j > i — slice is 1-based, so i+2
      // starts at 0-based i+1) from compiled generator loops. Bisect:
      // pair stage 1.20 → 0.63 s at sf0.1.
      val pairs = sets
        .crossJoin(broadcast(vocabArr))
        .select(expr("array_sort(array_intersect(toks, vocab))").as("toks"))
        .select($"toks", posexplode($"toks").as(Seq("i", "tok_a")))
        .select($"tok_a", explode(expr("slice(toks, i + 2, size(toks))")).as("tok_b"))
        .groupBy($"tok_a", $"tok_b")
        .agg(count(lit(1)).as("c_ab"))
      val tot = sets.agg(count(lit(1)).as("n"))
      pairs
        .join(broadcast(vocab.select($"tok".as("tok_a"), $"df".as("c_a"))), "tok_a")
        .join(broadcast(vocab.select($"tok".as("tok_b"), $"df".as("c_b"))), "tok_b")
        .crossJoin(broadcast(tot))
        .select(
          $"tok_a", $"tok_b", $"c_ab", $"c_a", $"c_b",
          round(log($"c_ab".cast(DoubleType) * $"n" /
            ($"c_a".cast(DoubleType) * $"c_b")), 6).as("pmi"),
          when($"c_ab" === $"n", lit(1.0d)).otherwise(
            round(log($"c_ab".cast(DoubleType) * $"n" /
              ($"c_a".cast(DoubleType) * $"c_b")) /
              log($"n".cast(DoubleType) / $"c_ab"), 6)).as("npmi"))
        .orderBy($"npmi".desc, $"tok_a", $"tok_b")
        .limit(20)
    },
    Some("""
      WITH dt AS (
        SELECT DISTINCT doc_id, tok FROM (
          SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
          FROM documents)
        WHERE tok <> ''
      ), vocab AS (
        SELECT tok FROM (
          SELECT tok, COUNT(*) AS df FROM dt GROUP BY 1
          ORDER BY df DESC, tok LIMIT 100)
      ), dv AS (
        SELECT doc_id, tok FROM dt WHERE tok IN (SELECT tok FROM vocab)
      ), tot AS (
        SELECT COUNT(*) AS n FROM documents
      ), singles AS (
        SELECT tok, COUNT(*) AS c FROM dv GROUP BY 1
      ), pairs AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b, COUNT(*) AS c_ab
        FROM dv a JOIN dv b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY 1, 2
      )
      SELECT tok_a, tok_b, c_ab, sa.c AS c_a, sb.c AS c_b,
        ROUND(LN(CAST(c_ab AS DOUBLE) * n / (CAST(sa.c AS DOUBLE) * sb.c)), 6) AS pmi,
        CASE WHEN c_ab = n THEN 1.0
          ELSE ROUND(LN(CAST(c_ab AS DOUBLE) * n / (CAST(sa.c AS DOUBLE) * sb.c))
               / LN(CAST(n AS DOUBLE) / c_ab), 6) END AS npmi
      FROM pairs
      JOIN singles sa ON sa.tok = tok_a
      JOIN singles sb ON sb.tok = tok_b, tot
      ORDER BY npmi DESC, tok_a, tok_b LIMIT 20
    """.trim))

  /** REGISTRY RETRACTION (SURVEY §2 I-tredec, the right-to-be-forgotten
    * op): a source withdrawn for licensing (the
    * deterministic md5-batch [[ShingleRegistry.RetractedBatch]] = 5)
    * must leave the registry AS IF NEVER INGESTED, without rewriting
    * history. The retraction-capable generation is the contributor-
    * BITMASK registry ([[ShingleRegistry.ensureBitmask]]: per shingle
    * the OR of 2^batch over its contributing batches plus min
    * first_batch); with contributors indexed, the retraction is ONE
    * scan of the bucketed registry — no shuffle, no join — landing two
    * persisted side tables ([[ShingleRegistry.ensureRetraction]]):
    * TOMBSTONES (mask == 2^5, no surviving contributor) and REMAPS
    * (first was 5, others survive → lowest surviving bit). Registry
    * files stay byte-untouched (spec-proven). Declared output = the
    * post-retraction SERVE state per first-shipping batch: tombstones
    * anti-joined, remaps applied — exactly min-batch-excluding-5, which
    * the oracle re-derives from scratch.
    *
    * Scale notes (100 TB): the bitmask build is the registry build plus
    * one BIT_OR column (map-side combinable); retraction work is a
    * bucketed scan with source-bounded kilobyte outputs; the serve-state
    * audit below broadcasts both side tables against the bucketed scan
    * (zero shingle Exchange, PlanSpec-asserted).
    */
  val dedupRegistryRetract = Q(
    "dedup_registry_retract",
    (spark, dir) => {
      import spark.implicits._
      val reg = ShingleRegistry.ensureBitmask(spark, dir)
      val (ts, remap) = ShingleRegistry.ensureRetraction(spark, dir)
      val counts = reg
        .join(broadcast(ts), Seq("shingle"), "left_anti")
        .join(broadcast(remap), Seq("shingle"), "left")
        .select(coalesce($"new_first_batch", $"first_batch").as("first_batch"))
        .groupBy($"first_batch").agg(count(lit(1)).as("n_shingles"))
      counts
        .crossJoin(broadcast(counts.agg(sum($"n_shingles").as("total"))))
        .select($"first_batch", $"n_shingles",
          round($"n_shingles".cast(DoubleType) / $"total", 6).as("share"))
        .orderBy($"first_batch")
    },
    Some(s"""
      WITH ${OracleSql.shingles()}, ${OracleSql.docBatches}, live AS (
        SELECT s.shingle, CAST(MIN(b.batch) AS BIGINT) AS first_batch
        FROM sh s JOIN b USING (doc_id)
        WHERE b.batch <> 5
        GROUP BY 1
      ), counts AS (
        SELECT first_batch, COUNT(*) AS n_shingles FROM live GROUP BY 1
      )
      SELECT first_batch, n_shingles,
        ROUND(CAST(n_shingles AS DOUBLE) / SUM(n_shingles) OVER (), 6) AS share
      FROM counts
      ORDER BY first_batch
    """.trim))

  /** REGISTRY RETRACTION COMPACTION (SURVEY §2 I-tredec) — the
    * write-forward apply once tombstones accumulate, the
    * `vec_ivf_compact_apply` discipline on text
    * ([[ShingleRegistry.ensureRetractCompacted]]): a new shingle-
    * bucketed generation holding exactly the LIVE rows with CLEANSED
    * masks (bit 5 cleared) and remapped first_batch; the bitmask
    * generation and both side tables stay byte-untouched, so a failed
    * compaction leaves the tombstone-filtered serve path serving.
    * Declared output audits the compacted generation per first_batch —
    * count plus the exact md5-prefix hash sum of member shingles (a
    * content checksum the oracle reproduces) — read back from the
    * persisted table with zero shingle Exchange.
    */
  val dedupRegistryRetractCompact = Q(
    "dedup_registry_retract_compact",
    (spark, dir) => {
      import spark.implicits._
      val compacted = ShingleRegistry.ensureRetractCompacted(spark, dir)
      compacted
        .groupBy($"first_batch")
        .agg(count(lit(1)).as("n_shingles"),
          sum(conv(substring(md5($"shingle"), 1, 8), 16, 10).cast("long"))
            .as("shingle_hashsum"))
        .orderBy($"first_batch")
    },
    Some(s"""
      WITH ${OracleSql.shingles()}, ${OracleSql.docBatches}, live AS (
        SELECT s.shingle, CAST(MIN(b.batch) AS BIGINT) AS first_batch
        FROM sh s JOIN b USING (doc_id)
        WHERE b.batch <> 5
        GROUP BY 1
      )
      SELECT first_batch, COUNT(*) AS n_shingles,
        CAST(SUM(CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT)) AS BIGINT)
          AS shingle_hashsum
      FROM live GROUP BY 1 ORDER BY first_batch
    """.trim))

  def qs: Seq[Q] = Seq(
    textPmiCooccurrence,
    dedupIncrementalRegistry, dedupRegistryUpsert,
    dedupRegistryRetract, dedupRegistryRetractCompact,
    textZipfSlope,
    textNormalizeStats, textTokenizeWordcount, textNgramBigrams,
    textExactDedup, textJaccardSimpairs, textMinhashLsh, dedupSimhash,
    textLangidNgram, textQualityScore, textTokenStats,
    textFingerprintRolling, sampleHashSplit, textTfidfTopterms,
    dedupFuzzyEditdistance, textChunkSliding, textDecontaminateNgram,
    textDecontaminateBloom, textBoilerplateShare,
    dedupConnectedComponents, dedupTriangleCount, dedupClusterQuality,
    dedupKeeperQuality, textPackSequences,
    textPiiRedact, textRepetitionStats,
    sampleStratifiedByLang, pipelineCorpusCuration, sampleReservoirFixed,
    textDedupUrlCanonical, textCharEntropy, textPerplexityProxy,
    sampleImportanceWeighted, pipelineNearDedup, sampleMixtureTemperature,
    textMadLengthOutlier, textContainmentPairs,
    textVocabCoverage, sampleClassBalanced, sampleTimeHoldout,
    sampleGroupKfold,
    textLshScurveAudit, textNgramNoveltyRate, textRakeKeywords,
    textJsDivergenceLangpair, textCcnetQualityBuckets, textHeapsLaw,
    textLangidConfusion, textSourceOverlapMatrix)

  /** Jensen–Shannon divergence between every language pair's unigram
    * distributions (SURVEY §2 I-sext) — the symmetric, bounded corpus
    * distance (KL's usable form: finite even on disjoint support),
    * completing the info-theory family: entropy (within a corpus), MI
    * (between columns), perplexity (doc vs corpus), PSI (time drift),
    * JS (corpus vs corpus). Laplace-smoothed over the GLOBAL vocabulary
    * so every pair shares one support; bits via log2 with the standard
    * 12 dp term rounding + exact decimal sums.
    *
    * Scale notes: the per-(lang, term) frequency count is the only
    * fact-scale stage (map-side combinable, vocab ≪ corpus); the
    * pair×vocab grid, smoothing and JS algebra all ride bounded frames.
    */
  val textJsDivergenceLangpair = Q(
    "text_js_divergence_langpair",
    (spark, dir) => {
      import spark.implicits._
      val freq = cachedTokens(Tables.documents(spark, dir))
        .groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
        .repartition(1)
        .transform(graft.Checkpoints.cut)
      val vocab = freq.select($"tok").distinct()
      val vsize = vocab.agg(count(lit(1)).as("v"))
      val totals = freq.groupBy($"lang").agg(sum($"c").as("n"))
      val langs = totals.select($"lang")
      val pairs = langs.select($"lang".as("lang_a"))
        .crossJoin(langs.select($"lang".as("lang_b")))
        .where($"lang_a" < $"lang_b")
      def smoothed(cc: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
        (cc.cast(DoubleType) + 0.5) / (n.cast(DoubleType) + lit(0.5) * $"v")
      val grid = pairs.crossJoin(vocab)
        .join(freq.select($"lang".as("lang_a"), $"tok", $"c".as("ca")),
          Seq("lang_a", "tok"), "left")
        .join(freq.select($"lang".as("lang_b"), $"tok", $"c".as("cb")),
          Seq("lang_b", "tok"), "left")
        .join(broadcast(totals.select($"lang".as("lang_a"), $"n".as("na"))), "lang_a")
        .join(broadcast(totals.select($"lang".as("lang_b"), $"n".as("nb"))), "lang_b")
        .crossJoin(broadcast(vsize))
      val p = smoothed(coalesce($"ca", lit(0L)), $"na")
      val q = smoothed(coalesce($"cb", lit(0L)), $"nb")
      val m = (p + q) / 2.0
      grid
        .select($"lang_a", $"lang_b",
          round(p * log2(p / m) * 0.5 + q * log2(q / m) * 0.5, 12)
            .cast(DecimalType(28, 12)).as("term"))
        .groupBy($"lang_a", $"lang_b")
        .agg(round(sum($"term").cast(DoubleType), 6).as("js_bits"))
        .orderBy($"lang_a", $"lang_b")
    },
    Some("""
      WITH freq AS (
        SELECT lang, tok, COUNT(*) AS c
        FROM (SELECT lang, UNNEST(string_split(lower(text), ' ')) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY 1, 2
      ), vocab AS (SELECT DISTINCT tok FROM freq),
      vsize AS (SELECT COUNT(*) AS v FROM vocab),
      totals AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM freq GROUP BY 1),
      pairs AS (
        SELECT a.lang AS lang_a, b.lang AS lang_b
        FROM totals a CROSS JOIN totals b WHERE a.lang < b.lang
      ), grid AS (
        SELECT p.lang_a, p.lang_b, vocab.tok,
          COALESCE(fa.c, 0) AS ca, COALESCE(fb.c, 0) AS cb,
          ta.n AS na, tb.n AS nb, vsize.v AS v
        FROM pairs p
        CROSS JOIN vocab
        LEFT JOIN freq fa ON fa.lang = p.lang_a AND fa.tok = vocab.tok
        LEFT JOIN freq fb ON fb.lang = p.lang_b AND fb.tok = vocab.tok
        JOIN totals ta ON ta.lang = p.lang_a
        JOIN totals tb ON tb.lang = p.lang_b
        CROSS JOIN vsize
      )
      SELECT lang_a, lang_b,
        ROUND(CAST(SUM(CAST(ROUND(
          (CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 0.5 * v)
            * LOG2(((CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 0.5 * v))
                   / (((CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 0.5 * v)
                       + (CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 0.5 * v)) / 2.0))
            * 0.5
          + (CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 0.5 * v)
            * LOG2(((CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 0.5 * v))
                   / (((CAST(ca AS DOUBLE) + 0.5) / (CAST(na AS DOUBLE) + 0.5 * v)
                       + (CAST(cb AS DOUBLE) + 0.5) / (CAST(nb AS DOUBLE) + 0.5 * v)) / 2.0))
            * 0.5, 12) AS DECIMAL(28,12))) AS DOUBLE), 6) AS js_bits
      FROM grid
      GROUP BY lang_a, lang_b
      ORDER BY lang_a, lang_b
    """.trim))

  /** ASYMMETRIC shingle CONTAINMENT pairs — the sub-document duplicate
    * detector symmetric Jaccard misses: C(A→B) = |shA∩shB| / |shA| is
    * high when A is a quote/extract/near-subset of B even though
    * Jaccard (normalized by the union) stays low — exactly the
    * quotes-of-an-article and page-plus-boilerplate cases a curation
    * pass must catch. One undirected intersection count fans out to
    * both directed containments; declared pairs are C ≥ 0.5, each row
    * carrying the direction (src contained-in dst).
    *
    * Scale notes (100 TB): same shingle equi-join skeleton (and the
    * same hot-shingle skew bound) as `text_jaccard_simpairs`; the
    * banded `text_minhash_lsh` candidates with per-pair exact
    * containment re-rank is the declared scale path — containment's
    * one-sided MinHash estimator biases low for very unequal sizes,
    * so candidates band on the SMALLER side's signature.
    */
  lazy val textContainmentPairs = Q(
    "text_containment_pairs",
    (spark, dir) => {
      import spark.implicits._
      // the quadratic intersection stage is the SAME frame the Jaccard
      // pair table aggregates — read it from the shared memo (r7)
      val docs = Tables.documents(spark, dir)
      val sh = cachedShingles(docs)
      val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val inter = interPairs(docs)
      val ws = inter
        .join(sizes.as("za"), col("d1") === col("za.doc_id"))
        .join(sizes.as("zb"), col("d2") === col("zb.doc_id"))
        .select($"d1", $"d2", $"i", col("za.n").as("n1"), col("zb.n").as("n2"))
      val fwd = ws.select($"d1".as("src"), $"d2".as("dst"), $"i", $"n1".as("n_src"),
        ($"i".cast(DoubleType) / $"n1").cast(DecimalType(18, 6)).as("containment"))
      val rev = ws.select($"d2".as("src"), $"d1".as("dst"), $"i", $"n2".as("n_src"),
        ($"i".cast(DoubleType) / $"n2").cast(DecimalType(18, 6)).as("containment"))
      fwd.unionByName(rev)
        .filter($"containment" >= 0.5)
        .select($"src", $"dst", $"i", $"n_src",
          $"containment".cast(DoubleType).as("containment"))
        .orderBy($"src", $"dst")
    },
    Some(s"""
      WITH ${OracleSql.shingles()}, $shingleInterSql, ws AS (
        SELECT d1, d2, i, za.n AS n1, zb.n AS n2
        FROM inter
        JOIN sizes za ON d1 = za.doc_id
        JOIN sizes zb ON d2 = zb.doc_id
      ), dirp AS (
        SELECT d1 AS src, d2 AS dst, i, n1 AS n_src,
          CAST(CAST(i AS DOUBLE) / n1 AS DECIMAL(18,6)) AS containment
        FROM ws
        UNION ALL
        SELECT d2, d1, i, n2,
          CAST(CAST(i AS DOUBLE) / n2 AS DECIMAL(18,6)) AS containment
        FROM ws
      )
      SELECT src, dst, i, n_src, CAST(containment AS DOUBLE) AS containment
      FROM dirp WHERE containment >= 0.5
      ORDER BY src, dst
    """.trim))

  /** MEDIAN-ABSOLUTE-DEVIATION length outlier gate per language — the
    * ROBUST version of `etl_anomaly_zscore` for corpus curation:
    * mean/stddev gates move when the outliers themselves pollute the
    * moments, while median and MAD are unmoved by any minority of
    * extreme docs (50% breakdown point) — the filter of choice for
    * truncated/concatenated-document detection. Per lang: median
    * length, MAD, and the count beyond the 3-MAD fence. All inputs
    * are integers, so the interpolated medians land on exact binary
    * fractions (k or k.5, MAD fences on k.25 steps) — bit-identical
    * across engines with no decimal guard needed.
    *
    * Scale notes (100 TB): exact per-group percentiles materialize
    * each group (sort-based agg) — fine for per-lang groups here; the
    * 100 TB swap is `approx_percentile` in the same plan shape (the
    * `agg_percentiles_exact` / `_approx` twin discipline). The fence
    * pass is one map-side scan against the broadcast-sized per-lang
    * median table.
    */
  lazy val textMadLengthOutlier = Q(
    "text_mad_length_outlier",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select($"lang", $"n_chars")
      val med = docs.groupBy($"lang")
        .agg(expr("percentile(n_chars, 0.5D)").as("med"))
      val dev = docs.join(broadcast(med), "lang")
        .withColumn("dev", abs($"n_chars" - $"med"))
      val mad = dev.groupBy($"lang")
        .agg(expr("percentile(dev, 0.5D)").as("mad"))
      dev.join(broadcast(mad), "lang")
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_docs"),
          max($"med").cast(DecimalType(18, 6)).cast(DoubleType).as("median_chars"),
          max($"mad").cast(DecimalType(18, 6)).cast(DoubleType).as("mad_chars"),
          sum(when($"dev" > lit(3.0) * $"mad", 1L).otherwise(0L)).as("n_outliers"))
        .orderBy($"lang")
    },
    Some("""
      WITH m AS (
        SELECT lang, quantile_cont(n_chars, 0.5) AS med
        FROM documents GROUP BY lang
      ), d AS (
        SELECT doc.lang, ABS(doc.n_chars - m.med) AS dev
        FROM documents doc JOIN m ON doc.lang = m.lang
      ), md AS (
        SELECT lang, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY lang
      )
      SELECT d.lang, COUNT(*) AS n_docs,
        CAST(CAST(MAX(m.med) AS DECIMAL(18,6)) AS DOUBLE) AS median_chars,
        CAST(CAST(MAX(md.mad) AS DECIMAL(18,6)) AS DOUBLE) AS mad_chars,
        CAST(SUM(CASE WHEN d.dev > 3.0 * md.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM d
      JOIN m ON d.lang = m.lang
      JOIN md ON d.lang = md.lang
      GROUP BY d.lang ORDER BY d.lang
    """.trim))

  /** Per-document character-level Shannon entropy — the gibberish
    * detector token-level stats miss: low entropy flags repetition /
    * keyboard-mash boilerplate, implausibly high entropy flags random
    * noise; both are corpus-quality filter signals.
    *
    * Determinism (§2.0): a naive -Σp·log₂p SUMS DOUBLES in shuffle
    * order — not reproducible. Instead H = log₂(t) - Σ(c·log₂c)/t with
    * each c·log₂c term rounded to DECIMAL(28,8) BEFORE the sum: the
    * per-term rounding is a pure row function (identical in both
    * engines), the decimal sum is exact and order-independent, and the
    * final algebra runs in double on exact inputs. Two map-side-
    * combinable aggs on doc-prefixed keys, no window.
    */
  lazy val textCharEntropy = Q(
    "text_char_entropy",
    (spark, dir) => {
      import spark.implicits._
      val chars = Tables.documents(spark, dir)
        .select($"doc_id", explode(split(lower($"text"), "")).as("ch"))
        .where($"ch" =!= "")
      val c = $"c".cast(DoubleType)
      chars.groupBy($"doc_id", $"ch").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id")
        .agg(
          sum($"c").as("n_chars_seen"),
          count(lit(1)).as("n_distinct_chars"),
          sum((c * log(2.0, c)).cast(DecimalType(28, 8))).as("slg"))
        .select(
          $"doc_id", $"n_chars_seen", $"n_distinct_chars",
          (log(2.0, $"n_chars_seen".cast(DoubleType)) -
            $"slg".cast(DoubleType) / $"n_chars_seen".cast(DoubleType))
            .cast(DecimalType(18, 6)).as("entropy_bits"))
        .orderBy($"doc_id")
    },
    Some("""
      WITH chars AS (
        SELECT doc_id, UNNEST(string_split_regex(lower(text), '')) AS ch
        FROM documents
      ), freq AS (
        SELECT doc_id, ch, COUNT(*) AS c
        FROM chars WHERE ch <> '' GROUP BY doc_id, ch
      ), agg AS (
        SELECT doc_id,
          SUM(c) AS n_chars_seen,
          COUNT(*) AS n_distinct_chars,
          SUM(CAST(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE)) AS DECIMAL(28,8))) AS slg
        FROM freq GROUP BY doc_id
      )
      SELECT doc_id,
        CAST(n_chars_seen AS BIGINT) AS n_chars_seen,
        n_distinct_chars,
        CAST(CAST(log2(CAST(n_chars_seen AS DOUBLE))
          - CAST(slg AS DOUBLE) / CAST(n_chars_seen AS DOUBLE)
          AS DECIMAL(18,6)) AS DOUBLE) AS entropy_bits
      FROM agg ORDER BY doc_id
    """.trim))

  /** Unigram cross-entropy quality proxy — the perplexity-filter stage
    * of a pretraining pipeline (docs whose tokens are improbable under
    * the corpus's own unigram LM are boilerplate/gibberish candidates;
    * CCNet-style filtering uses exactly this score, there with an
    * external LM). Per doc: bits/token under the corpus unigram model,
    * xent = log2(T) − (Σ c_t·log2(cc_t))/n for corpus token total T,
    * per-doc token count c_t, corpus count cc_t.
    *
    * Cross-engine determinism uses the `text_char_entropy` recipe:
    * each c·log₂(cc) term is rounded to DECIMAL(28,8) BEFORE the sum
    * (pure row function → identical in both engines; decimal sum exact
    * and order-independent; final algebra double-on-exact-inputs).
    *
    * Scale notes (100 TB): two token-keyed map-side-combinable aggs,
    * one equi-join of (doc,tok) counts against the vocab-sized model
    * table (broadcastable for real vocabularies), corpus total via a
    * 1-row broadcast frame — no window, no collect.
    */
  /** Per-doc unigram cross-entropy proxy (doc_id, n_tokens, xent_bits) —
    * shared by the declared per-doc row and the CCNet bucket split.
    */
  private def docXentBits(
      spark: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val tok = cachedTokens(Tables.documents(spark, dir)).select(col("doc_id"), col("tok"))
    val model = tok.groupBy(col("tok")).agg(count(lit(1)).as("cc"))
    val total = model.agg(sum(col("cc")).as("t"))
    val docTok = tok.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    docTok
      .join(model, "tok")
      .groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        sum((col("c").cast(DoubleType) * log(2.0, col("cc").cast(DoubleType)))
          .cast(DecimalType(28, 8))).as("slg"))
      .crossJoin(broadcast(total))
      .select(
        col("doc_id"), col("n_tokens"),
        (log(2.0, col("t").cast(DoubleType)) -
          col("slg").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .cast(DecimalType(18, 6)).as("xent_bits"))
  }

  lazy val textPerplexityProxy = Q(
    "text_perplexity_proxy",
    (spark, dir) => {
      import spark.implicits._
      docXentBits(spark, dir).orderBy($"doc_id")
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, tok
        FROM (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
              FROM documents)
        WHERE tok <> ''
      ), model AS (
        SELECT tok, COUNT(*) AS cc FROM tok GROUP BY tok
      ), total AS (
        SELECT SUM(cc) AS t FROM model
      ), doc_tok AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
      ), agg AS (
        SELECT doc_id,
          SUM(c) AS n_tokens,
          SUM(CAST(CAST(c AS DOUBLE) * log2(CAST(cc AS DOUBLE)) AS DECIMAL(28,8))) AS slg
        FROM doc_tok JOIN model USING (tok)
        GROUP BY doc_id
      )
      SELECT doc_id,
        CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(CAST(log2(CAST(t AS DOUBLE))
          - CAST(slg AS DOUBLE) / CAST(n_tokens AS DOUBLE)
          AS DECIMAL(18,6)) AS DOUBLE) AS xent_bits
      FROM agg CROSS JOIN total ORDER BY doc_id
    """.trim))

  /** CCNet-STYLE QUALITY BUCKETS (SURVEY §2 I-sext): per language,
    * split the corpus into head/middle/tail TERCILES of the unigram
    * cross-entropy proxy — the exact curation gate CCNet popularized
    * (keep head, maybe middle, drop tail) and most LLM data pipelines
    * run per language before mixing. Declared output is the per-
    * (lang, bucket) audit: population, mean/min/max proxy score.
    *
    * Deterministic: NTILE over the total order (xent_bits, doc_id) —
    * identical ANSI semantics on both engines; bucket means are
    * decimal-guarded sums (§2.0 rule 7).
    *
    * Scale notes: the scoring pass is `text_perplexity_proxy`'s
    * token-keyed aggregation (map-side combinable, shared via
    * [[docXentBits]]); the NTILE sort partitions BY LANGUAGE — the
    * declared exact semantics; at 100 TB the per-lang sort is the cost,
    * and production CCNet derives the cut points from a sample, the
    * same trade `agg_histogram_equidepth` documents.
    */
  lazy val textCcnetQualityBuckets = Q(
    "text_ccnet_quality_buckets",
    (spark, dir) => {
      import spark.implicits._
      val scored = docXentBits(spark, dir)
        .join(broadcast(Tables.documents(spark, dir).select($"doc_id", $"lang")), "doc_id")
      val wL = Window.partitionBy($"lang").orderBy($"xent_bits", $"doc_id")
      // bucket mean via EXACT integer micro-bits: a double quotient cast
      // to DECIMAL can land on a half-way boundary the two engines round
      // apart (observed at sf0.001); (2s+n) div 2n is half-up rounding
      // in pure BIGINT arithmetic, bit-identical everywhere
      scored
        .withColumn("bucket", ntile(3).over(wL))
        .groupBy($"lang", $"bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          (sum($"xent_bits") * 1000000).cast("long").as("sm"),
          min($"xent_bits").as("min_xent"),
          max($"xent_bits").as("max_xent"))
        .select($"lang", $"bucket", $"n_docs",
          (expr("(2 * sm + n_docs) div (2 * n_docs)").cast(DoubleType) / 1e6)
            .cast(DecimalType(18, 6)).as("avg_xent"),
          $"min_xent", $"max_xent")
        .orderBy($"lang", $"bucket")
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, tok
        FROM (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
              FROM documents)
        WHERE tok <> ''
      ), model AS (
        SELECT tok, COUNT(*) AS cc FROM tok GROUP BY tok
      ), total AS (
        SELECT SUM(cc) AS t FROM model
      ), doc_tok AS (
        SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
      ), agg AS (
        SELECT doc_id,
          SUM(c) AS n_tokens,
          SUM(CAST(CAST(c AS DOUBLE) * log2(CAST(cc AS DOUBLE)) AS DECIMAL(28,8))) AS slg
        FROM doc_tok JOIN model USING (tok)
        GROUP BY doc_id
      ), scored AS (
        SELECT a.doc_id, d.lang,
          CAST(log2(CAST(t AS DOUBLE))
            - CAST(slg AS DOUBLE) / CAST(n_tokens AS DOUBLE)
            AS DECIMAL(18,6)) AS xent_bits
        FROM agg a CROSS JOIN total JOIN documents d ON a.doc_id = d.doc_id
      ), bucketed AS (
        SELECT lang, xent_bits,
          NTILE(3) OVER (PARTITION BY lang ORDER BY xent_bits, doc_id) AS bucket
        FROM scored
      )
      SELECT lang, bucket, COUNT(*) AS n_docs,
        CAST(CAST(CAST((2 * CAST(SUM(xent_bits) * 1000000 AS BIGINT) + COUNT(*))
                       // (2 * COUNT(*)) AS DOUBLE) / 1e6
             AS DECIMAL(18,6)) AS DOUBLE) AS avg_xent,
        CAST(MIN(xent_bits) AS DOUBLE) AS min_xent,
        CAST(MAX(xent_bits) AS DOUBLE) AS max_xent
      FROM bucketed GROUP BY lang, bucket ORDER BY lang, bucket
    """.trim))

  /** Importance-weighted deterministic sampling — quality-weighted
    * corpus downsampling (keep high-quality docs at higher rate), the
    * step between scoring and training-mix assembly. Weight = the
    * stopword-ratio quality gate in [0,1]; a doc is kept iff its md5
    * bucket (pure row function of doc_id) falls below weight·10000, so
    * P(keep) ≈ weight, the decision is reproducible on any cluster
    * layout, and membership never flips on re-runs (same property as
    * `sample_stratified_by_lang`, with a per-ROW rate instead of a
    * per-stratum one). Output: per-lang audit of population, sample
    * size, mean weight (= expected rate) and realized rate.
    *
    * Scale notes (100 TB): weight and bucket are pure row functions —
    * one scan, one tiny groupBy; unsampled rows never shuffle.
    */
  lazy val sampleImportanceWeighted = Q(
    "sample_importance_weighted",
    (spark, dir) => {
      import spark.implicits._
      val stop = Seq("the", "a", "and", "of", "to")
      // weight in [0,1]: min(1, 4·stopword_ratio), rounded to 4dp so the
      // keep threshold compares identical values in both engines —
      // favors natural prose over keyword-mash
      val scored = cachedTokens(Tables.documents(spark, dir))
        .groupBy($"doc_id", $"lang")
        .agg(
          count(lit(1)).as("n_tokens"),
          count(when($"tok".isin(stop: _*), 1)).as("n_stop"))
        .select($"doc_id", $"lang",
          least(lit(1.0), $"n_stop".cast(DoubleType) * 4.0 / $"n_tokens")
            .cast(DecimalType(18, 4)).as("w"))
      val bucket =
        conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
          .cast("long") % 10000
      scored
        .withColumn("keep",
          (bucket < ($"w" * 10000).cast("long")).cast("long"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_total"),
          sum($"keep").as("n_sampled"),
          // exact decimal sum ÷ count in double — AVG(decimal) returns
          // engine-specific types (Spark decimal, DuckDB double), the
          // sum/count form renders identically
          (sum($"w").cast(DoubleType) / count(lit(1)))
            .cast(DecimalType(18, 6)).as("mean_weight"),
          (sum($"keep") * lit(1.0) / count(lit(1))).cast(DecimalType(18, 6))
            .as("realized_rate"))
        .orderBy($"lang")
    },
    Some("""
      WITH scored AS (
        SELECT doc_id, lang,
          CAST(LEAST(1.0, CAST(COUNT(CASE WHEN tok IN ('the','a','and','of','to') THEN 1 END) AS DOUBLE)
            * 4.0 / COUNT(*)) AS DECIMAL(18,4)) AS w
        FROM (SELECT doc_id, lang, UNNEST(string_split(lower(text), ' ')) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY doc_id, lang
      ), flagged AS (
        SELECT lang, w,
          CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10000
               < CAST(w * 10000 AS BIGINT) THEN 1 ELSE 0 END AS keep
        FROM scored
      )
      SELECT lang,
        COUNT(*) AS n_total,
        CAST(SUM(keep) AS BIGINT) AS n_sampled,
        CAST(CAST(CAST(SUM(w) AS DOUBLE) / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS mean_weight,
        CAST(CAST(SUM(keep) * 1.0 / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS realized_rate
      FROM flagged
      GROUP BY lang ORDER BY lang
    """.trim))

  /** Near-dup dedup END-TO-END — candidates → components → the dedup
    * DECISION: over the `en` slice, exact Jaccard≥0.5 pairs feed the
    * pointer-jumping component clustering, every component keeps its
    * min-doc_id representative, and the declared output is the
    * corpus-curation summary a pipeline signs off on: docs in, docs in
    * dup groups, group count, keepers, dropped. Composes `jaccardPairs`
    * and `connectedComponents` — the same building blocks as the pair
    * and component rows, proving they chain into one decision pass.
    *
    * Scale notes (100 TB): the slice filter pushes to the scan; the
    * pair/component stages are the CC row's (pair-table-only joins,
    * O(log d) rounds); the summary is one broadcast-sized aggregate.
    * The DuckDB oracle recomputes the identical decision through a
    * recursive transitive-closure CTE — a different algorithm agreeing
    * on every count.
    */
  lazy val pipelineNearDedup = Q(
    "pipeline_near_dedup",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir).where($"lang" === "en")
      // Jaccard is PAIR-LOCAL (a pair's similarity doesn't depend on any
      // other document), so the en-only pair table IS the shared
      // full-corpus pair table restricted to en endpoints — reusing the
      // memoized quadratic stage instead of re-running shingles + the
      // shingle self-join on the filtered corpus (measured ~2.4 → ~1.1 s).
      // The component fixpoint still runs on the restricted edges: a
      // non-en bridge doc must NOT merge two en groups here.
      val enIds = docs.select($"doc_id")
      val pairsEn = corpusJaccardPairs(spark, dir)
        .join(broadcast(enIds.select($"doc_id".as("d1"))), Seq("d1"), "left_semi")
        .join(broadcast(enIds.select($"doc_id".as("d2"))), Seq("d2"), "left_semi")
      val comp = connectedComponents(pairsEn)
      val groups = comp.groupBy($"comp").agg(count(lit(1)).as("gsz"))
      val summary = docs
        .join(comp.select($"id".as("doc_id"), $"comp"), Seq("doc_id"), "left")
        .join(broadcast(groups), Seq("comp"), "left")
        .agg(
          count(lit(1)).as("n_docs"),
          count($"comp").as("n_in_dup_groups"),
          countDistinct($"comp").as("n_groups"))
        .select(
          $"n_docs", $"n_in_dup_groups", $"n_groups",
          ($"n_docs" - $"n_in_dup_groups" + $"n_groups").as("n_keepers"),
          ($"n_in_dup_groups" - $"n_groups").as("n_dropped"))
        .orderBy($"n_docs")
      summary
    },
    Some(s"""
      WITH RECURSIVE endocs AS (
        SELECT doc_id, text FROM documents WHERE lang = 'en'
      ), ${OracleSql.shingles("endocs")}, $jaccardPairsSql, ${componentReachSql("edges")}, comp AS (
        SELECT a AS doc_id, MIN(b) AS comp FROM reach GROUP BY a
      )
      SELECT COUNT(*) AS n_docs,
        COUNT(comp) AS n_in_dup_groups,
        COUNT(DISTINCT comp) AS n_groups,
        COUNT(*) - COUNT(comp) + COUNT(DISTINCT comp) AS n_keepers,
        COUNT(comp) - COUNT(DISTINCT comp) AS n_dropped
      FROM endocs LEFT JOIN comp USING (doc_id)
    """.trim))

  /** Vocabulary coverage curve (SURVEY §2 I-sext): share of the corpus's
    * token mass covered by the top-k vocabulary at k ∈ {10, 100, 1000} —
    * the tokenizer-budget / OOV-rate planning number (a steep curve means
    * a small vocab suffices; a flat one predicts heavy UNK traffic).
    *
    * Scale notes: term frequencies map-side combine (vocab ≪ corpus —
    * the only fact-scale stage); rank and cumulative mass are windows
    * over the BOUNDED vocab table (the freq-table trick
    * `win_rank_global_scalable` establishes), and the k-thresholds join
    * is vocab×3. Coverage is an exact-BIGINT cumulative ratio.
    */
  val textVocabCoverage = Q(
    "text_vocab_coverage",
    (spark, dir) => {
      import spark.implicits._
      val freq = cachedTokens(Tables.documents(spark, dir))
        .groupBy($"tok").agg(count(lit(1)).as("cnt"))
      val ord = Window.orderBy($"cnt".desc, $"tok")
      val ranked = freq
        .withColumn("rank", row_number().over(ord))
        .withColumn("cum",
          sum($"cnt").over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val tot = freq.agg(sum($"cnt").as("total"), count(lit(1)).as("vocab_size"))
      val ks = spark.range(1)
        .select(explode(array(lit(10L), lit(100L), lit(1000L))).as("k"))
      broadcast(ks)
        .join(ranked, $"rank" <= $"k")
        .groupBy($"k")
        .agg(max($"rank").as("terms_used"), max($"cum").as("cum"))
        .crossJoin(broadcast(tot))
        .select(
          $"k", $"terms_used",
          round($"cum".cast(DoubleType) / $"total", 6).as("coverage"),
          $"vocab_size")
        .orderBy($"k")
    },
    Some("""
      WITH freq AS (
        SELECT tok, COUNT(*) AS cnt
        FROM (SELECT UNNEST(string_split(lower(text), ' ')) AS tok FROM documents)
        WHERE tok <> ''
        GROUP BY 1
      ), ranked AS (
        SELECT tok, cnt,
          ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rank,
          CAST(SUM(cnt) OVER (ORDER BY cnt DESC, tok
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        FROM freq
      ), tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total, COUNT(*) AS vocab_size FROM freq
      ), ks AS (
        SELECT UNNEST([10, 100, 1000]) AS k
      )
      SELECT CAST(k AS BIGINT) AS k,
        CAST(MAX(rank) AS BIGINT) AS terms_used,
        ROUND(CAST(MAX(cum) AS DOUBLE) / total, 6) AS coverage,
        vocab_size
      FROM ks JOIN ranked ON rank <= k, tot
      GROUP BY k, total, vocab_size
      ORDER BY k
    """.trim))

  /** Class-balanced downsampling to the minority class (SURVEY §2
    * I-sext): equalize per-language document counts at min(class size) —
    * the bias-control sampler (`sample_stratified_by_lang` keeps fixed
    * fractions; this one equalizes absolute counts, the classifier-
    * training discipline). Selection is a deterministic md5(doc_id) rank
    * within language — reproducible on any engine and partitioning,
    * never `df.sample`.
    *
    * Scale notes: the per-language rank window shuffles once on lang;
    * the cap is a broadcast 1-row frame derived from the bounded
    * lang-count table. At 100 TB the exact rank window over a dominant
    * language becomes the cost center — the documented swap is the
    * md5-bucket-threshold form (`sample_hash_split`'s recipe) at
    * cap/n_total precision, identical plan otherwise.
    */
  val sampleClassBalanced = Q(
    "sample_class_balanced",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      val cap = docs.groupBy($"lang").agg(count(lit(1)).as("c"))
        .agg(min($"c").as("cap"))
      val wr = Window.partitionBy($"lang")
        .orderBy(md5(concat($"lang", lit(":"), $"doc_id".cast("string"))), $"doc_id")
      docs
        .select($"lang", $"doc_id", $"n_chars")
        .withColumn("rn", row_number().over(wr))
        .crossJoin(broadcast(cap))
        .withColumn("keep", ($"rn" <= $"cap").cast("long"))
        .groupBy($"lang")
        .agg(
          count(lit(1)).as("n_total"),
          sum($"keep").as("n_kept"),
          (sum($"n_chars" * $"keep").cast(DoubleType) /
            sum($"keep")).cast(DecimalType(18, 6)).as("mean_chars_kept"))
        .orderBy($"lang")
    },
    Some("""
      WITH ranked AS (
        SELECT lang, doc_id, n_chars,
          ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY md5(lang || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
      ), cap AS (
        SELECT MIN(c) AS cap
        FROM (SELECT COUNT(*) AS c FROM documents GROUP BY lang)
      )
      SELECT lang,
        COUNT(*) AS n_total,
        CAST(SUM(CASE WHEN rn <= cap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(CAST(CAST(SUM(CASE WHEN rn <= cap THEN n_chars ELSE 0 END) AS DOUBLE)
             / SUM(CASE WHEN rn <= cap THEN 1 ELSE 0 END) AS DECIMAL(18,6)) AS DOUBLE)
          AS mean_chars_kept
      FROM ranked, cap
      GROUP BY lang
      ORDER BY lang
    """.trim))

  /** Chronological train/val/test holdout (70/15/15) per user over the
    * event stream (SURVEY §2 I-sext) — the TIME-based split discipline
    * next to `sample_hash_split`'s random one: validation data lies
    * strictly after training data for every entity, the temporal-leakage
    * control forecasting and recommendation training require. The split
    * rule is exact integer arithmetic (rn·20 vs cnt·14 / cnt·17), so
    * boundaries are reproducible on any engine.
    *
    * Scale notes: one shuffle on user_id; rank + count share the same
    * window partition. The declared output is the per-split audit
    * (counts, user coverage, time range), not the split rows themselves.
    */
  /** GROUPED K-FOLD assignment (SURVEY §2 I-sext) — the leakage-safe
    * split axis the family was missing: `sample_hash_split` splits ROWS,
    * `sample_time_holdout` splits TIME; behavioral models need to split
    * USERS (every event of a user lands in the same fold, or the model
    * memorizes its own test users). Fold = md5(user_id) bucket mod 5 —
    * a pure function of the group key, so membership is reproducible on
    * any engine/partitioning and two events of one user can NEVER land
    * in different folds (the GroupKFold contract, spec-asserted by
    * construction: fold is functionally dependent on user_id). Declared
    * output is the per-fold audit: users, events, exact value mass.
    *
    * Scale notes: one fact scan, one map-side-combinable rollup keyed
    * on the 5-row fold table; countDistinct(user) is the only two-phase
    * part. No window, no join.
    */
  val sampleGroupKfold = Q(
    "sample_group_kfold",
    (spark, dir) => {
      import spark.implicits._
      val fold = conv(substring(md5($"user_id".cast("string")), 1, 4), 16, 10)
        .cast("long") % 5
      Tables.events(spark, dir)
        .withColumn("fold", fold)
        .groupBy($"fold")
        .agg(
          countDistinct($"user_id").as("n_users"),
          count(lit(1)).as("n_events"),
          sum(Tables.dec($"value", 18, 6)).cast(DoubleType)
            .cast(DecimalType(18, 6)).as("sum_value"))
        .orderBy($"fold")
    },
    Some("""
      SELECT fold,
        COUNT(DISTINCT user_id) AS n_users,
        COUNT(*) AS n_events,
        CAST(CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
             AS DECIMAL(18,6)) AS DOUBLE) AS sum_value
      FROM (
        SELECT user_id, value,
          CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4) AS INTEGER) % 5 AS fold
        FROM events)
      GROUP BY fold ORDER BY fold
    """.trim))

  val sampleTimeHoldout = Q(
    "sample_time_holdout",
    (spark, dir) => {
      import spark.implicits._
      val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val wAll = Window.partitionBy($"user_id")
      Tables.events(spark, dir)
        .select($"user_id", $"ts", $"event_id")
        .withColumn("rn", row_number().over(wOrd))
        .withColumn("cnt", count(lit(1)).over(wAll))
        .withColumn("split",
          when($"rn" * 20 <= $"cnt" * 14, "train")
            .when($"rn" * 20 <= $"cnt" * 17, "val")
            .otherwise("test"))
        .groupBy($"split")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct($"user_id").as("n_users"),
          min($"ts").as("from_ts"),
          max($"ts").as("to_ts"))
        .orderBy($"split")
    },
    Some("""
      WITH t AS (
        SELECT user_id, ts, event_id,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
          COUNT(*) OVER (PARTITION BY user_id) AS cnt
        FROM events
      ), s AS (
        SELECT user_id, ts,
          CASE WHEN rn * 20 <= cnt * 14 THEN 'train'
               WHEN rn * 20 <= cnt * 17 THEN 'val'
               ELSE 'test' END AS split
        FROM t
      )
      SELECT split,
        COUNT(*) AS n_events,
        COUNT(DISTINCT user_id) AS n_users,
        MIN(ts) AS from_ts,
        MAX(ts) AS to_ts
      FROM s
      GROUP BY split
      ORDER BY split
    """.trim))

  /** LSH band-tuning audit (SURVEY §2 I-sext): the banded-MinHash
    * capture probability 1−(1−s^r)^b evaluated against the corpus's OWN
    * exact-Jaccard pair distribution, for the deployed 16×3 config and
    * two alternatives — the design table read before choosing (b, r):
    * which similarity band each config actually catches on THIS corpus.
    *
    * Powers are explicit SQUARING CHAINS, never pow(): libm pow is not
    * ulp-stable across engines, while IEEE multiplication of identical
    * operands is bit-exact everywhere. Terms round to 12 dp before the
    * exact decimal mean (the standard recipe).
    *
    * Scale notes: rides the cached exact pair table (no new quadratic
    * work); the S-curve algebra and band aggregation are pair-table
    * sized. The stack() unpivot is row-local.
    */
  val textLshScurveAudit = Q(
    "text_lsh_scurve_audit",
    (spark, dir) => {
      import spark.implicits._
      val s = $"s"
      val base = corpusJaccardPairs(spark, dir)
        .select($"jaccard".cast(DoubleType).as("s"))
        .select(s,
          least(floor(s * 10), lit(9.0)).cast("long").as("band10"),
          (lit(1.0) - s * s * s).as("ta"),            // 1 - s^3  (16 bands × 3 rows)
          (lit(1.0) - (s * s * s) * (s * s * s)).as("tb"), // 1 - s^6  (8 × 6)
          (lit(1.0) - s * s).as("tc"))                // 1 - s^2  (24 × 2)
        .select($"band10",
          (($"ta" * $"ta") * ($"ta" * $"ta")).as("ta4"),
          (($"tb" * $"tb") * ($"tb" * $"tb")).as("tb4"),
          (($"tc" * $"tc") * ($"tc" * $"tc")).as("tc4"))
        .select($"band10",
          (lit(1.0) - ($"ta4" * $"ta4") * ($"ta4" * $"ta4")).as("c16_3"),
          (lit(1.0) - $"tb4" * $"tb4").as("c8_6"),
          (lit(1.0) - (($"tc4" * $"tc4") * ($"tc4" * $"tc4")) * ($"tc4" * $"tc4")).as("c24_2"))
      base
        .select($"band10",
          expr("stack(3, 16, 3, c16_3, 8, 6, c8_6, 24, 2, c24_2) as (bands, rws, cap)"))
        .groupBy($"bands", $"rws", $"band10")
        .agg(
          count(lit(1)).as("n_pairs"),
          round(sum(round($"cap", 12).cast(DecimalType(28, 12))).cast(DoubleType) /
            count(lit(1)), 6).as("mean_capture"))
        .select($"bands", $"rws", ($"band10" / 10.0).as("band_lo"),
          $"n_pairs", $"mean_capture")
        .orderBy($"bands", $"rws", $"band_lo")
    },
    Some(s"""
      WITH ${OracleSql.shingles()}, sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
      inter AS (
        SELECT s1.doc_id AS d1, s2.doc_id AS d2, COUNT(*) AS i
        FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
        GROUP BY 1, 2)
      , pairs AS (
        SELECT CAST(CAST(CAST(i AS DOUBLE) / (za.n + zb.n - i) AS DECIMAL(18,6)) AS DOUBLE) AS s
        FROM inter
        JOIN sizes za ON d1 = za.doc_id
        JOIN sizes zb ON d2 = zb.doc_id
        WHERE CAST(CAST(i AS DOUBLE) / (za.n + zb.n - i) AS DECIMAL(18,6)) >= 0.5
      ), step1 AS (
        SELECT CAST(LEAST(FLOOR(s * 10), 9) AS BIGINT) AS band10,
          (1.0 - s * s * s) AS ta,
          (1.0 - (s * s * s) * (s * s * s)) AS tb,
          (1.0 - s * s) AS tc
        FROM pairs
      ), step2 AS (
        SELECT band10,
          ((ta * ta) * (ta * ta)) AS ta4,
          ((tb * tb) * (tb * tb)) AS tb4,
          ((tc * tc) * (tc * tc)) AS tc4
        FROM step1
      ), caps AS (
        SELECT band10,
          (1.0 - (ta4 * ta4) * (ta4 * ta4)) AS c16_3,
          (1.0 - tb4 * tb4) AS c8_6,
          (1.0 - ((tc4 * tc4) * (tc4 * tc4)) * (tc4 * tc4)) AS c24_2
        FROM step2
      ), stacked AS (
        SELECT band10, 16 AS bands, 3 AS rws, c16_3 AS cap FROM caps
        UNION ALL SELECT band10, 8, 6, c8_6 FROM caps
        UNION ALL SELECT band10, 24, 2, c24_2 FROM caps
      )
      SELECT CAST(bands AS BIGINT) AS bands, CAST(rws AS BIGINT) AS rws,
        band10 / 10.0 AS band_lo,
        COUNT(*) AS n_pairs,
        ROUND(CAST(SUM(CAST(ROUND(cap, 12) AS DECIMAL(28,12))) AS DOUBLE)
              / COUNT(*), 6) AS mean_capture
      FROM stacked
      GROUP BY bands, rws, band10
      ORDER BY bands, rws, band_lo
    """.trim))

  /** Corpus novelty curve (SURVEY §2 I-sext): per md5-ordered ingest
    * batch, the share of its distinct shingles never seen in any earlier
    * batch — the redundancy-growth audit a data buyer reads: a
    * flattening curve means new batches are mostly repeats (diminishing
    * returns). Batch assignment is deterministic md5 bucketing, so the
    * "ingest order" is reproducible on any engine.
    *
    * Scale notes: rides the cached shingle relation (no new shingle
    * pass); first-batch per shingle is one min-aggregation keyed on the
    * shingle (map-side combinable), and the per-batch ratio is exact
    * BIGINT arithmetic on the 8-row batch table.
    */
  val textNgramNoveltyRate = Q(
    "text_ngram_novelty_rate",
    (spark, dir) => {
      import spark.implicits._
      val sh = cachedShingles(Tables.documents(spark, dir))
      // ONE shingle-keyed exchange (r13): per shingle, the distinct batch
      // set and its min come out of a single aggregation; the old shape
      // computed the (shingle, batch) distinct TWICE (once for the
      // first-batch agg, once for the join probe) plus a shingle-keyed
      // join — collect_set IS the distinct, min over raw batches IS the
      // first batch.
      val perShingle = sh
        .select($"shingle",
          (conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
            .cast("long") % 8).as("batch"))
        .groupBy($"shingle")
        .agg(min($"batch").as("fb"), collect_set($"batch").as("bs"))
      perShingle
        .select($"fb", explode($"bs").as("batch"))
        .groupBy($"batch")
        .agg(
          count(lit(1)).as("n_shingles"),
          sum(when($"fb" === $"batch", 1L).otherwise(0L)).as("n_novel"))
        .select($"batch", $"n_shingles", $"n_novel",
          round($"n_novel".cast(DoubleType) / $"n_shingles", 6).as("novelty_rate"))
        .orderBy($"batch")
    },
    Some(s"""
      WITH ${OracleSql.shingles()}, pres AS (
        SELECT DISTINCT shingle,
          ${OracleSql.batchKey("doc_id")} AS batch
        FROM sh
      ), firstb AS (
        SELECT shingle, MIN(batch) AS fb FROM pres GROUP BY 1
      )
      SELECT CAST(batch AS BIGINT) AS batch,
        COUNT(*) AS n_shingles,
        CAST(SUM(CASE WHEN fb = batch THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        ROUND(CAST(SUM(CASE WHEN fb = batch THEN 1 ELSE 0 END) AS DOUBLE)
              / COUNT(*), 6) AS novelty_rate
      FROM pres JOIN firstb USING (shingle)
      GROUP BY batch
      ORDER BY batch
    """.trim))

  /** RAKE keyword extraction (SURVEY §2 I-sext): corpus top-10
    * keyphrases by the classic degree/frequency score (Rose et al.) —
    * the unsupervised keyword baseline. The token stream splits into
    * candidate phrases at the corpus's stopword markers (rn-diff
    * islands, the gaps-and-islands recipe); each word scores
    * degree/freq where degree sums the lengths of every phrase the word
    * appears in; a phrase scores the sum of its word scores.
    *
    * Scale notes: islands and phrase lengths are per-doc windows (one
    * doc-keyed shuffle); the word-score table is vocab-sized and
    * broadcast back; phrase assembly is a pos-sorted collect bounded by
    * phrase length; top-10 is TakeOrderedAndProject. 9 dp term rounding
    * + decimal sums keep scores engine- and partition-independent.
    */
  val textRakeKeywords = Q(
    "text_rake_keywords",
    (spark, dir) => {
      import spark.implicits._
      val stop = Seq("the", "a", "and", "of", "value", "data")
      val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
      val nonstop = cachedTokens(Tables.documents(spark, dir))
        .where(!$"tok".isin(stop: _*))
        .withColumn("rn", row_number().over(wDoc))
        .withColumn("grp", $"pos" - $"rn")
      val wGrp = Window.partitionBy($"doc_id", $"grp")
      // two consumers (word-score agg + phrase assembly) share the
      // doc-keyed exchange below the windows — AQE stage reuse dedupes
      // it at runtime (r13: an explicit lineage cut here measured SLOWER,
      // 1.00 s → 1.27 s, by serializing the consumers into extra jobs)
      val withLen = nonstop.withColumn("plen", count(lit(1)).over(wGrp))
      val wordScore = withLen.groupBy($"tok")
        .agg(count(lit(1)).as("freq"), sum($"plen").as("degree"))
        .select($"tok", ($"degree".cast(DoubleType) / $"freq").as("wscore"))
      val phraseScores = withLen
        .join(broadcast(wordScore), "tok")
        .groupBy($"doc_id", $"grp")
        .agg(
          array_join(
            transform(array_sort(collect_list(struct($"pos", $"tok"))), x => x("tok")),
            " ").as("phrase"),
          sum(round($"wscore", 9).cast(DecimalType(28, 9))).as("score"))
      phraseScores
        .groupBy($"phrase")
        .agg(
          count(lit(1)).as("n_occurrences"),
          round(max($"score").cast(DoubleType), 6).as("score"))
        .orderBy($"score".desc, $"phrase")
        .limit(10)
    },
    Some(s"""
      WITH ${OracleSql.tokens()}, ns AS (
        SELECT doc_id, pos, tok,
          ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        FROM tok
        WHERE tok NOT IN ('the','a','and','of','value','data')
      ), gl AS (
        SELECT doc_id, pos, tok, pos - rn AS grp,
          COUNT(*) OVER (PARTITION BY doc_id, pos - rn) AS plen
        FROM ns
      ), ws AS (
        SELECT tok, COUNT(*) AS freq, CAST(SUM(plen) AS BIGINT) AS degree
        FROM gl GROUP BY 1
      ), scored AS (
        SELECT gl.doc_id, gl.grp,
          string_agg(gl.tok, ' ' ORDER BY gl.pos) AS phrase,
          SUM(CAST(ROUND(CAST(degree AS DOUBLE) / freq, 9) AS DECIMAL(28,9))) AS score
        FROM gl JOIN ws USING (tok)
        GROUP BY 1, 2
      )
      SELECT phrase, COUNT(*) AS n_occurrences,
        ROUND(CAST(MAX(score) AS DOUBLE), 6) AS score
      FROM scored
      GROUP BY phrase
      ORDER BY score DESC, phrase
      LIMIT 10
    """.trim))

  /** Heaps'-law vocabulary growth (SURVEY §2 I-sept): cumulative
    * distinct-term count V vs cumulative token mass n over the
    * md5-ordered ingest batches (the novelty row's batch discipline),
    * with the log-log OLS fit V ≈ K·nᵝ. β is the corpus-diversity
    * exponent a tokenizer/vocab budget is sized against (β→0 = closed
    * vocabulary, β→1 = unbounded churn) — the GROWTH companion to
    * `text_zipf_slope`'s static rank law and `text_vocab_coverage`'s
    * top-k mass. The declared output is the 8-point curve with the
    * fitted (beta, ln_k, r2) on every row.
    *
    * Scale notes: per-batch token mass and first-batch-per-term are
    * map-side-combinable aggs (vocab ≪ corpus); cumsums and the OLS
    * ride the bounded 8-row batch frame with 12 dp ln-term rounding +
    * exact decimal moments (§2.0 rule 7). exp() is never taken — the
    * intercept is declared in ln space (libm exp is not cross-engine
    * ulp-stable; ln of exact decimal ratios is).
    */
  val textHeapsLaw = Q(
    "text_heaps_law",
    (spark, dir) => {
      import spark.implicits._
      val tok = cachedTokens(Tables.documents(spark, dir))
        .select($"tok",
          (conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
            .cast("long") % 8).as("batch"))
      val mass = tok.groupBy($"batch").agg(count(lit(1)).as("toks"))
      val novel = tok.groupBy($"tok").agg(min($"batch").as("fb"))
        .groupBy($"fb".as("batch")).agg(count(lit(1)).as("novel"))
      val wCum = Window.orderBy($"batch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val curve = mass.join(novel, Seq("batch"), "left")
        .select($"batch", $"toks", coalesce($"novel", lit(0L)).as("novel"))
        .withColumn("cum_tokens", sum($"toks").over(wCum))
        .withColumn("cum_vocab", sum($"novel").over(wCum))
        .select($"batch", $"cum_tokens", $"cum_vocab",
          round(log($"cum_tokens".cast(DoubleType)), 12).as("lx"),
          round(log($"cum_vocab".cast(DoubleType)), 12).as("ly"))
      val d = (c: org.apache.spark.sql.Column) => c.cast(DoubleType)
      val fit = curve.agg(
        count(lit(1)).as("n"),
        sum($"lx".cast(DecimalType(28, 12))).as("sx"),
        sum($"ly".cast(DecimalType(28, 12))).as("sy"),
        sum(round($"lx" * $"ly", 12).cast(DecimalType(28, 12))).as("sxy"),
        sum(round($"lx" * $"lx", 12).cast(DecimalType(28, 12))).as("sxx"),
        sum(round($"ly" * $"ly", 12).cast(DecimalType(28, 12))).as("syy"))
        .select($"n", d($"sx").as("sx"), d($"sy").as("sy"),
          d($"sxy").as("sxy"), d($"sxx").as("sxx"), d($"syy").as("syy"))
        .select($"n", $"sx", $"sy", $"sxx", $"syy", $"sxy",
          (($"n" * $"sxy" - $"sx" * $"sy") /
            ($"n" * $"sxx" - $"sx" * $"sx")).as("beta"))
        .select(
          round($"beta", 6).as("beta"),
          round(($"sy" - $"beta" * $"sx") / $"n", 6).as("ln_k"),
          round(($"n" * $"sxy" - $"sx" * $"sy") * ($"n" * $"sxy" - $"sx" * $"sy") /
            (($"n" * $"sxx" - $"sx" * $"sx") * ($"n" * $"syy" - $"sy" * $"sy")), 6)
            .as("r2"))
      curve
        .crossJoin(broadcast(fit))
        .select($"batch", $"cum_tokens", $"cum_vocab", $"beta", $"ln_k", $"r2")
        .orderBy($"batch")
    },
    Some(s"""
      WITH tok AS (
        SELECT t AS tok,
          ${OracleSql.batchKey("doc_id")} AS batch
        FROM (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS t
              FROM documents)
        WHERE t <> ''
      ), mass AS (
        SELECT batch, COUNT(*) AS toks FROM tok GROUP BY 1
      ), novel AS (
        SELECT fb AS batch, COUNT(*) AS novel
        FROM (SELECT tok, MIN(batch) AS fb FROM tok GROUP BY 1)
        GROUP BY fb
      ), curve AS (
        SELECT batch, cum_tokens, cum_vocab,
          ROUND(LN(CAST(cum_tokens AS DOUBLE)), 12) AS lx,
          ROUND(LN(CAST(cum_vocab AS DOUBLE)), 12) AS ly
        FROM (
          SELECT m.batch,
            CAST(SUM(m.toks) OVER (ORDER BY m.batch
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens,
            CAST(SUM(COALESCE(n.novel, 0)) OVER (ORDER BY m.batch
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_vocab
          FROM mass m LEFT JOIN novel n USING (batch))
      ), mom AS (
        SELECT COUNT(*) AS n,
          CAST(SUM(CAST(lx AS DECIMAL(28,12))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(ly AS DECIMAL(28,12))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(ROUND(lx * ly, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
          CAST(SUM(CAST(ROUND(lx * lx, 12) AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
          CAST(SUM(CAST(ROUND(ly * ly, 12) AS DECIMAL(28,12))) AS DOUBLE) AS syy
        FROM curve
      ), fit AS (
        SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta, *
        FROM mom
      )
      SELECT CAST(batch AS BIGINT) AS batch, cum_tokens, cum_vocab,
        ROUND(beta, 6) AS beta,
        ROUND((sy - beta * sx) / n, 6) AS ln_k,
        ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
          / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      FROM curve, fit
      ORDER BY batch
    """.trim))

  /** Language-ID confusion matrix (SURVEY §2 I-sept) — the EVALUATION of
    * `text_langid_ngram` against the corpus's labeled `lang` column:
    * one cell per (true, predicted) pair plus the overall accuracy on
    * every row. The langid row produces predictions; this row is the
    * quality gate a pipeline actually routes on (per-language recall
    * decides whether the cheap n-gram filter may gate ingestion for
    * that language or must fall through to a real classifier).
    *
    * Scale notes: same fact-scale token aggregation as the langid row
    * (map-side combinable marker counts per doc), then the confusion
    * rollup is a ≤ |langs|² bounded agg; accuracy is an exact BIGINT
    * ratio. Tie-break mirrors langid exactly (first alphabetical
    * language at the best score).
    */
  val textLangidConfusion = Q(
    "text_langid_confusion",
    (spark, dir) => {
      import spark.implicits._
      val pred = langScores(cachedTokens(Tables.documents(spark, dir)))
        .withColumn("best_score", langBestScore)
        .select($"doc_id", langPred.as("pred_lang"))
      val cells = Tables.documents(spark, dir).select($"doc_id", $"lang")
        .join(pred, "doc_id")
        .groupBy($"lang", $"pred_lang")
        .agg(count(lit(1)).as("n"))
      val acc = cells.agg(
        round(sum(when($"lang" === $"pred_lang", $"n").otherwise(0L))
          .cast(DoubleType) / sum($"n"), 6).as("accuracy"))
      cells.crossJoin(broadcast(acc)).orderBy($"lang", $"pred_lang")
    },
    Some(s"""
      WITH scored AS (
        SELECT doc_id,
          $langScoresSql
        FROM (SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
              FROM documents)
        WHERE tok <> ''
        GROUP BY doc_id
      ), pred AS (
        SELECT doc_id,
          CASE GREATEST(score_de, score_en, score_es, score_fr, score_zh)
            WHEN score_de THEN 'de'
            WHEN score_en THEN 'en'
            WHEN score_es THEN 'es'
            WHEN score_fr THEN 'fr'
            WHEN score_zh THEN 'zh'
            ELSE '??' END AS pred_lang
        FROM scored
      ), cells AS (
        SELECT lang, pred_lang, COUNT(*) AS n
        FROM documents JOIN pred USING (doc_id)
        GROUP BY 1, 2
      ), acc AS (
        SELECT ROUND(CAST(SUM(CASE WHEN lang = pred_lang THEN n ELSE 0 END) AS DOUBLE)
          / SUM(n), 6) AS accuracy
        FROM cells
      )
      SELECT lang, pred_lang, n, accuracy
      FROM cells, acc
      ORDER BY lang, pred_lang
    """.trim))

  /** Cross-source shingle overlap (SURVEY §2 I-sept) — the PROVENANCE
    * duplication matrix: for the top source pairs, what share of source
    * A's distinct 3-gram shingles also appear in source B? The
    * corpus-curation question the DOC-level dedup rows never answer —
    * "is crawl X already substantially inside dump Y?" decides whether
    * a source earns its ingest cost at all (and directed containment
    * catches the subset case symmetric Jaccard hides). Top-20 directed
    * pairs by overlap share with deterministic tiebreaks.
    *
    * Scale notes (100 TB): rides the row-local shingle construction
    * (zero-shuffle 3-gram formation), then ONE distinct over (source,
    * shingle) — cardinality bounded by corpus tokens, shuffled on the
    * shingle key — and a shingle-keyed co-partitioned self-join whose
    * output is source-pair bounded. Sizes broadcast back. Exact BIGINT
    * ratio at 6 dp.
    */
  val textSourceOverlapMatrix = Q(
    "text_source_overlap_matrix",
    (spark, dir) => {
      import spark.implicits._
      val docs = Tables.documents(spark, dir)
      // ONE shingle-keyed shuffle total (r8 — the r7 shape distinct-ed
      // (source, shingle) then self-joined on shingle, re-exchanging the
      // big relation twice): collect each shingle's source set (bounded
      // by #sources), emit singles + directed pairs row-locally, and a
      // single bounded count agg yields per-source sizes AND shared
      // counts; the ≤ sources² cell table is lineage-cut. A hot shingle
      // costs its (≤ sources²) local fan-out, never a join blowup.
      // read the memoized per-doc shingle relation (r13): this was the
      // one declared consumer still re-running the tokenize + 3-gram
      // explode instead of hitting the shared cache every other shingle
      // row rides
      val cells = cachedShingles(docs)
        .join(docs.select($"doc_id", $"source"), "doc_id")
        .groupBy($"shingle").agg(collect_set($"source").as("srcs"))
        .select(explode(expr(
          """concat(
            |  transform(srcs, a -> struct(a AS a_source, CAST(NULL AS STRING) AS b_source)),
            |  flatten(transform(srcs, a ->
            |    transform(filter(srcs, b -> b != a), b ->
            |      struct(a AS a_source, b AS b_source)))))""".stripMargin)).as("pr"))
        .groupBy($"pr.a_source".as("a_source"), $"pr.b_source".as("b_source"))
        .agg(count(lit(1)).as("c"))
        .transform(graft.Checkpoints.cut)
      val sizes = cells.where($"b_source".isNull)
        .select($"a_source", $"c".as("n_shingles"))
      cells.where($"b_source".isNotNull)
        .select($"a_source", $"b_source", $"c".as("n_shared"))
        .join(broadcast(sizes), "a_source")
        .select($"a_source", $"b_source", $"n_shared",
          round($"n_shared".cast(DoubleType) / $"n_shingles", 6).as("overlap_frac"))
        .orderBy($"overlap_frac".desc, $"a_source", $"b_source")
        .limit(20)
    },
    Some(s"""
      WITH ${OracleSql.tokens()}, ss AS (
        ${OracleSql.trigrams("DISTINCT d.source")}
        JOIN documents d ON a.doc_id = d.doc_id
      ), sizes AS (
        SELECT source, COUNT(*) AS n_shingles FROM ss GROUP BY 1
      ), inter AS (
        SELECT x.source AS a_source, y.source AS b_source, COUNT(*) AS n_shared
        FROM ss x JOIN ss y ON x.shingle = y.shingle AND x.source <> y.source
        GROUP BY 1, 2
      )
      SELECT a_source, b_source, n_shared,
        ROUND(CAST(n_shared AS DOUBLE) / n_shingles, 6) AS overlap_frac
      FROM inter JOIN sizes ON a_source = sizes.source
      ORDER BY overlap_frac DESC, a_source, b_source
      LIMIT 20
    """.trim))
}
