package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Num, QueryPack, Ranks, Tables}
import graft.functions.Fnv64

/** Text-analysis operators over `documents` (builder-prompt training-data
  * ops): token counting, quality scoring, language ID, fingerprinting.
  * All pure column expressions (codegen'd) — a 100 TB text scan stays
  * map-only with zero shuffles.
  */
object TextPack extends QueryPack {

  private val stopEn = Seq("the", "a", "of", "and", "is", "to")
  private val stopPt = Seq("o", "de", "que", "e", "um", "para")
  private val stopEs = Seq("el", "de", "que", "y", "un", "para")

  private def sqlList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** t13's KenLM-style min-count prune knob: bigram types seen fewer than
    * this many times are dropped from the trained LM (scored occurrences
    * back off to the context's add-one unseen probability). Interpolated
    * into the oracle's `lmCtes` prune branch, so changing it here changes
    * both engines (code-review r9: the old comment claimed sharing while
    * the SQL hardcoded the literal). */
  private[graft] val MinBigramCount = 2

  /** The t14 BPE trainer body: 4 rounds of corpus-weighted pair counts
    * over the word-frequency table → deterministic argmax → literal merge
    * rewrite. Returns (round, pair, freq). Shared by the t14 query (which
    * times the trainer live) and the t15 encoder (which treats the merge
    * table as a model artifact, memoized per fixture fingerprint). */
  private def bpeTrain(s: SparkSession, dir: String): Seq[(Int, String, Long)] = {
    val rounds = 4
    var words = Tables.spread(Tables.documents(s, dir).select("text"))
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(expr("trim(regexp_replace(word, '(.)', '$1 '))").as("sym"),
        col("freq"))
      .persist()
    words.count()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, Long)]()
    // ONE job per round (r11): the argmax collect over round r's pair
    // counts is ALSO what materializes round r's lazily-persisted vocab
    // cache, so the separate per-round `next.count()` barrier is gone.
    // The previous round's cache is released only AFTER the collect that
    // materialized its successor (two vocab-sized caches coexist briefly
    // — bounded, the vocab table is tiny relative to the corpus).
    var prev: Option[DataFrame] = None
    var r = 1
    while (r <= rounds) {
      val top = words
        .select(col("freq"), split(col("sym"), " ").as("ss"))
        .select(col("freq"), explode(expr(
          "CASE WHEN size(ss) >= 2 THEN zip_with(slice(ss, 1, size(ss) - 1), " +
          "slice(ss, 2, size(ss) - 1), (a, b) -> concat(a, ' ', b)) " +
          "ELSE array() END")).as("pair"))
        .groupBy("pair").agg(sum("freq").as("c"))
        .orderBy(col("c").desc, col("pair").asc).limit(1).collect()
      prev.foreach(_.unpersist(false))
      prev = None
      if (top.nonEmpty) {
        val pair = top(0).getString(0)
        merges += ((r, pair, top(0).getLong(1)))
        val pat = lit(" " + pair + " ")
        val rep = lit(" " + pair.replace(" ", "") + " ")
        def rewrite(c: org.apache.spark.sql.Column) =
          call_function("replace", c, pat, rep)
        val next = words.withColumn("sym",
          trim(rewrite(rewrite(concat(lit(" "), col("sym"), lit(" "))))))
          .persist()
        prev = Some(words)
        words = next
      }
      r += 1
    }
    prev.foreach(_.unpersist(false))
    words.unpersist(false)
    merges.toSeq
  }

  /** The t14 trainer replayed as DuckDB CTEs (w0 + 4 unrolled rounds,
    * the g1 PageRank pattern) — shared by the t14 and t15 oracles. */
  private lazy val bpeOracleCtes: String = {
    def round(i: Int): String = {
      val prev = s"w${i - 1}"
      s"""p$i AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS c FROM (
         |    SELECT freq, unnest(list_transform(range(1, len(ss)),
         |      j -> ss[j] || ' ' || ss[j + 1])) AS pair
         |    FROM (SELECT freq, regexp_split_to_array(sym, ' ') AS ss FROM $prev)
         |  ) GROUP BY 1
         |), m$i AS (
         |  SELECT pair, c FROM p$i ORDER BY c DESC, pair ASC LIMIT 1
         |), w$i AS (
         |  SELECT trim(replace(replace(' ' || sym || ' ',
         |      ' ' || (SELECT pair FROM m$i) || ' ',
         |      ' ' || (SELECT replace(pair, ' ', '') FROM m$i) || ' '),
         |      ' ' || (SELECT pair FROM m$i) || ' ',
         |      ' ' || (SELECT replace(pair, ' ', '') FROM m$i) || ' ')) AS sym,
         |    freq
         |  FROM $prev
         |)""".stripMargin
    }
    s"""WITH w0 AS (
       |  SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS sym,
       |    count(*) AS freq
       |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
       |        FROM documents)
       |  GROUP BY 1
       |), ${(1 to 4).map(round).mkString(", ")}""".stripMargin
  }

  /** t15's merge table, memoized per fixture fingerprint — at scale the
    * previous training run's persisted artifact, like the GBT models. */
  private def bpeMerges(s: SparkSession, dir: String): Seq[(Int, String, Long)] =
    graft.Fingerprint.memo("bpe_merges", s"$dir/documents.parquet") {
      bpeTrain(s, dir)
    }

  /** Benchmark warm-up: pay the one-time merge-table fit outside the
    * t15-encode timed region (t14 itself times the trainer live). */
  override def warm(s: SparkSession, dir: String): Unit = {
    bpeMerges(s, dir)
    ()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    mainQueries ++ moreQueries

  private val mainQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Whitespace token count + BPE-ish regex token count.
    "t1_token_count" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("n_ws_tokens", size(split(trim(col("text")), "\\s+")))
        .withColumn("n_bpe_tokens",
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")))
        .select("doc_id", "n_ws_tokens", "n_bpe_tokens")),

    // Quality scoring: length / word stats / stopword ratio.
    "t2_quality_score" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("words", split(trim(col("text")), "\\s+"))
        .withColumn("n_chars", length(col("text")))
        .withColumn("n_words", size(col("words")))
        .withColumn("avg_word_len",
          Num.r6((col("n_chars") - col("n_words") + 1) / col("n_words")))
        .withColumn("stop_hits",
          size(expr(s"filter(words, w -> w IN (${sqlList(stopEn)}))")))
        .withColumn("stopword_ratio", Num.r6(col("stop_hits") / col("n_words")))
        .select("doc_id", "n_chars", "n_words", "avg_word_len",
          "stop_hits", "stopword_ratio")),

    // Language ID: n-gram/stopword-hit heuristic, deterministic argmax.
    "t3_langid" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("words", split(trim(col("text")), "\\s+"))
        .withColumn("s_en", size(expr(s"filter(words, w -> w IN (${sqlList(stopEn)}))")))
        .withColumn("s_pt", size(expr(s"filter(words, w -> w IN (${sqlList(stopPt)}))")))
        .withColumn("s_es", size(expr(s"filter(words, w -> w IN (${sqlList(stopEs)}))")))
        .withColumn("lang_pred",
          when(col("s_en") >= col("s_pt") && col("s_en") >= col("s_es"), "en")
            .when(col("s_pt") >= col("s_es"), "pt")
            .otherwise("es"))
        .select("doc_id", "s_en", "s_pt", "s_es", "lang_pred")),

    // Document fingerprint via the native Catalyst expression (codegen'd).
    // Oracle-checked: FNV-1a is NOT engine-specific — the oracle re-derives
    // it in SQL as a list_reduce over code points with HUGEINT arithmetic
    // mod 2^64 (valid because the fixture corpus is ASCII, where code
    // point == UTF-8 byte; the Fnv64Spec covers multi-byte inputs).
    "t4_fingerprint" -> ((s, dir) => {
      Fnv64.register(s)
      Tables.documents(s, dir)
        .withColumn("fp", call_function("graft_fnv64", col("text")))
        .select("doc_id", "fp")
    }),

    // BM25 relevance of every document against a fixed term query — the
    // retrieval-scoring sibling of t6 (Robertson/Okapi k1 = 1.2, b = 0.75,
    // BM25+-style always-positive idf = ln((N − df + ½)/(df + ½) + 1)).
    // Per-doc term counts are map-side array filters (no per-term explode
    // shuffle — the query is a handful of terms, not the vocabulary); the
    // corpus stats (N, Σdl, df per term) are ONE agg row broadcast back,
    // so the whole scorer is a scan + one scalar agg at any corpus size.
    // FP parity: contributions are summed in fixed term order and every
    // expression mirrors the oracle's op order token-for-token.
    "t12_bm25" -> ((s, dir) => {
      val terms = Seq("join", "scan", "vector")
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
        .withColumn("dl", size(col("words")))
      val withTf = terms.foldLeft(docs) { (d, t) =>
        d.withColumn(s"tf_$t",
          size(filter(col("words"), w => w === lit(t))))
      }
      val statAggs = count(lit(1)).as("n_docs") +:
        sum(col("dl")).cast("double").as("sum_dl") +:
        terms.map(t => count(when(col(s"tf_$t") > 0, 1)).as(s"df_$t"))
      val stats = withTf.agg(statAggs.head, statAggs.tail: _*)
      val avgdl = col("sum_dl") / col("n_docs")
      def contrib(t: String) =
        log((col("n_docs") - col(s"df_$t") + lit(0.5)) /
            (col(s"df_$t") + lit(0.5)) + lit(1.0)) *
        ((col(s"tf_$t") * lit(2.2)) /
         (col(s"tf_$t") + lit(1.2) *
           (lit(1.0) - lit(0.75) + lit(0.75) * (col("dl") / avgdl))))
      withTf.crossJoin(broadcast(stats))
        .withColumn("bm25",
          Num.r6(terms.map(contrib).reduceLeft(_ + _)))
        .select((col("doc_id") +: col("dl") +:
          terms.map(t => col(s"tf_$t")) :+ col("bm25")): _*)
    }),

    // N-gram language-model perplexity scoring — the CCNet/KenLM-style
    // quality filter: train an add-one-smoothed bigram LM on the corpus
    // itself (singleton bigram types min-count-pruned, KenLM-style —
    // pruned/unseen occurrences back off to their context's add-one
    // unseen probability with the mass accounting kept exact), score
    // each document by per-token cross-entropy under it
    // (high ppl = unusual text: boilerplate, noise, other languages).
    // FP discipline: each bigram type's log-prob is a function of exact
    // integer counts only, rounded ONCE to fixed-point micro-nats
    // (BIGINT, the n6 centroid pattern); the per-doc sum Σ m·lp_e6 is
    // then exact integer arithmetic — no float summation order anywhere.
    // Scale: the d8 gram-index discipline end to end — every shuffle is
    // keyed by an 8-byte FNV-1a fingerprint (native codegen expression),
    // NEVER a gram string: the (doc, bigram-hash) agg, ONE join of the
    // per-doc stream against the scored type table, and the final per-doc
    // agg. The LM itself — bigram counts, context counts, their join, the
    // log-prob — lives entirely on VOCABULARY-sized tables, with c(w1)
    // recovered from c(w1w2) by first-token-hash re-aggregation (never a
    // second pass over the corpus). Hash collisions merge gram types at
    // ~n²/2⁶⁴ probability — the same accepted trade as d8/d9, far below
    // any fixture or production vocabulary. Nothing driver-side.
    "t13_lm_perplexity" -> ((s, dir) => lmPerplexity(s, dir)),

    // CCNet-style perplexity bucketing — the canonical head/middle/tail
    // split: rank documents by their LM cross-entropy (t13's score,
    // ascending = most fluent first; doc_id tiebreak makes the order
    // total), then cut exact TERTILES by integer rank arithmetic
    // (bucket = (rank−1)·3 div n — no FP threshold anywhere). The rank
    // and n come from one Ranks.scan range sort, never a one-task
    // window; docs too short to score (no bigrams) fall outside the
    // buckets with NULL rank. head docs feed training as-is, middle gets
    // sampled, tail gets dropped — the knob this table parameterizes.
    "t20_ppl_buckets" -> ((s, dir) => {
      // the LM scoring feeds two consumers (the rank sort and the final
      // join) — cached so the two gram shuffles and the vocab agg run
      // ONCE per invocation, not twice (the a17 triple-scan lesson;
      // lifetime left to Spark's LRU, the minhashLshPairs discipline,
      // since the returned frame is lazy)
      val ppl = lmPerplexity(s, dir).cache()
      val scored = ppl.filter(col("cross_entropy").isNotNull)
        .select(col("doc_id"), col("cross_entropy"))
      val (ranked, Seq(n)) = Ranks.scan(scored,
        Seq(col("cross_entropy").asc, col("doc_id").asc), Ranks.Rank, Seq("rnk"))
      ppl.select(col("doc_id"), col("n_words"), col("cross_entropy"))
        .join(ranked.select(col("doc_id"), col("rnk")), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"), col("cross_entropy"),
          col("rnk"),
          expr(s"CAST((rnk - 1) * 3 DIV $n AS INT)").as("bucket"))
    })
  )

  /** DSIR hashed-bigram feature space size, shared by t17 and t22. */
  private[graft] val DsirBuckets = 8192

  /** The (doc_id, lang, bucket) hashed-bigram occurrence stream — the
    * shared first stage of the DSIR family (t17 importance weighting,
    * t22 corpus KL). Map-only: FNV + pmod per bigram. */
  private def dsirBucketStream(s: SparkSession, dir: String): DataFrame = {
    graft.functions.Fnv64.register(s)
    // spread: FNV-per-bigram map work off the single scan task (r11)
    Tables.spread(Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("text")))
      .select(col("doc_id"), col("lang"),
        split(trim(col("text")), "\\s+").as("words"))
      .filter(size(col("words")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "zip_with(slice(words, 1, size(words) - 1), " +
        "slice(words, 2, size(words) - 1), " +
        s"(a, b) -> pmod(graft_fnv64(concat(a, ' ', b)), $DsirBuckets))")).as("b"))
  }

  /** Per-bucket raw/target occurrence counts (one map-side-combined
    * partial agg; output is at most `DsirBuckets` rows). */
  private def dsirBucketCounts(bg: DataFrame): DataFrame =
    bg.groupBy("b").agg(
      count(lit(1)).as("cr"),
      count(when(col("lang") === "en", 1)).as("ct"))

  /** The t13 LM scoring CTE chain, shared by the t13 and t20 oracles. */
  private val lmCtes: String =
    s"""WITH d AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
      |  FROM documents
      |), base AS (
      |  SELECT doc_id, len(words) AS n_words FROM d
      |), bg AS (
      |  SELECT doc_id, words[i] AS w1, words[i] || ' ' || words[i + 1] AS bg
      |  FROM d, unnest(range(1, len(words))) AS t(i)
      |  WHERE len(words) >= 2
      |), m AS (
      |  SELECT doc_id, w1, bg, count(*) AS m FROM bg GROUP BY 1, 2, 3
      |), cbg AS (
      |  SELECT bg, CAST(sum(m) AS BIGINT) AS cbg FROM m GROUP BY 1
      |), cu AS (
      |  SELECT w1, CAST(sum(m) AS BIGINT) AS cu FROM m GROUP BY 1
      |), vocab AS (
      |  SELECT count(DISTINCT w) AS v
      |  FROM (SELECT unnest(words) AS w FROM d)
      |), perdoc AS (
      |  SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_bigrams,
      |    CAST(sum(m * lp_e6) AS BIGINT) AS s_e6
      |  FROM (
      |    SELECT m.doc_id, m.m,
      |      CASE WHEN cbg >= $MinBigramCount THEN
      |        CAST(floor(ln((cbg + 1.0) / (cu + v)) * 1000000 + 0.5) AS BIGINT)
      |      ELSE
      |        CAST(floor(ln(1.0 / (cu + v)) * 1000000 + 0.5) AS BIGINT)
      |      END AS lp_e6
      |    FROM m JOIN cbg USING (bg) JOIN cu USING (w1) CROSS JOIN vocab
      |  ) GROUP BY 1
      |)""".stripMargin

  /** t13's LM scoring, factored so t20's bucketing reuses the identical
    * plan (and the identical rounded cross-entropy values). */
  private def lmPerplexity(s: SparkSession, dir: String): DataFrame = {
    {
      graft.functions.Fnv64.register(s)
      // spread: the bigram-hash explode below otherwise runs serially on
      // the fixture's one scan split (r11)
      val docs = Tables.spread(Tables.documents(s, dir)
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      val base = docs.select(col("doc_id"), size(col("words")).as("n_words"))
      // map-side: bigram hash + first-token hash, both 8-byte longs (the
      // w1 hash rides the bigram key — a hash determines its gram, so the
      // compound key costs nothing and saves re-splitting downstream)
      val bg = docs
        .filter(size(col("words")) >= 2)
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(words, 1, size(words) - 1), " +
          "slice(words, 2, size(words) - 1), " +
          "(a, b) -> struct(graft_fnv64(concat(a, ' ', b)) AS h, " +
          "graft_fnv64(a) AS w1h))")).as("p"))
        .select(col("doc_id"), col("p.h").as("h"), col("p.w1h").as("w1h"))
      val m = bg.groupBy("doc_id", "h", "w1h").agg(count(lit(1)).as("m"))
      // types key on h ALONE so the lp join below is 1:1 even under an
      // FNV collision (two grams sharing h but not w1h would otherwise
      // produce two lp rows and fan out every per-doc occurrence —
      // code-review r8); the deterministic min(w1h) makes a collision
      // MERGE gram types, which is the documented trade
      val types = m.groupBy("h")
        .agg(sum("m").as("cbg"), min("w1h").as("w1h"))
      val cu = types.groupBy("w1h").agg(sum("cbg").as("cu"))
      val vocab = docs.select(explode(col("words")).as("w"))
        .agg(countDistinct(expr("graft_fnv64(w)")).as("v"))
      // KenLM-style min-count prune (VERDICT r8 #2): singleton bigram
      // TYPES are dropped from the trained LM — a web-scale type table is
      // dominated by its singleton tail (Heaps' law), and the rename
      // replica's vocabulary worst case grew it 30× per 30× data; the
      // prune bounds every downstream vocabulary table by the repeated-
      // type population. Mass accounting stays EXACT: cu (context
      // totals) and V are computed over ALL types BEFORE pruning, so
      // kept types score exactly as unpruned, and a pruned occurrence
      // scores as the add-one UNSEEN event of its context,
      // ln(1/(cu + V)) — the probability an out-of-corpus bigram gets.
      val kept = types.filter(col("cbg") >= MinBigramCount)
      val lp = kept.join(cu, "w1h").crossJoin(broadcast(vocab))
        .withColumn("lp_e6", expr(
          "CAST(floor(ln((cbg + 1.0) / (cu + v)) * 1000000 + 0.5) AS BIGINT)"))
        .select("h", "lp_e6")
      // unseen-context fallback table: unigram-type-sized (the point of
      // the prune — the corpus stream joins only vocabulary tables that
      // are bounded: kept bigram types + unigram context types)
      val lp0 = cu.crossJoin(broadcast(vocab))
        .withColumn("lp0_e6", expr(
          "CAST(floor(ln(1.0 / (cu + v)) * 1000000 + 0.5) AS BIGINT)"))
        .select(col("w1h"), col("lp0_e6"))
      // m's raw w1h matches cu's min(w1h) representative absent an FNV
      // collision — the same documented merge trade as the type table
      val perDoc = m.join(lp, Seq("h"), "left").join(lp0, Seq("w1h"), "left")
        .withColumn("lp_eff", coalesce(col("lp_e6"), col("lp0_e6")))
        .groupBy("doc_id")
        .agg(sum(col("m")).as("n_bigrams"),
          sum(col("m") * col("lp_eff")).as("s_e6"))
      val ce = col("s_e6").cast("double") * lit(-1.0) /
        (col("n_bigrams") * lit(1000000.0))
      base.join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"), col("n_bigrams"),
          Num.r6(ce).as("cross_entropy"),
          Num.r6(exp(ce)).as("ppl"))
    }
  }

  private val moreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TF-IDF top-3 terms per document (smooth idf, the sklearn convention:
    // idf = ln((N+1)/(df+1)) + 1). Scores are rounded to 6 decimals BEFORE
    // ranking so both engines rank identical values; ties break on term asc.
    // Scale: tf shuffles on (doc_id, term); df is a vocab-sized agg; N is
    // a broadcast 1-row scalar — nothing driver-side, no corpus collect.
    "t6_tfidf" -> ((s, dir) => {
      // spread: the term explode feeding the (doc_id, term) partial agg
      // is the heavy map stage (r11)
      val docs = Tables.spread(
        Tables.documents(s, dir).select("doc_id", "text"))
      val tf = docs
        .select(col("doc_id"), explode(split(trim(col("text")), "\\s+")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val ndocs = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfreq, "term").crossJoin(broadcast(ndocs))
        .withColumn("tfidf", Num.r6(col("tf") *
          (log((col("n_docs") + lit(1)).cast("double") / (col("df") + lit(1))) + lit(1))))
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
      scored.withColumn("rk", row_number().over(wd))
        .filter(col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rk")
    }),

    // Repetition quality signals (the Gopher-rules family): unique-word
    // ratio, most-frequent-bigram mass, duplicated-bigram mass. Metrics
    // are count ratios only (no argmax over grams), so ties need no
    // tie-break. One shuffle on (doc_id, bigram) then a per-doc agg —
    // the same shape as tf-idf's tf stage, corpus-size scalable. Docs
    // with < 2 words keep NULL bigram metrics via the left join.
    "t7_repetition" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      val base = docs.select(col("doc_id"), size(col("words")).as("n_words"),
        size(array_distinct(col("words"))).as("n_uniq"))
      val bg = docs.select(col("doc_id"), explode(expr(
        "zip_with(slice(words, 1, size(words) - 1), " +
        "slice(words, 2, size(words) - 1), (a, b) -> concat(a, ' ', b))")).as("bg"))
      val bgStats = bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          max(col("c")).as("top_bg"),
          sum(col("c")).as("n_bg"),
          coalesce(sum(when(col("c") > 1, col("c"))), lit(0L)).as("dup_bg"))
      base.join(bgStats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_words"),
          Num.r6(col("n_uniq") / col("n_words")).as("uniq_word_ratio"),
          Num.r6(col("top_bg") / col("n_bg")).as("top_bigram_frac"),
          Num.r6(col("dup_bg") / col("n_bg")).as("dup_bigram_frac"))
    }),

    // Benchmark decontamination: flag corpus docs sharing any 8-word
    // shingle with an eval suite. The deterministic stand-in for the
    // suite is DERIVED from the corpus — every 97th doc with its last
    // word dropped — so the leaked originals genuinely fire the flag
    // (an empty-overlap fixture would leave the predicate untested).
    // The benchmark shingle set is small by construction (that's the
    // premise of decontamination), so it broadcast-joins: the 100 TB
    // corpus side stays map-only until the per-doc agg shuffle.
    "t8_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      def grams(d: DataFrame): DataFrame = d.select(col("doc_id"), explode(expr(
        "CASE WHEN size(words) >= 8 THEN transform(sequence(1, size(words) - 7), " +
        "i -> concat_ws(' ', slice(words, i, 8))) ELSE array() END")).as("g"))
      val bench = docs.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id"),
          expr("slice(words, 1, size(words) - 1)").as("words"))
      val benchG = grams(bench).select("g").distinct().withColumn("hit", lit(1))
      grams(docs)
        .join(broadcast(benchG), Seq("g"), "left")
        .groupBy("doc_id").agg(
          count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0))).as("n_hits"))
        .withColumn("contam_frac", Num.r6(col("n_hits") / col("n_grams")))
        .withColumn("contaminated", col("contam_frac") > lit(0.05))
        .select("doc_id", "n_grams", "n_hits", "contam_frac", "contaminated")
    }),

    // Sequence packing: concatenate documents (per source shard, in
    // doc_id order) and chunk the token stream into fixed 512-token
    // training sequences — each doc gets the sequence it STARTS in and
    // its offset there. One windowed cumsum per shard; all-integer, so
    // hash-exact. At 100 TB packing is per-shard by construction (the
    // window partitions by source), never a global sort.
    "t9_sequence_pack" -> ((s, dir) => {
      val budget = 512
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("start", col("cum") - col("n_tokens"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          expr(s"start div $budget").as("seq_id"),
          expr(s"start % $budget").as("seq_offset"))
    }),

    // Vocabulary building — the tokenizer-training primitive: explode
    // tokens, count, keep the top-1000 by (freq desc, token), assign
    // contiguous ids in that order. The count shuffle is map-side
    // combined (one row per (token, partition)); the ranking window runs
    // over the post-limit VOCAB table (≤1000 rows), never the corpus —
    // at 100 TB only the frequency table ever moves.
    "t10_vocab_build" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("freq").desc, col("token"))
      Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token"))
        .limit(1000)
        .withColumn("token_id", row_number().over(w) - 1)
    }),

    // Length-bucketed batching stats: bucket docs by token count (16-wide
    // ranges) and compute the padding waste a max-length-padded batch of
    // each bucket would carry — waste = 1 − Σlen/(n·maxlen), held as an
    // exact 1e-6 fixed-point integer. The batching-efficiency signal for
    // sequence-packing vs padding decisions; one partial-agg shuffle.
    "t11_length_buckets" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(size(split(trim(col("text")), "\\s+")).as("n_tokens"))
        .withColumn("bucket", expr("n_tokens div 16"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          max(col("n_tokens")).as("max_tokens"))
        .withColumn("padding_waste_e6",
          expr("CAST(((n_docs * max_tokens - sum_tokens) * 1000000 + " +
            "(n_docs * max_tokens) div 2) div (n_docs * max_tokens) AS BIGINT)"))
        .orderBy("bucket")),

    // BPE tokenizer merge LEARNING as a distributed query — 4 rounds of:
    // corpus-weighted adjacent-symbol-pair counts (one partial-agg
    // shuffle over the word-frequency table, never the raw corpus: words
    // are pre-aggregated with their frequencies, the classic BPE trainer
    // economics) → deterministic argmax (count desc, pair asc; a 1-row
    // driver knob like halving's cull) → literal merge rewrite of every
    // word's symbol string. Merge semantics are defined as "replace all
    // non-overlapping ' a b ' occurrences left-to-right, applied twice"
    // — identical literal `replace` semantics in Spark and DuckDB, so
    // the oracle (4 unrolled CTE rounds, the g1 PageRank pattern)
    // reproduces the learned merges exactly. Per-round persist truncates
    // lineage growth like Components does.
    "t14_bpe_train" -> ((s, dir) => {
      import s.implicits._
      bpeTrain(s, dir).toDF("round", "pair", "freq")
    }),

    // BPE tokenizer APPLICATION — the other half of t14: encode every
    // document with the learned merge table and count tokens per doc.
    // The merge table is a model artifact (memoized, paid in warm, like
    // the GBT fits); encoding itself is MAP-ONLY — per word: char-split,
    // apply the 4 merges in learned order (same double-replace semantics
    // t14 defines), count symbols — composed entirely from higher-order
    // array functions, so the corpus scan never shuffles. The oracle
    // replays the trainer in SQL (the t14 CTE chain) and applies the
    // same replaces per word, so learned merges AND their application
    // are both cross-checked.
    "t15_bpe_encode" -> ((s, dir) => {
      val merges = bpeMerges(s, dir).map(_._2)
      // per-word token count: ' c h a r s ' -> merges applied in order
      // (each twice, the defined non-overlap semantics) -> symbol count.
      // Merge pairs are bound as Column LITERALS, never spliced into SQL
      // text (ADVICE r8): a learned pair containing quotes or regex
      // metacharacters encodes correctly instead of crashing the parser
      // (the old form require()d [\w ]-only pairs for literal safety).
      def encoded(w: Column): Column = {
        val chars = concat(lit(" "),
          trim(regexp_replace(w, lit("(.)"), lit("$1 "))), lit(" "))
        merges.foldLeft(chars) { (acc, p) =>
          val pat = lit(s" $p ")
          val merged = lit(" " + p.replace(" ", "") + " ")
          replace(replace(acc, pat, merged), pat, merged)
        }
      }
      Tables.documents(s, dir)
        .withColumn("words", split(trim(col("text")), "\\s+"))
        .select(col("doc_id"),
          size(col("words")).cast("long").as("n_words"),
          aggregate(
            transform(col("words"), w => size(split(trim(encoded(w)), " "))),
            lit(0), (acc, x) => acc + x).cast("long").as("n_tokens"))
    }),

    // Token-budget data selection: rank the corpus by a quality signal
    // (stopword hits — the natural-language proxy t2 defines; doc_id
    // tiebreak makes the order total) and keep documents until the
    // running token total reaches 60% of the corpus. The running total
    // uses the distributed scan primitive (Ranks.scan with a Sum carry:
    // range-partitioned sort, bounded subtotal collect, per-partition
    // starts, map-only second pass) — never the single-partition
    // `sum() OVER (ORDER BY …)` funnel. The budget derives from the
    // grand total the subtotal pass already collected (exact integer
    // math, total·6 div 10) — no separate corpus scan.
    "t16_token_budget_select" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("words", split(trim(col("text")), "\\s+"))
        .select(col("doc_id"),
          size(col("words")).cast("long").as("n_tokens"),
          size(expr(s"filter(words, w -> w IN (${sqlList(stopEn)}))"))
            .cast("long").as("stop_hits"))
      val (withCum, Seq(total)) = Ranks.scan(docs,
        Seq(col("stop_hits").desc, col("doc_id").asc), Ranks.Sum("n_tokens"),
        Seq("cum_tokens"))
      val budget = total * 6 / 10
      withCum.select(col("doc_id"), col("n_tokens"), col("stop_hits"),
        col("cum_tokens"), (col("cum_tokens") <= lit(budget)).as("selected"))
    }),

    // Zipf rank-frequency diagnostics — the corpus-health check every
    // tokenizer/dedup pipeline runs (a natural corpus reads slope ≈ −1
    // on log rank vs log freq; template spam bends it): type frequencies
    // from one count shuffle, GLOBAL rank via the Ranks.scan range sort
    // (never a one-task window — the
    // vocabulary at web scale is billions of types), then an OLS slope
    // whose every term is exact: ln(rank)/ln(freq) round ONCE to e6
    // fixed-point, the moment sums and centred terms are exact Num moments
    // (BIGINT x·y sums overflow past ~1e6 types), and the slope is one
    // IEEE division of two exact integers.
    // Sliding-window chunking with overlap — the pretraining/RAG
    // document splitter: fixed 50-word windows at stride 40 (10-word
    // overlap), the tail chunk allowed short. Entirely MAP-ONLY: the
    // word split, the start sequence, and the per-chunk metadata are one
    // HOF expression chain on the scan — no shuffle anywhere, which is
    // the property that makes chunking free at 100 TB (it pipelines
    // into whatever the chunks feed). Emits per chunk its start token,
    // length, and first/last tokens (the cheap identity the downstream
    // embedder can verify against).
    "t18_chunking" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
        .select(col("doc_id"), col("w"),
          explode(expr("sequence(0, size(w) - 1, 40)")).as("start_tok"))
        .select(col("doc_id"),
          (col("start_tok") / 40).cast("long").as("chunk_id"),
          col("start_tok").cast("long").as("start_tok"),
          least(lit(50), size(col("w")) - col("start_tok")).cast("long")
            .as("n_tok"),
          element_at(col("w"), col("start_tok") + 1).as("first_tok"),
          element_at(col("w"),
            col("start_tok")
              + least(lit(50), size(col("w")) - col("start_tok")))
            .as("last_tok"))),

    // Sequence packing (concat-and-split): documents concatenate in a
    // fixed order and split at 512-token context-window boundaries — the
    // standard pretraining batch-packing step (t11 buckets by length,
    // t16 selects under a budget; this ASSIGNS each doc its window).
    // The token line comes from the distributed prefix sum (range sort +
    // broadcast offsets — never a one-task window); the window id and
    // the boundary-straddle flag are map-only integer arithmetic on the
    // cumulative count. Exact by construction in both engines.
    "t21_sequence_packing" -> ((s, dir) => {
      val W = 512L
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      Ranks.scan(docs, Seq(col("doc_id")), Ranks.Sum("n_tok"), Seq("cum_tok"))._1
        .select(col("doc_id"), col("n_tok"), col("cum_tok"),
          expr(s"(cum_tok - n_tok) div $W").as("bin_id"),
          expr(s"((cum_tok - n_tok) div $W) <> ((cum_tok - 1) div $W)")
            .as("spans_boundary"))
    }),

    "t19_zipf_slope" -> ((s, dir) => {
      val vocab = Tables.documents(s, dir)
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
      val ranked = Ranks.scan(vocab, Seq(col("freq").desc, col("token").asc),
        Ranks.Rank, Seq("rnk"))._1
      val pts = ranked.select(
        expr("CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)")
          .as("x_e6"),
        expr("CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)")
          .as("y_e6"))
      val m = pts.agg(count(lit(1)).as("n"),
          sum(col("x_e6").cast(Num.Exact)).as("sx"),
          sum(col("y_e6").cast(Num.Exact)).as("sy"),
          Num.sumProd(col("x_e6"), col("y_e6")).as("sxy"),
          Num.sumProd(col("x_e6"), col("x_e6")).as("sxx"))
        .select(col("n"),
          Num.centred(col("n"), col("sxy"), col("sx"), col("sy")).as("cxy"),
          Num.centred(col("n"), col("sxx"), col("sx"), col("sx")).as("cxx"))
      Num.exactOrRaise(m, "t19_zipf_slope", col("n"), col("cxy"), col("cxx"))
        .select(col("n").as("n_types"),
          Num.r6(col("cxy").cast("double") / col("cxx").cast("double"))
            .as("zipf_slope"))
    }),

    // DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    // via Importance Resampling"): score every raw document by how
    // target-like its hashed-bigram distribution is — here target = the
    // `lang = 'en'` slice, the canonical "select web text that looks
    // like the curated corpus" setup. Bigrams hash into B = 8192 buckets
    // (FNV-1a, the native codegen expression, pmod'd — DSIR's hashed
    // n-gram feature space: collisions are part of the METHOD, so the
    // oracle replays hash and mod exactly); both add-one-smoothed bucket
    // models and their log-ratio live in ONE bucket table of exactly B
    // rows. Scale story: the model is O(B) regardless of corpus size —
    // bucket counts come from one map-side-combined partial agg, the
    // log-ratio table BROADCASTS, and scoring is a map-only pass + one
    // per-doc agg. No sort-merge join anywhere; 100 TB costs one
    // corpus-scan shuffle keyed by doc_id.
    // FP discipline: per-bucket log-ratios round ONCE to fixed-point
    // micro-nats from exact integer counts (the t13 recipe); per-doc
    // sums are exact integer arithmetic.
    "t17_dsir_importance" -> ((s, dir) => {
      val B = DsirBuckets
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"),
          split(trim(col("text")), "\\s+").as("words"))
      val bg = dsirBucketStream(s, dir)
      val counts = dsirBucketCounts(bg)
      val totals = counts.agg(sum("cr").as("nr"), sum("ct").as("nt"))
      val lr = counts.crossJoin(broadcast(totals))
        .withColumn("lr_e6", expr(
          s"CAST(floor((ln((ct + 1.0) / (nt + $B)) - " +
          s"ln((cr + 1.0) / (nr + $B))) * 1000000 + 0.5) AS BIGINT)"))
        .select("b", "lr_e6")
      val perDoc = bg.join(broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum(col("lr_e6")).as("s_e6"))
      // Selection rule: keep documents whose per-bigram weight beats the
      // corpus average (s/n > ts/tn) — compared by EXACT cross-
      // multiplication in DECIMAL(38,0), so the boolean never rides an
      // FP-division boundary. Magnitudes: |s_e6| ≤ ~3e5·n_bigrams, so
      // s_e6·tn ≤ ~3e5·n_bigrams·tn — inside 38 digits up to ~1e16
      // corpus bigrams per side of the product (≫ any single job).
      val selTotals = perDoc.agg(sum("s_e6").as("ts"),
        sum("n_bigrams").as("tn"))
      docs.select(col("doc_id"), col("lang"),
          size(col("words")).cast("long").as("n_words"))
        .join(perDoc, Seq("doc_id"), "left")
        .crossJoin(broadcast(selTotals))
        .select(col("doc_id"), col("lang"), col("n_words"), col("n_bigrams"),
          Num.r6(col("s_e6").cast("double") /
            (col("n_bigrams") * lit(1000000.0))).as("avg_logw"),
          (col("s_e6").cast(Num.Exact) * col("tn") >
            col("ts").cast(Num.Exact) * col("n_bigrams"))
            .as("selected"))
    }),

    // Corpus-level distribution shift — KL divergence both ways between
    // the target (en) and raw hashed-bigram bucket models (t17's
    // feature space): the data-mixing diagnostic that says HOW FAR a
    // candidate source sits from the target distribution before any
    // per-doc scoring. Both divergences are exact fixed-point sums:
    // each nonzero bucket contributes floor(θ·Δlnθ·1e12+0.5) as a
    // BIGINT, the (B − n_used) EMPTY buckets contribute one shared
    // add-one term times their count (smoothed distributions put mass
    // everywhere — dropping empty buckets would understate the
    // divergence), and the final value is one IEEE division. The whole
    // computation runs on the B-row bucket table — corpus cost is the
    // one map-side-combined count shuffle.
    // Collocation mining by pointwise-mutual-information LIFT — the
    // corpus-linguistics primitive behind multiword-expression
    // detection and tokenizer vocabulary curation (which bigrams are
    // "one unit"?). The ranking statistic is the PMI's exponential,
    //   lift(a,b) = N · c(ab) / (c(a) · c(b))
    // (unigram-mass model: p = c/N over total tokens) — an exact
    // integer rational, so unlike log-PMI there is NO libm call
    // anywhere: BIGINT numerator/denominator products and ONE double
    // division, r6-rounded. Min-count 5 prunes the singleton-bigram
    // tail (the t13 KenLM discipline) BEFORE the unigram joins, so the
    // joined stream is the collocation candidates, not the corpus.
    // Plan: one bigram count shuffle + two vocab-keyed unigram-count
    // joins (t13's LM shape — the unigram table is Heaps-law sublinear
    // but NOT broadcastable at web scale) + a 1-row total attach.
    "t23_pmi_collocations" -> ((s, dir) => {
      val ws = Tables.documents(s, dir)
        .select(split(trim(col("text")), "\\s+").as("ws"))
      val uni = ws.select(explode(col("ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw"))
      val tot = uni.agg(sum("cw").as("n_tokens"))
      val bi = ws.filter(size(col("ws")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(ws) - 1), " +
            "i -> struct(element_at(ws, i) AS wa, element_at(ws, i + 1) AS wb))"))
          .as("p"))
        .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
        .groupBy("wa", "wb").agg(count(lit(1)).as("cab"))
        .filter(col("cab") >= 5)
      bi.join(uni.select(col("w").as("wa"), col("cw").as("ca")), "wa")
        .join(uni.select(col("w").as("wb"), col("cw").as("cb")), "wb")
        .crossJoin(broadcast(tot))
        .select(
          concat(col("wa"), lit(" "), col("wb")).as("bigram"),
          col("cab"),
          Num.r6((col("cab") * col("n_tokens")).cast("double")
            / (col("ca") * col("cb")).cast("double")).as("lift"))
    }),

    // Blocked inverted index — the retrieval-side artifact t12's BM25
    // scores FROM (BM25 ranks; this materializes the index itself).
    // Postings are packed (doc_id·2²⁰ + tf) BIGINTs, sorted, and BLOCKED
    // by doc-id range (4096 docs per block): at corpus scale a stopword's
    // posting list is millions of entries — one (term) reduce key would
    // put a whole stopword on one task, while (term, block) keys bound
    // every list at the block size, blocks build independently (daily
    // shards append as new blocks — the same mergeable-artifact story as
    // a17's sketches), and consecutive blocks concat into the full list.
    // Two shuffles: (term, doc) tf agg, then (term, block) list build.
    // The 2²⁰ packing is guarded: a tf ≥ 2²⁰ would corrupt the posting
    // byte layout, so it fails loudly instead of silently aliasing.
    "t24_inverted_index" -> ((s, dir) => {
      val tf = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("term"))
        .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      Num.check(tf, "t24: tf exceeds the 2^20 posting-packing envelope",
          col("tf") < 1048576L)
        .select(col("term"), (col("doc_id") / lit(4096)).cast("long").as("block"),
          (col("doc_id") * lit(1048576L) + col("tf")).as("posting"))
        .groupBy("term", "block")
        .agg(count(lit(1)).as("df_block"),
          // Serialized to a CSV string: the driver's pandas canonicalizer
          // cannot sort ARRAY columns, and the packed-BIGINT list is
          // order-stable after sort_array, so the string is a faithful
          // (and oracle-comparable) surface for the same artifact.
          concat_ws(",", sort_array(collect_list(col("posting"))))
            .as("postings"))
    }),

    // Train-test n-gram novelty (the GPT-3/Lee-et-al. overlap audit,
    // inverted to a per-doc score): for each candidate doc (odd doc_id),
    // the fraction of its word 3-grams unseen ANYWHERE in the reference
    // split (even doc_id) — the signal dataset builders threshold to
    // keep eval sets out of training data, and the dual of t8's
    // contamination count. Scale shape: grams explode map-side (HOF
    // transform, no UDF); the reference side collapses to DISTINCT
    // grams in one keyed shuffle; candidate grams LEFT-join that set on
    // the gram key — hash-partitioned both sides, NO broadcast
    // assumption (a corpus-scale reference gram table shuffles, it
    // never ships) — then one per-doc agg counts the misses.
    // Text normalization — the canonicalization pass a corpus runs BEFORE
    // hashing/dedup (c13 handles the Unicode-form half; this is the
    // case/punctuation/whitespace half): lowercase, strip sentence
    // punctuation, collapse whitespace runs. Map-only, zero shuffles —
    // one codegen'd scan at any scale. Regex classes are explicit
    // character sets so Java regex (Spark) and RE2 (DuckDB) agree
    // byte-for-byte; the emitted digest is the dedup key downstream
    // passes would consume.
    "t26_text_normalize" -> ((s, dir) => {
      val cleaned = trim(regexp_replace(
        regexp_replace(lower(col("text")), "[.,!?;:\"']", ""),
        "\\s+", " "))
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .withColumn("clean", cleaned)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("len_raw"),
          length(col("clean")).cast("long").as("len_clean"),
          (col("clean") =!= col("text")).as("changed"),
          md5(col("clean")).as("clean_digest"))
    }),

    // Per-document token Shannon entropy + type-token ratio — the
    // lexical-diversity quality signals (low entropy = repetitive /
    // boilerplate text; the Gopher-rule companion t2/t7 don't cover).
    // FP discipline: H = ln(n) − (Σ c·lnq(c))/n where lnq is the
    // repo-wide ln quantization floor(ln(x)·1e6 + 0.5) (the t13
    // log-prob contract) — each token type contributes the exact
    // integer c·lnq(c), the per-doc sum is exact, and the two divisions
    // at the end are the only free doubles. Scale shape: map-side
    // explode → (doc, token) count → per-doc agg: two keyed shuffles,
    // both on corpus-linear streams.
    "t27_token_entropy" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(split(trim(col("text")), "\\s+")).as("tok"))
      toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
        .withColumn("clnq",
          col("c") * expr("CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n_tokens"),
          count(lit(1)).as("n_types"),
          sum(col("clnq")).as("sum_clnq"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"),
          Num.r6(col("n_types").cast("double") /
            col("n_tokens").cast("double")).as("ttr"),
          Num.r6((expr(
            "CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)")
              .cast("double") -
            col("sum_clnq").cast("double") /
              col("n_tokens").cast("double")) / 1000000.0)
            .as("entropy_nats"))
    }),

    "t25_ngram_novelty" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
        .filter(size(col("words")) >= 3)
      val grams = docs.select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(words) - 2), " +
          "i -> concat(words[i-1], ' ', words[i], ' ', words[i+1]))"))
        .as("gram"))
      val ref = grams.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select("gram").distinct().withColumn("seen", lit(1L))
      grams.filter(pmod(col("doc_id"), lit(2)) === 1)
        .join(ref, Seq("gram"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty", Num.r6(
          col("n_novel").cast("double") / col("n_grams").cast("double")))
    }),

    "t22_corpus_kl" -> ((s, dir) => {
      val B = DsirBuckets
      val counts = dsirBucketCounts(dsirBucketStream(s, dir))
      val totals = counts.agg(sum("cr").as("nr"), sum("ct").as("nt"),
        count(lit(1)).as("nb"))
      val terms = counts.crossJoin(broadcast(totals))
        .withColumn("t_tr_e12", expr(
          s"CAST(floor(((ct + 1.0) / (nt + $B)) * " +
          s"(ln((ct + 1.0) / (nt + $B)) - ln((cr + 1.0) / (nr + $B))) " +
          "* 1000000000000 + 0.5) AS BIGINT)"))
        .withColumn("t_rt_e12", expr(
          s"CAST(floor(((cr + 1.0) / (nr + $B)) * " +
          s"(ln((cr + 1.0) / (nr + $B)) - ln((ct + 1.0) / (nt + $B))) " +
          "* 1000000000000 + 0.5) AS BIGINT)"))
      terms.agg(sum("t_tr_e12").as("s_tr"), sum("t_rt_e12").as("s_rt"))
        .crossJoin(broadcast(totals))
        .select(col("nt").as("n_target_bigrams"), col("nr").as("n_raw_bigrams"),
          col("nb").as("n_buckets_used"),
          Num.r6(expr(
            s"CAST(s_tr + ($B - nb) * " +
            s"CAST(floor((1.0 / (nt + $B)) * (ln(1.0 / (nt + $B)) - " +
            s"ln(1.0 / (nr + $B))) * 1000000000000 + 0.5) AS BIGINT) " +
            "AS DOUBLE) / 1000000000000.0")).as("kl_target_raw"),
          Num.r6(expr(
            s"CAST(s_rt + ($B - nb) * " +
            s"CAST(floor((1.0 / (nr + $B)) * (ln(1.0 / (nr + $B)) - " +
            s"ln(1.0 / (nt + $B))) * 1000000000000 + 0.5) AS BIGINT) " +
            "AS DOUBLE) / 1000000000000.0")).as("kl_raw_target"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "t1_token_count" ->
      """SELECT doc_id,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "t2_quality_score" ->
      s"""SELECT doc_id,
         |  length(text) AS n_chars,
         |  len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         |  floor(((length(text) - len(regexp_split_to_array(trim(text), '\\s+')) + 1)
         |    / len(regexp_split_to_array(trim(text), '\\s+'))) * 1000000 + 0.5) / 1000000 AS avg_word_len,
         |  len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN (${sqlList(stopEn)}))) AS stop_hits,
         |  floor((len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN (${sqlList(stopEn)})))
         |    / len(regexp_split_to_array(trim(text), '\\s+'))) * 1000000 + 0.5) / 1000000 AS stopword_ratio
         |FROM documents""".stripMargin,
    "t3_langid" ->
      s"""WITH t AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
         |  FROM documents
         |), sc AS (
         |  SELECT doc_id,
         |    len(list_filter(words, w -> w IN (${sqlList(stopEn)}))) AS s_en,
         |    len(list_filter(words, w -> w IN (${sqlList(stopPt)}))) AS s_pt,
         |    len(list_filter(words, w -> w IN (${sqlList(stopEs)}))) AS s_es
         |  FROM t
         |)
         |SELECT doc_id, s_en, s_pt, s_es,
         |  CASE WHEN s_en >= s_pt AND s_en >= s_es THEN 'en'
         |       WHEN s_pt >= s_es THEN 'pt' ELSE 'es' END AS lang_pred
         |FROM sc""".stripMargin,
    // FNV-1a re-derived in SQL: fold over code points (== UTF-8 bytes on
    // the ASCII fixture) with 128-bit HUGEINT products reduced mod 2^64,
    // then mapped to the signed BIGINT Spark's Long wraps to.
    "t4_fingerprint" ->
      """WITH chars AS (
        |  SELECT doc_id,
        |    list_transform(range(1, length(text) + 1),
        |                   i -> ord(substring(text, CAST(i AS INT), 1))) AS cps
        |  FROM documents
        |), h AS (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS HUGEINT), cps),
        |      (acc, c) -> (xor(acc, CAST(c AS HUGEINT)) * 1099511628211)
        |                  % 18446744073709551616) AS uh
        |  FROM chars
        |)
        |SELECT doc_id,
        |  CAST(CASE WHEN uh >= 9223372036854775808 THEN uh - 18446744073709551616
        |            ELSE uh END AS BIGINT) AS fp
        |FROM h""".stripMargin,
    // BM25: every expression replays the Spark op order token-for-token;
    // contributions summed in fixed term order (join, scan, vector)
    "t12_bm25" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
        |  FROM documents
        |), dd AS (
        |  SELECT doc_id, len(words) AS dl,
        |    len(list_filter(words, w -> w = 'join')) AS tf_join,
        |    len(list_filter(words, w -> w = 'scan')) AS tf_scan,
        |    len(list_filter(words, w -> w = 'vector')) AS tf_vector
        |  FROM d
        |), st AS (
        |  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl,
        |    count(CASE WHEN tf_join > 0 THEN 1 END) AS df_join,
        |    count(CASE WHEN tf_scan > 0 THEN 1 END) AS df_scan,
        |    count(CASE WHEN tf_vector > 0 THEN 1 END) AS df_vector
        |  FROM dd
        |)
        |SELECT doc_id, dl, tf_join, tf_scan, tf_vector,
        |  floor((
        |      ln((n_docs - df_join + 0.5) / (df_join + 0.5) + 1.0)
        |        * ((tf_join * 2.2) / (tf_join + 1.2 *
        |            (1.0 - 0.75 + 0.75 * (dl / (sum_dl / n_docs)))))
        |    + ln((n_docs - df_scan + 0.5) / (df_scan + 0.5) + 1.0)
        |        * ((tf_scan * 2.2) / (tf_scan + 1.2 *
        |            (1.0 - 0.75 + 0.75 * (dl / (sum_dl / n_docs)))))
        |    + ln((n_docs - df_vector + 0.5) / (df_vector + 0.5) + 1.0)
        |        * ((tf_vector * 2.2) / (tf_vector + 1.2 *
        |            (1.0 - 0.75 + 0.75 * (dl / (sum_dl / n_docs)))))
        |  ) * 1000000 + 0.5) / 1000000 AS bm25
        |FROM dd CROSS JOIN st""".stripMargin,
    "t6_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
        |), dfreq AS (
        |  SELECT term, count(*) AS df FROM tf GROUP BY term
        |), nd AS (
        |  SELECT count(*) AS n_docs FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    floor((tf.tf * (ln((nd.n_docs + 1.0) / (dfreq.df + 1)) + 1))
        |          * 1000000 + 0.5) / 1000000 AS tfidf
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd
        |)
        |SELECT doc_id, term, tf, df, tfidf, rk FROM (
        |  SELECT scored.*, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
        |  FROM scored
        |) WHERE rk <= 3""".stripMargin,
    // 4 unrolled rounds (the g1 PageRank oracle pattern); DuckDB's
    // literal replace has the same all-non-overlapping-left-to-right
    // semantics as Spark's, and the double application is part of the
    // operator's defined merge semantics
    "t14_bpe_train" ->
      s"""$bpeOracleCtes
         |SELECT 1 AS round, pair, c AS freq FROM m1
         |UNION ALL SELECT 2, pair, c FROM m2
         |UNION ALL SELECT 3, pair, c FROM m3
         |UNION ALL SELECT 4, pair, c FROM m4""".stripMargin,

    // Replays the trainer (the same CTE chain t14's oracle hash-matches),
    // hoists the 4 learned pairs into columns (lambdas can reference row
    // columns, not scalar subqueries), and applies the identical
    // double-replace per word.
    "t15_bpe_encode" ->
      s"""$bpeOracleCtes, mm AS (
         |  SELECT (SELECT pair FROM m1) AS q1, (SELECT pair FROM m2) AS q2,
         |    (SELECT pair FROM m3) AS q3, (SELECT pair FROM m4) AS q4
         |), d AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words,
         |    q1, q2, q3, q4
         |  FROM documents CROSS JOIN mm
         |)
         |SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
         |  CAST(list_sum(list_transform(words, w -> len(string_split(trim(
         |    ${Seq("q1", "q2", "q3", "q4").foldLeft(
              "' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' '") {
                (acc, q) =>
                  s"replace(replace($acc, ' ' || $q || ' ', " +
                    s"' ' || replace($q, ' ', '') || ' '), ' ' || $q || ' ', " +
                    s"' ' || replace($q, ' ', '') || ' ')"
              }}), ' ')))) AS BIGINT) AS n_tokens
         |FROM d""".stripMargin,

    "t16_token_budget_select" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |      AS n_tokens,
         |    CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |      w -> w IN (${sqlList(stopEn)}))) AS BIGINT) AS stop_hits
         |  FROM documents
         |), o AS (
         |  SELECT doc_id, n_tokens, stop_hits,
         |    CAST(sum(n_tokens) OVER (ORDER BY stop_hits DESC, doc_id)
         |      AS BIGINT) AS cum_tokens
         |  FROM t
         |), b AS (
         |  SELECT CAST(sum(n_tokens) * 6 // 10 AS BIGINT) AS budget FROM t
         |)
         |SELECT doc_id, n_tokens, stop_hits, cum_tokens,
         |  cum_tokens <= budget AS selected
         |FROM o CROSS JOIN b""".stripMargin,
    "t21_sequence_packing" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tok,
        |    sum(n_tok) OVER (ORDER BY doc_id) AS cum_tok
        |  FROM d
        |)
        |SELECT doc_id, n_tok, CAST(cum_tok AS BIGINT) AS cum_tok,
        |  CAST((cum_tok - n_tok) // 512 AS BIGINT) AS bin_id,
        |  ((cum_tok - n_tok) // 512) <> ((cum_tok - 1) // 512)
        |    AS spans_boundary
        |FROM c""".stripMargin,
    "t18_chunking" ->
      """WITH ws AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(t.i // 40 AS BIGINT) AS chunk_id,
        |  CAST(t.i AS BIGINT) AS start_tok,
        |  CAST(least(50, len(w) - t.i) AS BIGINT) AS n_tok,
        |  w[CAST(t.i + 1 AS INT)] AS first_tok,
        |  w[CAST(t.i + least(50, len(w) - t.i) AS INT)] AS last_tok
        |FROM ws, unnest(range(0, len(w), 40)) AS t(i)""".stripMargin,
    "t19_zipf_slope" ->
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |), v AS (
        |  SELECT token, count(*) AS freq FROM toks GROUP BY 1
        |), r AS (
        |  SELECT freq,
        |    row_number() OVER (ORDER BY freq DESC, token ASC) AS rnk
        |  FROM v
        |), p AS (
        |  SELECT
        |    CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS x_e6,
        |    CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS y_e6
        |  FROM r
        |), s AS (
        |  SELECT count(*) AS n,
        |    sum(CAST(x_e6 AS HUGEINT)) AS sx,
        |    sum(CAST(y_e6 AS HUGEINT)) AS sy,
        |    sum(CAST(x_e6 AS HUGEINT) * y_e6) AS sxy,
        |    sum(CAST(x_e6 AS HUGEINT) * x_e6) AS sxx
        |  FROM p
        |)
        |SELECT CAST(n AS BIGINT) AS n_types,
        |  floor((CAST(CAST(n AS HUGEINT) * sxy - sx * sy AS DOUBLE) /
        |         CAST(CAST(n AS HUGEINT) * sxx - sx * sx AS DOUBLE))
        |        * 1000000 + 0.5) / 1000000 AS zipf_slope
        |FROM s""".stripMargin,
    // DSIR: the FNV-1a fold is re-derived per gram exactly as t4 does it
    // (HUGEINT products mod 2^64); bucket = uh % 8192 equals Spark's
    // pmod over the wrapped signed long because 8192 divides 2^64.
    "t17_dsir_importance" ->
      """WITH d AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS words
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, lang, len(words) AS n_words FROM d
        |), bg AS (
        |  SELECT doc_id, lang, words[i] || ' ' || words[i + 1] AS g
        |  FROM d, unnest(range(1, len(words))) AS t(i)
        |  WHERE len(words) >= 2
        |), hb AS (
        |  SELECT doc_id, lang, CAST(
        |    list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |        list_transform(range(1, length(g) + 1),
        |                       i -> ord(substring(g, CAST(i AS INT), 1)))),
        |      (acc, c) -> (xor(acc, CAST(c AS HUGEINT)) * 1099511628211)
        |                  % 18446744073709551616) % 8192 AS BIGINT) AS b
        |  FROM bg
        |), counts AS (
        |  SELECT b, count(*) AS cr,
        |    count(CASE WHEN lang = 'en' THEN 1 END) AS ct
        |  FROM hb GROUP BY 1
        |), totals AS (
        |  SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt
        |  FROM counts
        |), lr AS (
        |  SELECT b, CAST(floor((ln((ct + 1.0) / (nt + 8192)) -
        |    ln((cr + 1.0) / (nr + 8192))) * 1000000 + 0.5) AS BIGINT) AS lr_e6
        |  FROM counts CROSS JOIN totals
        |), perdoc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(lr_e6) AS BIGINT) AS s_e6
        |  FROM hb JOIN lr USING (b) GROUP BY 1
        |), seltot AS (
        |  SELECT CAST(sum(s_e6) AS BIGINT) AS ts,
        |    CAST(sum(n_bigrams) AS BIGINT) AS tn
        |  FROM perdoc
        |)
        |SELECT base.doc_id, lang, n_words, n_bigrams,
        |  floor((CAST(s_e6 AS DOUBLE) / (n_bigrams * 1000000.0))
        |        * 1000000 + 0.5) / 1000000 AS avg_logw,
        |  CAST(s_e6 AS DECIMAL(38,0)) * tn >
        |    CAST(ts AS DECIMAL(38,0)) * n_bigrams AS selected
        |FROM base LEFT JOIN perdoc USING (doc_id) CROSS JOIN seltot""".stripMargin,
    "t22_corpus_kl" ->
      """WITH d AS (
        |  SELECT doc_id, lang, regexp_split_to_array(trim(text), '\s+') AS words
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, lang, words[i] || ' ' || words[i + 1] AS g
        |  FROM d, unnest(range(1, len(words))) AS t(i)
        |  WHERE len(words) >= 2
        |), hb AS (
        |  SELECT doc_id, lang, CAST(
        |    list_reduce(
        |      list_prepend(CAST(14695981039346656037 AS HUGEINT),
        |        list_transform(range(1, length(g) + 1),
        |                       i -> ord(substring(g, CAST(i AS INT), 1)))),
        |      (acc, c) -> (xor(acc, CAST(c AS HUGEINT)) * 1099511628211)
        |                  % 18446744073709551616) % 8192 AS BIGINT) AS b
        |  FROM bg
        |), counts AS (
        |  SELECT b, count(*) AS cr,
        |    count(CASE WHEN lang = 'en' THEN 1 END) AS ct
        |  FROM hb GROUP BY 1
        |), totals AS (
        |  SELECT CAST(sum(cr) AS BIGINT) AS nr, CAST(sum(ct) AS BIGINT) AS nt,
        |    count(*) AS nb
        |  FROM counts
        |), terms AS (
        |  SELECT
        |    CAST(floor(((ct + 1.0) / (nt + 8192)) *
        |      (ln((ct + 1.0) / (nt + 8192)) - ln((cr + 1.0) / (nr + 8192)))
        |      * 1000000000000 + 0.5) AS BIGINT) AS t_tr,
        |    CAST(floor(((cr + 1.0) / (nr + 8192)) *
        |      (ln((cr + 1.0) / (nr + 8192)) - ln((ct + 1.0) / (nt + 8192)))
        |      * 1000000000000 + 0.5) AS BIGINT) AS t_rt
        |  FROM counts CROSS JOIN totals
        |), s AS (
        |  SELECT CAST(sum(t_tr) AS BIGINT) AS s_tr,
        |    CAST(sum(t_rt) AS BIGINT) AS s_rt
        |  FROM terms
        |)
        |SELECT nt AS n_target_bigrams, nr AS n_raw_bigrams,
        |  CAST(nb AS BIGINT) AS n_buckets_used,
        |  floor((CAST(s_tr + (8192 - nb) *
        |    CAST(floor((1.0 / (nt + 8192)) * (ln(1.0 / (nt + 8192)) -
        |      ln(1.0 / (nr + 8192))) * 1000000000000 + 0.5) AS BIGINT)
        |    AS DOUBLE) / 1000000000000.0) * 1000000 + 0.5) / 1000000
        |    AS kl_target_raw,
        |  floor((CAST(s_rt + (8192 - nb) *
        |    CAST(floor((1.0 / (nr + 8192)) * (ln(1.0 / (nr + 8192)) -
        |      ln(1.0 / (nt + 8192))) * 1000000000000 + 0.5) AS BIGINT)
        |    AS DOUBLE) / 1000000000000.0) * 1000000 + 0.5) / 1000000
        |    AS kl_raw_target
        |FROM s CROSS JOIN totals""".stripMargin,
    "t13_lm_perplexity" ->
      s"""$lmCtes
         |SELECT base.doc_id, n_words, n_bigrams,
         |  floor((CAST(s_e6 AS DOUBLE) * -1.0 / (n_bigrams * 1000000.0))
         |        * 1000000 + 0.5) / 1000000 AS cross_entropy,
         |  floor(exp(CAST(s_e6 AS DOUBLE) * -1.0 / (n_bigrams * 1000000.0))
         |        * 1000000 + 0.5) / 1000000 AS ppl
         |FROM base LEFT JOIN perdoc USING (doc_id)""".stripMargin,
    "t20_ppl_buckets" ->
      s"""$lmCtes, ppl AS (
         |  SELECT base.doc_id, n_words,
         |    floor((CAST(s_e6 AS DOUBLE) * -1.0 / (n_bigrams * 1000000.0))
         |          * 1000000 + 0.5) / 1000000 AS cross_entropy
         |  FROM base LEFT JOIN perdoc USING (doc_id)
         |), ranked AS (
         |  SELECT doc_id,
         |    row_number() OVER (ORDER BY cross_entropy ASC, doc_id ASC) AS rnk
         |  FROM ppl WHERE cross_entropy IS NOT NULL
         |), nn AS (
         |  SELECT count(*) AS n FROM ranked
         |)
         |SELECT ppl.doc_id, n_words, cross_entropy, rnk,
         |  CAST((rnk - 1) * 3 // n AS INT) AS bucket
         |FROM ppl LEFT JOIN ranked USING (doc_id) CROSS JOIN nn""".stripMargin,
    "t7_repetition" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
        |  FROM documents
        |), base AS (
        |  SELECT doc_id, len(words) AS n_words,
        |         len(list_distinct(words)) AS n_uniq
        |  FROM d
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(words)),
        |                          i -> words[i] || ' ' || words[i + 1])) AS bg
        |  FROM d
        |), bgc AS (
        |  SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg
        |), bgs AS (
        |  SELECT doc_id,
        |    CAST(max(c) AS BIGINT) AS top_bg,
        |    CAST(sum(c) AS BIGINT) AS n_bg,
        |    CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0) AS BIGINT) AS dup_bg
        |  FROM bgc GROUP BY doc_id
        |)
        |SELECT base.doc_id, n_words,
        |  floor((n_uniq / n_words) * 1000000 + 0.5) / 1000000 AS uniq_word_ratio,
        |  floor((top_bg / n_bg) * 1000000 + 0.5) / 1000000 AS top_bigram_frac,
        |  floor((dup_bg / n_bg) * 1000000 + 0.5) / 1000000 AS dup_bigram_frac
        |FROM base LEFT JOIN bgs USING (doc_id)""".stripMargin,
    "t8_contamination" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS words
        |  FROM documents
        |), g AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(words) - 6),
        |                          i -> array_to_string(words[i:i + 7], ' '))) AS g
        |  FROM d
        |), benchg AS (
        |  SELECT DISTINCT
        |    unnest(list_transform(range(1, len(words) - 6),
        |                          i -> array_to_string(words[i:i + 7], ' '))) AS bg
        |  FROM (SELECT words[1:len(words) - 1] AS words
        |        FROM d WHERE doc_id % 97 = 0)
        |), hits AS (
        |  SELECT cg.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(count(benchg.bg) AS BIGINT) AS n_hits
        |  FROM g cg
        |  LEFT JOIN benchg ON cg.g = benchg.bg
        |  GROUP BY cg.doc_id
        |)
        |SELECT doc_id, n_grams, n_hits,
        |  floor((n_hits / n_grams) * 1000000 + 0.5) / 1000000 AS contam_frac,
        |  floor((n_hits / n_grams) * 1000000 + 0.5) / 1000000 > 0.05 AS contaminated
        |FROM hits""".stripMargin,
    "t9_sequence_pack" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |                        ROWS UNBOUNDED PRECEDING) - n_tokens AS start
        |  FROM t
        |)
        |SELECT doc_id, source, n_tokens,
        |  CAST(start // 512 AS BIGINT) AS seq_id,
        |  CAST(start % 512 AS BIGINT) AS seq_offset
        |FROM c""".stripMargin,
    "t10_vocab_build" ->
      """WITH tok AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents
        |), f AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY token
        |), top AS (
        |  SELECT token, freq FROM f ORDER BY freq DESC, token LIMIT 1000
        |)
        |SELECT token, freq,
        |  row_number() OVER (ORDER BY freq DESC, token) - 1 AS token_id
        |FROM top""".stripMargin,
    "t23_pmi_collocations" ->
      """WITH d AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        |), uni AS (
        |  SELECT w, count(*) AS cw FROM (
        |    SELECT unnest(ws) AS w FROM d
        |  ) GROUP BY 1
        |), tot AS (
        |  SELECT sum(cw) AS n_tokens FROM uni
        |), bi AS (
        |  SELECT ws[i] AS wa, ws[i + 1] AS wb, count(*) AS cab
        |  FROM d, unnest(range(1, len(ws))) AS t(i)
        |  WHERE len(ws) >= 2
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |)
        |SELECT bi.wa || ' ' || bi.wb AS bigram, CAST(cab AS BIGINT) AS cab,
        |  floor((CAST(cab * n_tokens AS DOUBLE)
        |    / CAST(ua.cw * ub.cw AS DOUBLE)) * 1000000 + 0.5) / 1000000
        |    AS lift
        |FROM bi
        |JOIN uni ua ON bi.wa = ua.w
        |JOIN uni ub ON bi.wb = ub.w
        |CROSS JOIN tot""".stripMargin,
    "t24_inverted_index" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+'))
        |    AS term
        |  FROM documents
        |), tf AS (
        |  SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2
        |)
        |SELECT term, doc_id // 4096 AS block,
        |  count(*) AS df_block,
        |  array_to_string(list_sort(list(doc_id * 1048576 + tf)), ',')
        |    AS postings
        |FROM tf GROUP BY 1, 2""".stripMargin,
    "t26_text_normalize" ->
      """WITH c AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[.,!?;:"'']', '', 'g'), '\s+', ' ', 'g')) AS clean
        |  FROM documents
        |)
        |SELECT doc_id, CAST(length(text) AS BIGINT) AS len_raw,
        |  CAST(length(clean) AS BIGINT) AS len_clean,
        |  clean <> text AS changed,
        |  md5(clean) AS clean_digest
        |FROM c""".stripMargin,
    "t27_token_entropy" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents
        |), tc AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        |  FROM toks GROUP BY 1, 2
        |), q AS (
        |  SELECT doc_id, c,
        |    c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |      AS clnq
        |  FROM tc
        |), agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    CAST(count(*) AS BIGINT) AS n_types,
        |    CAST(sum(clnq) AS BIGINT) AS sum_clnq
        |  FROM q GROUP BY 1
        |)
        |SELECT doc_id, n_tokens, n_types,
        |  floor((CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |    * 1000000 + 0.5) / 1000000 AS ttr,
        |  floor(((CAST(CAST(floor(ln(CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5)
        |          AS BIGINT) AS DOUBLE)
        |      - CAST(sum_clnq AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |    / 1000000.0) * 1000000 + 0.5) / 1000000 AS entropy_nats
        |FROM agg""".stripMargin,
    "t25_ngram_novelty" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
        |        FROM tok WHERE len(w) >= 3)
        |), ref AS (
        |  SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0
        |)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN ref.gram IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  floor((CAST(sum(CASE WHEN ref.gram IS NULL THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5)
        |    / 1000000 AS novelty
        |FROM g LEFT JOIN ref ON g.gram = ref.gram
        |WHERE g.doc_id % 2 = 1
        |GROUP BY 1""".stripMargin,
    "t11_length_buckets" ->
      """WITH t AS (
        |  SELECT len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |  FROM documents
        |), b AS (
        |  SELECT n_tokens // 16 AS bucket, count(*) AS n_docs,
        |    sum(n_tokens) AS sum_tokens, max(n_tokens) AS max_tokens
        |  FROM t GROUP BY 1
        |)
        |SELECT bucket, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(sum_tokens AS BIGINT) AS sum_tokens, max_tokens,
        |  CAST(((n_docs * max_tokens - sum_tokens) * 1000000 +
        |        (n_docs * max_tokens) // 2) // (n_docs * max_tokens) AS BIGINT)
        |    AS padding_waste_e6
        |FROM b ORDER BY bucket""".stripMargin
  )
}
