package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.{Num, QueryPack, Ranks, Tables}

/** Training-data curation operators the reference pipeline implies but never
  * names: deterministic split assignment, PII redaction, distribution-drift
  * tests, quantile binning, changepoint scoring. Every query is exact
  * integer/decimal arithmetic end-to-end so the DuckDB oracle hash-matches
  * bit-for-bit; every plan is one scan plus at most one shuffle.
  *
  * Reference anchors: train/test splitting (/root/reference/src/model/
  * train.py:56-63 rolling splits), data-quality gating (preprocessing.py's
  * validation counts), distribution checks (eda.ipynb describe/plot cells).
  * The curation framing (hash split, redaction, drift, changepoint) is the
  * 100 TB generalization of those single-node steps.
  */
object CurationPack extends QueryPack {

  /** First md5 byte of the document KEY — the split-assignment hash shared
    * by c1 and c10 (and mirrored, salted, by c9). One definition so the
    * split rule can never diverge between the standalone op and the
    * composed pipeline. */
  private def splitBucket: org.apache.spark.sql.Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10).cast("int")

  /** 205/230 thresholds ≈ 80/10/10 over the 0..255 bucket space. */
  private def splitFromBucket(b: org.apache.spark.sql.Column) =
    when(b < 205, "train").when(b < 230, "val").otherwise("test")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Deterministic train/val/test assignment: bucket = first md5 byte of
    // the DOCUMENT KEY (not the body — membership must survive text edits
    // upstream), split at 205/230 ≈ 80/10/10. Pure map-side expression:
    // no shuffle, no RNG state, stable under re-runs and repartitioning —
    // the property a 100 TB pipeline needs so that re-processing never
    // migrates a document across splits (train/test contamination).
    "c1_hash_split" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("bucket", splitBucket)
        .withColumn("split", splitFromBucket(col("bucket")))
        .select("doc_id", "bucket", "split")),

    // Blocked fuzzy record linkage — the entity-resolution step a data
    // lake runs before dimension conflation: a "dirty" feed (every 10th
    // part name re-appears with its last character lost — the
    // withNearDups recipe at record grain) links back to the clean
    // registry. Candidates come from an equi-join on a BLOCKING key
    // (the name's first word; at scale: zip code, soundex, sorted
    // n-gram key), so comparisons are Σ|block|² with bounded blocks —
    // never the |dirty|·|clean| cross product; the edit-distance verify
    // rides INSIDE the join stage as the THRESHOLD form
    // levenshtein(d, n, 2) (r11, guide §1.2 "per-task work"): the banded
    // DP costs O(k·len) instead of O(len²) and exits O(1) when the
    // length gap alone exceeds k — the overwhelming majority of blocked
    // candidates — where the unbanded form paid the full len² matrix on
    // EVERY candidate (measured 4.06 s → see OPTIMIZATION_r11.md).
    // dist ∈ {0,1,2} survivors are exact under the band, so the pair set
    // is unchanged. Per dirty record the best match resolves via one
    // min over (dist, clean_id) PACKED into a single BIGINT
    // (dist·2⁴¹ + clean_id, both non-negative, dist dominant — identical
    // order to the struct min) so the aggregate hash-aggregates with
    // map-side partials instead of the struct-min SortAggregate + Sort
    // pair the r10 plan carried. Oracle: DuckDB's levenshtein is the
    // same classic DP, so the pair set and resolution replay exactly.
    "c14_fuzzy_linkage" -> ((s, dir) => {
      val clean = Tables.part(s, dir).select(
        col("p_partkey").as("clean_id"), col("p_name").as("name"),
        split(col("p_name"), " ").getItem(0).as("blk"))
      val dirty = clean.filter(pmod(col("clean_id"), lit(10)) === 0)
        .select((col("clean_id") + 1000000L).as("dirty_id"),
          expr("substring(name, 1, length(name) - 1)").as("dname"),
          col("blk"))
      val packShift = 1L << 41 // clean_id < 2⁴¹ at any TPC-H scale factor
      // The dirty feed arrives as ONE small parquet file ⇒ one scan
      // partition, and since the verify work lives in the join's OUTPUT
      // (Σ|block|² candidate pairs), the whole edit-distance pass ran on
      // a single task (guide §2.5 input skew: "one huge unsplittable
      // file … repartition immediately after the read"). Round-robin
      // fan-out of the probe side to the session's parallelism spreads
      // the candidate stream across all cores; 2k rows of (id, name,
      // blk) is a trivial exchange. At production scale the feed is
      // many files and this repartition coalesces to a no-op-sized
      // shuffle of metadata-thin rows, never the registry.
      dirty.repartition(s.sparkContext.defaultParallelism)
        .join(clean, "blk")
        .withColumn("dist", levenshtein(col("dname"), col("name"), 2))
        .filter(col("dist") >= 0) // threshold form returns -1 past the band
        .groupBy(col("dirty_id"))
        .agg(min(col("dist").cast("long") * packShift + col("clean_id"))
          .as("packed"))
        .select(col("dirty_id"),
          (col("packed") % packShift).as("matched_id"),
          expr(s"packed div $packShift").as("dist"))
    }),

    // Fellegi–Sunter match/unmatch weights (Fellegi & Sunter 1969) — the
    // LEARNING half of record linkage c14 only scores: over the blocked
    // candidate pairs, estimate per-comparison-field agreement
    // probabilities among true matches (m) and non-matches (u), and emit
    // the log-likelihood agreement weight ln(m/u) a production linker
    // sums per field. Ground truth is free on this population (a planted
    // dirty twin matches iff dirty_id − 1e6 = clean_id), counts are
    // exact integers with Laplace (+1/+2) smoothing so no zero ratio,
    // and the single ln per field rides the repo's 1e-6 quantization.
    // Scale shape: c14's blocked join (Σ|block|² bounded by the blocking
    // key) + ONE map-side-combined agg over 3 fields — the weights table
    // is |fields|-sized at any corpus.
    "c18_fellegi_sunter" -> ((s, dir) => {
      val p = Tables.part(s, dir)
      val clean = p.select(
        col("p_partkey").as("clean_id"), col("p_name").as("name"),
        split(col("p_name"), " ").getItem(0).as("blk"),
        col("p_brand").as("brand_c"), col("p_size").as("size_c"),
        floor(col("p_retailprice") / 100.0).cast("long").as("pb_c"))
      val dirty = clean.filter(pmod(col("clean_id"), lit(10)) === 0)
        .select((col("clean_id") + 1000000L).as("dirty_id"),
          col("blk"), col("brand_c").as("brand_d"),
          col("size_c").as("size_d"), col("pb_c").as("pb_d"))
      // same probe-side fan-out as c14: the one-file dirty feed would
      // otherwise put the whole Σ|block|² candidate stream on one task
      val cand = dirty.repartition(s.sparkContext.defaultParallelism)
        .join(clean, "blk")
        .withColumn("is_match",
          (col("dirty_id") - 1000000L === col("clean_id")).cast("long"))
      val fields = cand.select(col("is_match"), explode(array(
          struct(lit("brand").as("field"),
            (col("brand_d") === col("brand_c")).cast("long").as("agree")),
          struct(lit("size").as("field"),
            (col("size_d") === col("size_c")).cast("long").as("agree")),
          struct(lit("price_bucket").as("field"),
            (col("pb_d") === col("pb_c")).cast("long").as("agree"))))
          .as("f"))
        .select(col("is_match"), col("f.field"), col("f.agree"))
      fields.groupBy(col("field"))
        .agg(
          sum(col("is_match")).as("n_match"),
          sum(lit(1L) - col("is_match")).as("n_nonmatch"),
          sum(col("agree") * col("is_match")).as("a_match"),
          sum(col("agree") * (lit(1L) - col("is_match"))).as("a_nonmatch"))
        .select(col("field"), col("n_match"), col("n_nonmatch"),
          Num.r6((col("a_match") + 1L).cast("double") /
            (col("n_match") + 2L).cast("double")).as("m_prob"),
          Num.r6((col("a_nonmatch") + 1L).cast("double") /
            (col("n_nonmatch") + 2L).cast("double")).as("u_prob"),
          (expr("CAST(floor(ln(((a_match + 1) / CAST(n_match + 2 AS DOUBLE)) " +
            "/ ((a_nonmatch + 1) / CAST(n_nonmatch + 2 AS DOUBLE))) " +
            "* 1000000 + 0.5) AS BIGINT)").cast("double") / 1000000.0)
            .as("agreement_weight"))
    }),

    // Source-mix rebalancing (the DoReMi-style downsampling step): bring
    // every source to the uniform target share by hash-thresholded keep
    // decisions. keep_rate(s) = min(1, target/actual) becomes an exact
    // integer threshold over the 0..255 md5-byte space:
    // thr = min(256, 256·total div (n_sources·cnt_s)); a doc survives iff
    // its salted key byte < thr — deterministic, reproducible across
    // engines and runs, membership survives text edits (the c1 rule).
    // Scale: one partial-agg shuffle for per-source counts, thresholds
    // broadcast back (a source-cardinality dim), keep decision map-only.
    "c12_source_rebalance" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val counts = docs.groupBy("source").agg(count(lit(1)).as("cnt"))
      val totals = counts.agg(sum("cnt").as("total"),
        count(lit(1)).as("n_sources"))
      val thr = counts.crossJoin(broadcast(totals))
        .select(col("source"),
          least(lit(256L),
            expr("256 * total div (n_sources * cnt)")).as("thr"))
      docs.join(broadcast(thr), "source")
        .withColumn("rs_bucket",
          conv(substring(md5(concat(lit("rs"), col("doc_id").cast("string"))),
            1, 2), 16, 10).cast("long"))
        .select(col("doc_id"), col("source"), col("rs_bucket"), col("thr"),
          (col("rs_bucket") < col("thr")).as("kept"))
    }),

    // Unicode NFC canonicalization (native codegen Expression): corpora
    // that mix normalization forms (decomposed e+U+0301 vs precomposed
    // U+00E9 — different OCR/export toolchains) must canonicalize BEFORE
    // hashing/dedup or identical text fingerprints differently and
    // near-dup recall silently drops. The ASCII fixture gets a synthesized
    // per-doc accent tail in alternating forms (the c2 pattern); DuckDB's
    // nfc_normalize implements the same Unicode mapping, so the check is
    // exact. Map-only: one codegen'd scan, no shuffle.
    "c13_unicode_normalize" -> ((s, dir) => {
      graft.functions.NfcNormalize.register(s)
      val raw = concat(col("text"), lit(" caf"),
        when(col("doc_id") % 2 === 0, lit("\u00e9"))     // precomposed (NFC)
          .otherwise(lit("e\u0301")))                    // decomposed (NFD)
      Tables.documents(s, dir)
        .withColumn("raw", raw)
        .withColumn("norm", call_function("graft_nfc", col("raw")))
        .select(col("doc_id"),
          (col("raw") =!= col("norm")).as("changed"),
          length(col("raw")).cast("long").as("len_raw"),
          length(col("norm")).cast("long").as("len_norm"),
          expr("right(norm, 4)").as("tail"))
    }),

    // PII redaction sweep: synthesize a deterministic contact line per doc
    // (the fixture corpus is clean word-salad), then regex-redact emails /
    // phone numbers / bare IPv4s and count each hit class. Conservative
    // regex subset (no lookarounds, no shorthand classes) runs identically
    // on Java regex and RE2. Map-only: codegen'd regexp over one scan.
    "c2_pii_redact" -> ((s, dir) => {
      val contact = concat(
        col("text"), lit(" contact user"), col("doc_id"),
        lit("@corp.example or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" ip 10.0."), pmod(col("doc_id"), lit(256)), lit(".7"))
      Tables.documents(s, dir)
        .withColumn("raw", contact)
        .withColumn("n_emails",
          size(expr(s"regexp_extract_all(raw, '$EmailRe', 0)")))
        .withColumn("n_phones",
          size(expr(s"regexp_extract_all(raw, '$PhoneRe', 0)")))
        .withColumn("n_ips",
          size(expr(s"regexp_extract_all(raw, '$Ipv4Re', 0)")))
        .withColumn("redacted",
          regexp_replace(regexp_replace(regexp_replace(
            col("raw"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"),
            Ipv4Re, "<IP>"))
        .select("doc_id", "n_emails", "n_phones", "n_ips", "redacted")
    }),

    // Two-sample Kolmogorov–Smirnov distance between the `click` and
    // `view` value distributions (drift detection between two cohorts).
    // EXACT integer arithmetic: with per-value counts c1/c2 and totals
    // n1/n2, D = max |F1·n2 − F2·n1| / (n1·n2); numerator and denominator
    // are BIGINTs, so the statistic is engine-independent to the last bit.
    // One agg shuffle, then BOTH cumulative CDFs in a single two-column
    // Ranks.scan Sum pass (range-partitioned sort + per-partition
    // subtotal vectors) — never a single-partition `sum() OVER (ORDER BY)`
    // funnel, the same distributed-scan primitive the stats family uses.
    // The cohort totals fall out of the subtotal pass as driver scalars
    // (two longs).
    "c3_ks_drift" -> ((s, dir) => {
      val v = graft.Num.cents(col("value"))
      val per = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "view"))
        .groupBy(v.as("cents"))
        .agg(
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ca"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("cb"))
      val (cum, Seq(n1, n2)) = Ranks.scan(per, Seq(col("cents")),
        Ranks.Sum("ca", "cb"), Seq("f1", "f2"))
      // intermediates in Num.Exact: f1·n2 and d_num·1e6 wrap LONG
      // once cohorts reach ~3e9 rows (ANSI off wraps SILENTLY) — the
      // oracle's HUGEINT does the same widening. Outputs stay BIGINT
      // (exact until d_num itself exceeds 9.2e18).
      cum
        .agg(max(abs(col("f1").cast(Num.Exact) * lit(n2) -
                     col("f2").cast(Num.Exact) * lit(n1))).as("d_dec"))
        .withColumn("den", lit(n1).cast(Num.Exact) * lit(n2))
        .withColumn("d_stat",
          expr("CAST((d_dec * 1000000 + den div 2) div den AS BIGINT)")
            .cast("double") / 1000000.0)
        .select(lit(n1).as("n1"), lit(n2).as("n2"),
          col("d_dec").cast("long").as("d_num"), col("d_stat"))
    }),

    // Chi-square test of independence, c_mktsegment × (c_nationkey mod 5):
    // χ² = Σ (n·o − r·c)² / (n·r·c) over cells — numerators/denominators
    // exact DECIMAL(38,0), each cell term rounded at 1e-6 by integer
    // division, then summed exactly. Two small aggs + a broadcast of the
    // 25-cell contingency table; nothing scales with row count except the
    // first groupBy.
    // Validity range: |num| ≤ n², so num²·1e6 needs ~4·log₁₀(n)+6 digits
    // and overflows DECIMAL(38,0) at n ≈ 1e8 rows. Past that, Spark with
    // ANSI off NULLs the overflowed terms SILENTLY (dropping cells from
    // the sum) while the DuckDB oracle's HUGEINT raises — at larger n,
    // rescale num (divide num and den by n before squaring, costing ≤1e-6
    // per-cell accuracy) instead of widening. c3/c8 carry the same note.
    "c4_chi_square" -> ((s, dir) => {
      val cells = Tables.customer(s, dir)
        .groupBy(col("c_mktsegment").as("seg"),
          pmod(col("c_nationkey"), lit(5)).as("ng"))
        .agg(count(lit(1)).as("o"))
      val withMargins = cells
        .withColumn("r", sum(col("o")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("seg")))
        .withColumn("c", sum(col("o")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("ng")))
        .withColumn("n", sum(col("o")).over())
      withMargins
        .withColumn("num",
          expr("CAST((CAST(n AS DECIMAL(38,0)) * o - CAST(r AS DECIMAL(38,0)) * c) AS DECIMAL(38,0))"))
        .withColumn("term_e6",
          expr("CAST((num * num * 1000000 + (CAST(n AS DECIMAL(38,0)) * r * c) div 2) div (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)"))
        .agg(
          count(lit(1)).as("n_cells"),
          max(col("n")).as("n"),
          sum(col("term_e6")).as("chi2_e6"))
        .withColumn("chi2",
          col("chi2_e6").cast("double") / lit(1000000.0))
        .select("n_cells", "n", "chi2_e6", "chi2")
    }),

    // Exact quantile binning (decile assignment) at scale: global rank via
    // the Ranks.scan range sort (the sc4 shape — never a single-partition
    // window), then the ANSI ntile() bucket formula applied to the rank
    // arithmetically. Emits per-bin counts and price bounds.
    "c5_quantile_bins" -> ((s, dir) => {
      val k = 10
      val ranked = Ranks.scan(
        Tables.orders(s, dir).select(Num.required("o_orderkey", LongType),
          Num.required("o_totalprice", DoubleType)),
        Seq(col("o_totalprice").asc, col("o_orderkey").asc),
        Ranks.Rank, Seq("r"))._1
      // n as a LAZY broadcast scalar (count-only parquet scan, folded into
      // the plan) rather than an eager driver .count() — constructing the
      // query runs no job beyond the rank's subtotal pass, and the ntile
      // arithmetic below is plain column math so the scalar never leaves
      // the executors.
      val nDf = Tables.orders(s, dir).agg(count(lit(1)).as("n"))
      ranked
        .crossJoin(broadcast(nDf))
        .withColumn("q", expr(s"n div $k"))
        .withColumn("rem", expr(s"n % $k"))
        .withColumn("cut", expr("rem * (q + 1)"))
        .withColumn("bin",
          when(col("r") <= col("cut"), expr("(r - 1) div (q + 1) + 1"))
            .otherwise(expr("rem + (r - cut - 1) div q + 1"))
          .cast("int"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy("bin")
    }),

    // Robust per-series outlier detection via median/MAD — the filter rule
    // that survives the heavy-tailed value distributions mean/stddev dies
    // on. "Median" is the LOWER median (value at rank ⌈n/2⌉), computed by
    // rank arithmetic rather than an engine median() builtin, so both
    // engines produce the identical integer with no interpolation.
    // Two ordered window passes + final agg, all sharing one hash
    // exchange on the series key (same partitioning, two sort orders).
    "c7_mad_outliers" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val cents = graft.Num.cents(col("value"))
      val byUser = W.partitionBy("user_id")
      val byVal = byUser.orderBy(col("cents"), col("event_id"))
      val base = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), cents.as("cents"))
        .withColumn("n", count(lit(1)).over(byUser))
        .withColumn("rn", row_number().over(byVal))
        .withColumn("med",
          max(when(col("rn") === expr("(n + 1) div 2"), col("cents")))
            .over(byUser))
        .withColumn("dev", abs(col("cents") - col("med")))
      val byDev = byUser.orderBy(col("dev"), col("event_id"))
      base
        .withColumn("rn2", row_number().over(byDev))
        .withColumn("mad",
          max(when(col("rn2") === expr("(n + 1) div 2"), col("dev")))
            .over(byUser))
        .groupBy("user_id")
        .agg(max(col("n")).as("n_events"),
          max(col("med")).as("median_cents"),
          max(col("mad")).as("mad_cents"),
          sum(when(col("dev") > col("mad") * 3, 1L).otherwise(0L))
            .as("n_outliers"))
    }),

    // Cohen's kappa between two deterministic annotators (a length-based
    // and a token-count-based quality label): label agreement is the
    // curation signal for weak-supervision pipelines. κ = (n·agree − Σ
    // rA·rB)/(n² − Σ rA·rB) — numerator and denominator exact BIGINTs;
    // the final κ is ONE IEEE division of exact integers, so bit-equal
    // cross-engine without any rounding scheme (κ may be negative, which
    // rules out the trunc-vs-floor integer rounding used elsewhere).
    "c8_label_kappa" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(
          (col("n_chars") >= 300).cast("long").as("a"),
          (size(split(trim(col("text")), "\\s+")) >= 60).cast("long").as("b"))
        .agg(
          count(lit(1)).as("n"),
          sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"),
          sum(col("a")).as("ra1"),
          sum(col("b")).as("rb1"))
        // products in DECIMAL(38,0): n² wraps LONG silently at n ≈ 3e9
        // docs with ANSI off; outputs cast back to BIGINT (exact at any
        // corpus a BIGINT count can describe)
        .withColumn("pe_num", expr(
          "CAST(ra1 AS DECIMAL(38,0)) * rb1 + " +
            "(CAST(n AS DECIMAL(38,0)) - ra1) * (CAST(n AS DECIMAL(38,0)) - rb1)"))
        .withColumn("kappa_num",
          expr("CAST(n AS DECIMAL(38,0)) * agree - pe_num"))
        .withColumn("kappa_den",
          expr("CAST(n AS DECIMAL(38,0)) * n - pe_num"))
        // kappa_den = 0 iff both annotators emit one constant label each
        // (pe_num = n²) — κ is undefined (0/0), so emit NULL rather than
        // NaN; the oracle guards the same case.
        .withColumn("kappa",
          when(col("kappa_den") === 0, lit(null).cast("double"))
            .otherwise(
              col("kappa_num").cast("double") / col("kappa_den").cast("double")))
        .select(col("n"), col("agree"),
          col("kappa_num").cast("long").as("kappa_num"),
          col("kappa_den").cast("long").as("kappa_den"), col("kappa"))),

    // CUSUM changepoint score per user value-series: with per-series total
    // T and length n, the scaled deviation dev_i = 100·v_i·n − T·100 is an
    // exact BIGINT (no mean division); the classic CUSUM⁺ statistic is
    // cum_i − min(cum_1..i), and its max over the series is the score.
    // One shuffle (partition by user), two ordered window passes, O(1)
    // state per row — at 100 TB this is the same one-exchange shape as
    // every W-family query.
    "c6_cusum" -> ((s, dir) => {
      val cents = graft.Num.cents(col("value"))
      val byUser = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
      val ordered = byUser.orderBy(col("ts"), col("event_id"))
      val prefix = ordered.rowsBetween(Long.MinValue, 0)
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), cents.as("cents"))
        .withColumn("n", count(lit(1)).over(byUser))
        .withColumn("total", sum(col("cents")).over(byUser))
        .withColumn("dev", col("cents") * col("n") - col("total"))
        .withColumn("cum", sum(col("dev")).over(prefix))
        .withColumn("runmin", min(col("cum")).over(prefix))
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n_events"),
          max(col("cum") - col("runmin")).as("cusum_max_scaled"))
        .withColumn("cusum_max",
          expr("CAST((cusum_max_scaled * 10000 + (n_events * 100) div 2) div (n_events * 100) AS BIGINT)").cast("double") / 10000.0)
        .select("user_id", "n_events", "cusum_max_scaled", "cusum_max")
    }),

    // Dataset mixture resampling: each source gets a target weight
    // (64..256)/256 derived from its index, and a document survives iff
    // its SALTED key hash falls under the weight — the deterministic
    // "data mixture" step of a training pipeline. The salt ('mix:')
    // decorrelates this hash from c1's split hash; like c1 it is
    // map-only, reprocessing-stable, and never materializes an RNG state.
    "c9_source_mix" -> ((s, dir) => {
      val wnum = (pmod(expr("CAST(substring(source, 4) AS INT)"), lit(4)) + 1) * 64
      Tables.documents(s, dir)
        .withColumn("bucket",
          conv(substring(md5(concat(lit("mix:"), col("doc_id").cast("string"))), 1, 2),
            16, 10).cast("int"))
        .filter(col("bucket") < wnum)
        .select("doc_id", "source")
    }),

    // URL canonicalization + domain blocklist + URL-level dedup — the
    // RefinedWeb/C4 front gate (before any content-based dedup runs):
    // synthesize a deterministic crawl URL per doc (mixed-case host,
    // tracking params; the fixture corpus carries none), canonicalize
    // (lowercase host, strip the query string), flag blocklisted
    // domains, and keep the min doc_id per canonical URL. Map-only
    // expressions plus ONE window keyed by the canonical-URL hash —
    // at 100 TB the shuffle carries the canonical string's md5, and the
    // blocklist is a broadcast literal set (real pipelines: a broadcast
    // table), never a join against the corpus.
    "c11_url_canonicalize" -> ((s, dir) => {
      val host = when(pmod(col("doc_id"), lit(4)) === 0, "News.Example.COM")
        .when(pmod(col("doc_id"), lit(4)) === 1, "blog.example.org")
        .when(pmod(col("doc_id"), lit(4)) === 2, "SPAM.example.com")
        .otherwise("docs.example.net")
      val path = concat(lit("/p/"), expr("doc_id div 5"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("canon_url")))
      Tables.documents(s, dir)
        .withColumn("url",
          concat(lit("https://"), host, path, lit("?utm_source=feed&ref="),
            pmod(col("doc_id"), lit(7))))
        .withColumn("canon_url",
          concat(lit("https://"), lower(host), path))
        .withColumn("blocked",
          lower(host).isin("spam.example.com", "ads.example.net"))
        .withColumn("keep_doc_id", min(col("doc_id")).over(w))
        .select(col("doc_id"), col("url"), col("canon_url"), col("blocked"),
          (!col("blocked") && col("doc_id") === col("keep_doc_id")).as("keep"))
    }),

    // The end-to-end curation pipeline, composed from the primitives
    // above: quality gate (token count in range) → exact near-dup removal
    // (keep min doc_id per content hash) → deterministic split assignment
    // (c1's hash) → per-(split, source) survivor counts + id checksum.
    // This is the query a training-data team actually ships; every stage
    // is the already-verified operator, so the composition is one plan:
    // map-side gate, one dedup shuffle, map-side split, one agg shuffle.
    "c10_curation_pipeline" -> ((s, dir) => {
      val gated = Tables.documents(s, dir)
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")))
        .filter(col("n_tokens") >= 20 && col("n_tokens") <= 400)
      val deduped = gated
        .withColumn("content_hash", md5(col("text")))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("content_hash").orderBy("doc_id")))
        .filter(col("rk") === 1)
      deduped
        .withColumn("split", splitFromBucket(splitBucket))
        .groupBy("split", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("id_checksum"),
          sum(col("n_tokens").cast("long")).as("n_tokens_total"))
    }),

    // Population Stability Index — THE production drift gate (c3's KS
    // statistic answers "did the distribution move"; PSI answers "by how
    // much, per bin" and is what model-monitoring thresholds key on,
    // ref vs current = first vs second half of the month). One map-side
    // (bin, half) count shuffle bounded at 20 cells; all 20 bins
    // materialize via a generated bin table so empty bins carry their
    // Laplace mass; each bin's (p−q)·ln(p/q) term is e12-quantized
    // BEFORE the sum (the t22/NB discipline — integer addition is
    // order-free, so engine summation order can't move the hash).
    "c15_psi_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(Num.cents(col("value")).as("cents"), col("ts"))
      val counts = ev
        .select(expr("greatest(least(cents DIV 1000, 19L), 0L)").as("bin"),
          (col("ts") < lit("2024-01-16").cast("timestamp")).as("is_ref"))
        .groupBy("bin")
        .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("nr"),
          sum(when(!col("is_ref"), 1L).otherwise(0L)).as("nc"))
      val full = s.range(0, 20).select(col("id").as("bin"))
        .join(counts, Seq("bin"), "left")
        .select(col("bin"), coalesce(col("nr"), lit(0L)).as("nr"),
          coalesce(col("nc"), lit(0L)).as("nc"))
      val tot = full.agg(sum("nr").as("tr"), sum("nc").as("tc"))
      full.crossJoin(broadcast(tot))
        .withColumn("term_e12", expr(
          "CAST(floor((((nc + 1.0) / (tc + 20.0)) - ((nr + 1.0) / (tr + 20.0)))" +
          " * ln(((nc + 1.0) / (tc + 20.0)) / ((nr + 1.0) / (tr + 20.0)))" +
          " * 1000000000000 + 0.5) AS BIGINT)"))
        .agg(max(col("tr")).as("n_ref"), max(col("tc")).as("n_cur"),
          sum(col("term_e12")).as("s_e12"))
        .select(col("n_ref"), col("n_cur"),
          Num.r6(col("s_e12").cast("double") / 1000000000000.0).as("psi"))
    }),

    // Robust outlier gate: flag values more than 3 scaled-MADs from the
    // per-type median (median absolute deviation — the robust stddev
    // replacement that one fat-tailed day can't drag, unlike c2's
    // percentile clip which re-fits to the polluted batch). The
    // distributed shape: ONE events scan collapses to the bounded
    // distinct-cents HISTOGRAM per type (≤ |distinct 2-dec values| rows
    // — a type table, not the corpus), and BOTH weighted medians + the
    // gate counts are histogram arithmetic: cumulative sums over the
    // per-type value order recover the exact interpolated median
    // (positions (n+1)/2 and n/2+1, averaged), deviations re-aggregate
    // the SAME histogram, and the outlier count is a conditional sum of
    // histogram weights. Everything is integer in DOUBLED-cent space
    // (2·cents keeps both medians integral: an average of two same-
    // parity ints), so the DuckDB window replay hash-matches exactly;
    // the one FP comparison (dev2 > 3·1.4826·mad2) multiplies the same
    // literal on both engines. The per-type windows order the HISTOGRAM
    // (bounded), never the raw corpus — the t16/sc4 discipline.
    "c16_mad_outliers" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val hist = Tables.events(s, dir)
        .select(col("event_type"), (Num.cents(col("value")) * 2).as("c2"))
        .groupBy(col("event_type"), col("c2")).agg(count(lit(1)).as("cnt"))
      val wOrd = W.partitionBy("event_type").orderBy("c2")
      val wAll = W.partitionBy("event_type")
      val med = hist
        .withColumn("cum", sum(col("cnt")).over(wOrd))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .groupBy(col("event_type"))
        // integer DIV, not `/`: Column./ is always double division, and
        // cum >= (n+1)/2.0 would shift the even-n position by one
        .agg(((min(when(col("cum") >= expr("(n + 1) DIV 2"), col("c2"))) +
            min(when(col("cum") >= expr("n DIV 2 + 1"), col("c2")))) / 2)
          .as("med2"))
      val devHist = hist
        .join(broadcast(med), "event_type")
        .select(col("event_type"), abs(col("c2") - col("med2")).as("dev2"),
          col("cnt"), col("med2"))
        .groupBy(col("event_type"), col("dev2"), col("med2"))
        .agg(sum(col("cnt")).as("cnt"))
      val wDev = W.partitionBy("event_type").orderBy("dev2")
      val mad = devHist
        .withColumn("cum", sum(col("cnt")).over(wDev))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .groupBy(col("event_type"))
        .agg(((min(when(col("cum") >= expr("(n + 1) DIV 2"), col("dev2"))) +
            min(when(col("cum") >= expr("n DIV 2 + 1"), col("dev2")))) / 2)
          .as("mad2"))
      devHist.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(sum(col("cnt")).as("n"),
          sum(when(col("dev2").cast("double") >
              lit(3.0 * 1.4826) * col("mad2").cast("double"), col("cnt"))
            .otherwise(0L)).as("n_outliers"),
          (max(col("med2")).cast("double") / 200.0).as("median_value"),
          (max(col("mad2")).cast("double") / 200.0).as("mad_value"))
    }),

    // Temperature-scaled source mixing (α = 0.5, the multilingual /
    // multi-source sampling rule of the T5/mT5 recipes): sampling weight
    // w_s ∝ n_s^α flattens the source distribution so small sources
    // aren't drowned at training time. A fixed 1M-token budget is
    // allocated across sources by w_s with LARGEST-REMAINDER rounding so
    // the allocations sum to the budget EXACTLY — all integer space:
    // w_s is the exact integer sqrt of the source's char mass
    // (floor(sqrt) + one CASE correction, so no libm ulp can shift a
    // cell), base quota is integer DIV, and the +1 top-up ranks
    // remainders on the bounded |sources|-row table (the c16
    // histogram-window discipline — the window never sees the corpus).
    // Corpus cost: ONE source-keyed counting shuffle (the c12 shape).
    "c17_temperature_mix" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val T = 1000000L
      val counts = Tables.documents(s, dir)
        .groupBy("source").agg(sum(col("n_chars")).as("mass"))
      val f = floor(sqrt(col("mass").cast("double"))).cast("long")
      val weighted = counts.withColumn("w",
        when((f + 1) * (f + 1) <= col("mass"), f + 1)
          .when(f * f > col("mass"), f - 1)
          .otherwise(f))
      val tot = weighted.agg(sum(col("w")).as("tw"))
      val base = weighted.crossJoin(broadcast(tot))
        .withColumn("base", expr(s"($T * w) DIV tw"))
        .withColumn("rem", expr(s"($T * w) % tw"))
      val leftover = base.agg((lit(T) - sum(col("base"))).as("spare"))
      val wR = W.orderBy(col("rem").desc, col("source")) // |sources| rows
      base.crossJoin(broadcast(leftover))
        .withColumn("rk", row_number().over(wR))
        .select(col("source"), col("mass"), col("w").as("weight"),
          (col("base") +
            when(col("rk") <= col("spare"), 1L).otherwise(0L))
            .as("alloc_tokens"))
    }),

    // Per-group winsorization — clip each event's value into its own
    // type's [p05, p95] band (the robust-preprocessing step sklearn
    // pipelines run before scaling; the MAD gate's (c7/c16) smoothing
    // sibling: instead of DROPPING outliers, pull them to the fence).
    // Plan: ONE per-type exact-interpolated percentile agg (5 rows),
    // broadcast back onto the stream, map-only clip — the a8
    // broadcast-statistic shape; at 100 TB the corpus is scanned twice
    // (once for the quantile agg, once for the clip) and shuffled never.
    // Exactness: Spark `percentile` and DuckDB `quantile_cont` agree on
    // the same interpolation (a7's proven pairing), r6-rounded before
    // the clip so the fence is the identical double in both engines.
    "c19_winsorize" -> ((s, dir) => {
      val fences = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(Num.r6(expr("percentile(value, 0.05)")).as("lo"),
          Num.r6(expr("percentile(value, 0.95)")).as("hi"))
      Tables.events(s, dir)
        .join(broadcast(fences), "event_type")
        .select(col("event_id"), col("event_type"),
          least(greatest(col("value"), col("lo")), col("hi"))
            .as("v_winsorized"),
          (col("value") < col("lo")).cast("int").as("clipped_low"),
          (col("value") > col("hi")).cast("int").as("clipped_high"))
    })
  )

  private val EmailRe = "[a-zA-Z0-9._]+@[a-zA-Z0-9.-]+"
  private val PhoneRe = "[+]1-555-[0-9]{4}"
  private val Ipv4Re = "10[.]0[.][0-9]+[.]7"

  def oracleSql: Map[String, String] = Map(
    "c15_psi_drift" ->
      """WITH ev AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    ts
        |  FROM events WHERE event_type = 'purchase'
        |), b AS (
        |  SELECT greatest(least(cents // 1000, 19), 0) AS bin,
        |    (ts < TIMESTAMP '2024-01-16') AS is_ref
        |  FROM ev
        |), counts AS (
        |  SELECT bin,
        |    sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS nr,
        |    sum(CASE WHEN NOT is_ref THEN 1 ELSE 0 END) AS nc
        |  FROM b GROUP BY 1
        |), fullb AS (
        |  SELECT g.range AS bin, coalesce(nr, 0) AS nr, coalesce(nc, 0) AS nc
        |  FROM range(20) g LEFT JOIN counts ON counts.bin = g.range
        |), tot AS (
        |  SELECT sum(nr) AS tr, sum(nc) AS tc FROM fullb
        |), terms AS (
        |  SELECT tr, tc,
        |    CAST(floor((((nc + 1.0) / (tc + 20.0)) - ((nr + 1.0) / (tr + 20.0)))
        |      * ln(((nc + 1.0) / (tc + 20.0)) / ((nr + 1.0) / (tr + 20.0)))
        |      * 1000000000000 + 0.5) AS BIGINT) AS term_e12
        |  FROM fullb CROSS JOIN tot
        |)
        |SELECT CAST(max(tr) AS BIGINT) AS n_ref, CAST(max(tc) AS BIGINT) AS n_cur,
        |  floor((CAST(sum(term_e12) AS DOUBLE) / 1000000000000.0) * 1000000
        |    + 0.5) / 1000000 AS psi
        |FROM terms""".stripMargin,
    "c16_mad_outliers" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) * 2 AS c2
        |  FROM events
        |), hist AS (
        |  SELECT event_type, c2, count(*) AS cnt FROM ev GROUP BY 1, 2
        |), hc AS (
        |  SELECT event_type, c2, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY c2) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM hist
        |), med AS (
        |  SELECT event_type,
        |    (min(CASE WHEN cum >= (n + 1) // 2 THEN c2 END) +
        |     min(CASE WHEN cum >= n // 2 + 1 THEN c2 END)) / 2.0 AS med2
        |  FROM hc GROUP BY 1
        |), dev AS (
        |  SELECT h.event_type, abs(h.c2 - m.med2) AS dev2, m.med2,
        |    sum(h.cnt) AS cnt
        |  FROM hist h JOIN med m USING (event_type) GROUP BY 1, 2, 3
        |), dc AS (
        |  SELECT event_type, dev2, cnt,
        |    sum(cnt) OVER (PARTITION BY event_type ORDER BY dev2) AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type) AS n
        |  FROM dev
        |), mad AS (
        |  SELECT event_type,
        |    (min(CASE WHEN cum >= (n + 1) // 2 THEN dev2 END) +
        |     min(CASE WHEN cum >= n // 2 + 1 THEN dev2 END)) / 2.0 AS mad2
        |  FROM dc GROUP BY 1
        |)
        |SELECT d.event_type, CAST(sum(d.cnt) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN d.dev2 > 3.0 * 1.4826 * m.mad2
        |    THEN d.cnt ELSE 0 END) AS BIGINT) AS n_outliers,
        |  max(d.med2) / 200.0 AS median_value,
        |  max(m.mad2) / 200.0 AS mad_value
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY 1""".stripMargin,
    "c17_temperature_mix" ->
      """WITH c AS (
        |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS mass
        |  FROM documents GROUP BY 1
        |), w AS (
        |  SELECT source, mass,
        |    CASE WHEN (f + 1) * (f + 1) <= mass THEN f + 1
        |         WHEN f * f > mass THEN f - 1
        |         ELSE f END AS w
        |  FROM (SELECT source, mass,
        |          CAST(floor(sqrt(CAST(mass AS DOUBLE))) AS BIGINT) AS f
        |        FROM c)
        |), t AS (
        |  SELECT CAST(sum(w) AS BIGINT) AS tw FROM w
        |), b AS (
        |  SELECT source, mass, w,
        |    (1000000 * w) // tw AS base,
        |    (1000000 * w) % tw AS rem
        |  FROM w CROSS JOIN t
        |), l AS (
        |  SELECT 1000000 - CAST(sum(base) AS BIGINT) AS spare FROM b
        |), r AS (
        |  SELECT source, mass, w, base,
        |    row_number() OVER (ORDER BY rem DESC, source) AS rk
        |  FROM b
        |)
        |SELECT source, mass, CAST(w AS BIGINT) AS weight,
        |  CAST(base + CASE WHEN rk <= spare THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc_tokens
        |FROM r CROSS JOIN l""".stripMargin,
    "c1_hash_split" ->
      """SELECT doc_id,
        |  CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INT) AS INT) AS bucket,
        |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INT) < 205 THEN 'train'
        |       WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INT) < 230 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin,
    "c18_fellegi_sunter" ->
      """WITH clean AS (
        |  SELECT p_partkey AS clean_id, split_part(p_name, ' ', 1) AS blk,
        |    p_brand AS brand_c, p_size AS size_c,
        |    CAST(floor(p_retailprice / 100.0) AS BIGINT) AS pb_c
        |  FROM part
        |), dirty AS (
        |  SELECT clean_id + 1000000 AS dirty_id, blk, brand_c AS brand_d,
        |    size_c AS size_d, pb_c AS pb_d
        |  FROM clean WHERE clean_id % 10 = 0
        |), cand AS (
        |  SELECT d.dirty_id, c.clean_id,
        |    CASE WHEN d.dirty_id - 1000000 = c.clean_id THEN 1 ELSE 0 END
        |      AS is_match,
        |    d.brand_d, c.brand_c, d.size_d, c.size_c, d.pb_d, c.pb_c
        |  FROM dirty d JOIN clean c USING (blk)
        |), fields AS (
        |  SELECT is_match, 'brand' AS field,
        |    CASE WHEN brand_d = brand_c THEN 1 ELSE 0 END AS agree FROM cand
        |  UNION ALL
        |  SELECT is_match, 'size',
        |    CASE WHEN size_d = size_c THEN 1 ELSE 0 END FROM cand
        |  UNION ALL
        |  SELECT is_match, 'price_bucket',
        |    CASE WHEN pb_d = pb_c THEN 1 ELSE 0 END FROM cand
        |), agg AS (
        |  SELECT field,
        |    CAST(sum(is_match) AS BIGINT) AS n_match,
        |    CAST(sum(1 - is_match) AS BIGINT) AS n_nonmatch,
        |    CAST(sum(agree * is_match) AS BIGINT) AS a_match,
        |    CAST(sum(agree * (1 - is_match)) AS BIGINT) AS a_nonmatch
        |  FROM fields GROUP BY 1
        |)
        |SELECT field, n_match, n_nonmatch,
        |  floor((CAST(a_match + 1 AS DOUBLE) / CAST(n_match + 2 AS DOUBLE))
        |    * 1000000 + 0.5) / 1000000 AS m_prob,
        |  floor((CAST(a_nonmatch + 1 AS DOUBLE)
        |      / CAST(n_nonmatch + 2 AS DOUBLE))
        |    * 1000000 + 0.5) / 1000000 AS u_prob,
        |  CAST(CAST(floor(ln(((a_match + 1) / CAST(n_match + 2 AS DOUBLE))
        |      / ((a_nonmatch + 1) / CAST(n_nonmatch + 2 AS DOUBLE)))
        |    * 1000000 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0
        |    AS agreement_weight
        |FROM agg""".stripMargin,
    "c14_fuzzy_linkage" ->
      """WITH clean AS (
        |  SELECT p_partkey AS clean_id, p_name AS name,
        |         split_part(p_name, ' ', 1) AS blk
        |  FROM part
        |), dirty AS (
        |  SELECT clean_id + 1000000 AS dirty_id,
        |         substr(name, 1, length(name) - 1) AS dname, blk
        |  FROM clean WHERE clean_id % 10 = 0
        |), cand AS (
        |  SELECT dirty_id, clean_id,
        |         CAST(levenshtein(dname, name) AS BIGINT) AS dist
        |  FROM dirty JOIN clean USING (blk)
        |  WHERE levenshtein(dname, name) <= 2
        |)
        |SELECT dirty_id, clean_id AS matched_id, dist
        |FROM cand
        |QUALIFY row_number() OVER (
        |  PARTITION BY dirty_id ORDER BY dist, clean_id) = 1""".stripMargin,
    "c12_source_rebalance" ->
      """WITH c AS (
        |  SELECT source, count(*) AS cnt FROM documents GROUP BY 1
        |), t AS (
        |  SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |    count(*) AS n_sources FROM c
        |), thr AS (
        |  SELECT source,
        |    least(256, 256 * total // (n_sources * cnt)) AS thr
        |  FROM c CROSS JOIN t
        |)
        |SELECT doc_id, source,
        |  CAST(CAST('0x' || substr(md5('rs' || CAST(doc_id AS VARCHAR)), 1, 2)
        |    AS INT) AS BIGINT) AS rs_bucket,
        |  CAST(thr AS BIGINT) AS thr,
        |  CAST(CAST('0x' || substr(md5('rs' || CAST(doc_id AS VARCHAR)), 1, 2)
        |    AS INT) AS BIGINT) < thr AS kept
        |FROM documents JOIN thr USING (source)""".stripMargin,
    "c13_unicode_normalize" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    text || ' caf' ||
        |      CASE WHEN doc_id % 2 = 0 THEN chr(233)
        |           ELSE 'e' || chr(769) END AS raw
        |  FROM documents
        |)
        |SELECT doc_id,
        |  raw != nfc_normalize(raw) AS changed,
        |  CAST(length(raw) AS BIGINT) AS len_raw,
        |  CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_norm,
        |  right(nfc_normalize(raw), 4) AS tail
        |FROM r""".stripMargin,
    "c2_pii_redact" ->
      s"""WITH raw AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id || '@corp.example or +1-555-' ||
         |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         |    ' ip 10.0.' || (doc_id % 256) || '.7' AS raw
         |  FROM documents
         |)
         |SELECT doc_id,
         |  len(regexp_extract_all(raw, '$EmailRe')) AS n_emails,
         |  len(regexp_extract_all(raw, '$PhoneRe')) AS n_phones,
         |  len(regexp_extract_all(raw, '$Ipv4Re')) AS n_ips,
         |  regexp_replace(regexp_replace(regexp_replace(raw,
         |    '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g'),
         |    '$Ipv4Re', '<IP>', 'g') AS redacted
         |FROM raw""".stripMargin,
    "c3_ks_drift" ->
      """WITH s AS (
        |  SELECT CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
        |    CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
        |  FROM events WHERE event_type IN ('click', 'view')
        |), per AS (
        |  SELECT cents, sum(a) AS ca, sum(b) AS cb FROM s GROUP BY cents
        |), cum AS (
        |  SELECT
        |    sum(ca) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS f1,
        |    sum(cb) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS f2,
        |    sum(ca) OVER () AS n1,
        |    sum(cb) OVER () AS n2
        |  FROM per
        |)
        |SELECT CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
        |  CAST(max(abs(f1 * n2 - f2 * n1)) AS BIGINT) AS d_num,
        |  CAST((max(abs(f1 * n2 - f2 * n1)) * 1000000 + (max(n1) * max(n2)) // 2)
        |       // (max(n1) * max(n2)) AS BIGINT) / 1000000.0 AS d_stat
        |FROM cum""".stripMargin,
    "c4_chi_square" ->
      """WITH cells AS (
        |  SELECT c_mktsegment AS seg, c_nationkey % 5 AS ng, count(*) AS o
        |  FROM customer GROUP BY 1, 2
        |), m AS (
        |  SELECT seg, ng, o,
        |    sum(o) OVER (PARTITION BY seg) AS r,
        |    sum(o) OVER (PARTITION BY ng) AS c,
        |    sum(o) OVER () AS n
        |  FROM cells
        |), t AS (
        |  SELECT n,
        |    (CAST(n AS HUGEINT) * o - CAST(r AS HUGEINT) * c) AS num,
        |    CAST(n AS HUGEINT) * r * c AS den
        |  FROM m
        |)
        |SELECT count(*) AS n_cells, CAST(max(n) AS BIGINT) AS n,
        |  CAST(sum((num * num * 1000000 + den // 2) // den) AS BIGINT) AS chi2_e6,
        |  CAST(CAST(sum((num * num * 1000000 + den // 2) // den) AS BIGINT) AS DOUBLE) / 1000000.0 AS chi2
        |FROM t""".stripMargin,
    "c5_quantile_bins" ->
      """WITH ranked AS (
        |  SELECT o_orderkey, o_totalprice,
        |    ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS bin
        |  FROM orders
        |)
        |SELECT bin, count(*) AS n_rows,
        |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
        |FROM ranked GROUP BY bin ORDER BY bin""".stripMargin,
    "c10_curation_pipeline" ->
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |  FROM documents
        |), gated AS (
        |  SELECT * FROM t WHERE n_tokens BETWEEN 20 AND 400
        |), deduped AS (
        |  SELECT doc_id, source, n_tokens,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rk
        |  FROM gated
        |  QUALIFY rk = 1
        |)
        |SELECT
        |  CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INT) < 205 THEN 'train'
        |       WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS INT) < 230 THEN 'val'
        |       ELSE 'test' END AS split,
        |  source, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_checksum,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
        |FROM deduped GROUP BY 1, 2""".stripMargin,
    "c11_url_canonicalize" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4 WHEN 0 THEN 'News.Example.COM'
        |         WHEN 1 THEN 'blog.example.org'
        |         WHEN 2 THEN 'SPAM.example.com'
        |         ELSE 'docs.example.net' END AS host,
        |    '/p/' || (doc_id // 5) AS path
        |  FROM documents
        |), u AS (
        |  SELECT doc_id,
        |    'https://' || host || path || '?utm_source=feed&ref=' || (doc_id % 7) AS url,
        |    'https://' || lower(host) || path AS canon_url,
        |    lower(host) IN ('spam.example.com', 'ads.example.net') AS blocked
        |  FROM h
        |)
        |SELECT doc_id, url, canon_url, blocked,
        |  NOT blocked AND doc_id = min(doc_id) OVER (PARTITION BY canon_url)
        |    AS keep
        |FROM u""".stripMargin,
    "c9_source_mix" ->
      """SELECT doc_id, source
        |FROM documents
        |WHERE CAST('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2) AS INT)
        |      < (CAST(substring(source, 4) AS INT) % 4 + 1) * 64""".stripMargin,
    "c7_mad_outliers" ->
      """WITH s AS (
        |  SELECT user_id, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events
        |), r AS (
        |  SELECT user_id, event_id, cents,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    row_number() OVER (PARTITION BY user_id ORDER BY cents, event_id) AS rn
        |  FROM s
        |), m AS (
        |  SELECT user_id, event_id, cents, n,
        |    max(CASE WHEN rn = (n + 1) // 2 THEN cents END)
        |      OVER (PARTITION BY user_id) AS med
        |  FROM r
        |), d AS (
        |  SELECT user_id, event_id, n, med, abs(cents - med) AS dev,
        |    row_number() OVER (PARTITION BY user_id ORDER BY abs(cents - med), event_id) AS rn2
        |  FROM m
        |), md AS (
        |  SELECT user_id, n, med, dev,
        |    max(CASE WHEN rn2 = (n + 1) // 2 THEN dev END)
        |      OVER (PARTITION BY user_id) AS mad
        |  FROM d
        |)
        |SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
        |  CAST(max(med) AS BIGINT) AS median_cents,
        |  CAST(max(mad) AS BIGINT) AS mad_cents,
        |  CAST(sum(CASE WHEN dev > mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM md GROUP BY user_id""".stripMargin,
    "c8_label_kappa" ->
      """WITH l AS (
        |  SELECT
        |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 60
        |         THEN 1 ELSE 0 END AS b
        |  FROM documents
        |), agg AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS BIGINT) AS agree,
        |    CAST(sum(a) AS BIGINT) AS ra1, CAST(sum(b) AS BIGINT) AS rb1
        |  FROM l
        |), k AS (
        |  -- products in HUGEINT (the DuckDB twin of Spark's DECIMAL(38,0)
        |  -- path) so n² does not overflow BIGINT at n ≈ 3e9 docs
        |  SELECT n, agree,
        |    CAST(n AS HUGEINT) * agree
        |      - (CAST(ra1 AS HUGEINT) * rb1
        |         + (CAST(n AS HUGEINT) - ra1) * (CAST(n AS HUGEINT) - rb1)) AS knum,
        |    CAST(n AS HUGEINT) * n
        |      - (CAST(ra1 AS HUGEINT) * rb1
        |         + (CAST(n AS HUGEINT) - ra1) * (CAST(n AS HUGEINT) - rb1)) AS kden
        |  FROM agg
        |)
        |SELECT n, agree,
        |  CAST(knum AS BIGINT) AS kappa_num,
        |  CAST(kden AS BIGINT) AS kappa_den,
        |  CASE WHEN kden = 0 THEN NULL
        |       ELSE CAST(knum AS DOUBLE) / CAST(kden AS DOUBLE) END AS kappa
        |FROM k""".stripMargin,
    "c6_cusum" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events
        |), d AS (
        |  SELECT user_id, ts, event_id, cents,
        |    count(*) OVER (PARTITION BY user_id) AS n,
        |    sum(cents) OVER (PARTITION BY user_id) AS total
        |  FROM s
        |), c0 AS (
        |  SELECT user_id, n, ts, event_id,
        |    sum(cents * n - total) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d
        |), c AS (
        |  SELECT user_id, n, cum,
        |    min(cum) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS runmin
        |  FROM c0
        |)
        |SELECT user_id, CAST(max(n) AS BIGINT) AS n_events,
        |  CAST(max(cum - runmin) AS BIGINT) AS cusum_max_scaled,
        |  CAST((max(cum - runmin) * 10000 + (max(n) * 100) // 2) // (max(n) * 100) AS BIGINT) / 10000.0 AS cusum_max
        |FROM c GROUP BY user_id""".stripMargin,
    "c19_winsorize" ->
      """WITH fences AS (
        |  SELECT event_type,
        |    floor((quantile_cont(value, 0.05)) * 1000000 + 0.5) / 1000000 AS lo,
        |    floor((quantile_cont(value, 0.95)) * 1000000 + 0.5) / 1000000 AS hi
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_id, e.event_type,
        |  least(greatest(e.value, f.lo), f.hi) AS v_winsorized,
        |  CAST(e.value < f.lo AS INT) AS clipped_low,
        |  CAST(e.value > f.hi AS INT) AS clipped_high
        |FROM events e JOIN fences f USING (event_type)""".stripMargin
  )
}
