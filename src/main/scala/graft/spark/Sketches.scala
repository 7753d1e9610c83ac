package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cardinality sketches for the training-data pipeline.
  *
  * At 100 TB, "how many distinct documents per domain" cannot be a
  * `count(distinct ...)` — the exact aggregate shuffles every distinct
  * key. HyperLogLog (Flajolet, Fusy, Gandouet, Meunier 2007, incl. the
  * small-range linear-counting correction) keeps a fixed 2^p-register
  * state per group that
  * merges associatively, so the whole corpus collapses map-side and the
  * exchange carries ≤ groups·m tiny rows. Spark ships
  * `approx_count_distinct` (also HLL), but its hash/state are opaque to
  * the DuckDB oracle; this implementation derives every bit from
  * [[Hash61]] so registers, harmonic sums, and the final estimate are
  * bit-reproducible in SQL (the repo's correctness bar).
  *
  * Determinism contract (load-bearing for the oracle):
  *  - the document hash is the fingerprint fold (mulmod/rawWordHash in
  *    GF(2^61−1)) finished with `Hash61.mix` — pure row-local;
  *  - per-(group, register) state is `max(rho)` — order-free, map-side
  *    combined;
  *  - the harmonic sum folds registers in ASCENDING register order from
  *    0.0 (`list_reduce(list(... ORDER BY register))` on the DuckDB
  *    side), and every term is a power of two — exact in IEEE754;
  *  - the only transcendental (the `ln` of the small-range linear
  *    counting branch) is floored to 6 decimals on both sides.
  */
object Sketches {

  /** Per-source HLL distinct-content estimate next to the exact count of
    * distinct FINGERPRINTS (the verifier the estimate is judged against
    * in SketchSpec). Caveat in the name (ADVICE r3): the verifier counts
    * distinct 61-bit word-sequence fingerprints, not distinct document
    * bytes — a fingerprint collision (or two texts with identical word
    * splits but different whitespace) undercounts it identically on both
    * Spark and oracle sides; the byte-exact distinct count lives in
    * `corpus_stats_by_domain` (md5). Output: (source, n_docs,
    * distinct_fingerprints, registers_used, hll_estimate). */
  def hllDistinctPerSource(spark: SparkSession, sfDir: String,
      p: Int = 9): DataFrame = {
    import spark.implicits._
    require(p >= 4 && p <= 16, s"p=$p out of range")
    val m = 1 << p
    val width = 61 - p

    val hashed = TableIO.rebalanceSmall(TableIO(spark, sfDir).read("documents")
      .select("source", "text").as[(String, String)])
      .map { case (src, text) =>
        val words = text.split("\\s+").filter(_.nonEmpty)
        var fp = 0L
        words.foreach { w =>
          fp = (Hash61.mulmod(fp, TextAnalysis.FingerprintBase) + Hash61.rawWordHash(w)) % Hash61.M
        }
        val h = Hash61.mix(fp)
        val reg = (h & (m - 1)).toInt
        val w = h >>> p
        // rank of the first 1-bit inside the (61-p)-wide word; all-zero
        // word ranks width+1 (standard HLL rho)
        val rho =
          if (w == 0L) width + 1
          else width + 1 - (64 - java.lang.Long.numberOfLeadingZeros(w))
        (src, h, reg, rho)
      }.toDF("source", "h", "register", "rho")

    // ONE corpus pass: per (source, register) the sketch state (max rho)
    // plus the doc count and exact distinct-h count — h determines its
    // register, so per-register distinct counts sum to the per-source
    // exact distinct. Map-side combined; the corpus is hashed once.
    val registers = hashed.groupBy("source", "register")
      .agg(max("rho").as("rho"), count(lit(1)).as("c"),
        countDistinct(col("h")).as("d"))

    registers.as[(String, Int, Int, Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (src, it) =>
        val present = it.map(t => (t._2, t._3, t._4, t._5)).toArray.sortBy(_._1)
        var sum = 0.0
        var nDocs = 0L
        var exact = 0L
        present.foreach { case (_, r, c, d) =>
          sum += math.pow(2.0, -r); nDocs += c; exact += d
        }
        val zeros = m - present.length
        val total = sum + zeros.toDouble // absent registers contribute 2^-0
        val alpha = 0.7213 / (1.0 + 1.079 / m)
        val raw = alpha * m * m / total
        val est =
          if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
          else raw
        // 6-decimal floor: the linear-counting ln is the one term whose
        // last ulp is not contractually identical across libm builds
        (src, nDocs, exact, present.length.toLong, math.floor(est * 1e6) / 1e6)
      }.toDF("source", "n_docs", "distinct_fingerprints", "registers_used", "hll_estimate")
  }

  /** DuckDB replay of [[hllDistinctPerSource]]: fingerprint fold + mix,
    * register/rho in HUGEINT, max-rho registers, ordered harmonic fold,
    * same estimator constants, same 6-decimal floor. */
  def hllDistinctSql(p: Int = 9): String = {
    val m = 1 << p
    val width = 61 - p
    val fpFold =
      "list_reduce(list_prepend(0::HUGEINT, list_transform(" +
        "list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> ''), " +
        s"w -> ${Hash61.rawWordHashSql("w")})), " +
        s"(fa_, fb_) -> (fa_ * ${TextAnalysis.FingerprintBase} + fb_) % ${Hash61.M}::HUGEINT)"
    s"WITH fp AS MATERIALIZED (SELECT doc_id, source, ${Hash61.mixSql(fpFold)} AS h FROM documents), " +
      s"reg AS MATERIALIZED (SELECT source, h, CAST(h % $m AS INTEGER) AS register, h // $m AS w FROM fp), " +
      "rr AS MATERIALIZED (SELECT source, register, MAX(CASE WHEN w = 0 " +
      s"THEN ${width + 1} ELSE ${width + 1} - length(bin(CAST(w AS UBIGINT))) END) AS rho " +
      "FROM reg GROUP BY source, register), " +
      "ag AS MATERIALIZED (SELECT source, CAST(count(*) AS BIGINT) AS registers_used, " +
      "list_reduce(list_prepend(0.0, list(pow(2.0, -rho) ORDER BY register)), (ha_, hb_) -> ha_ + hb_) AS hsum " +
      "FROM rr GROUP BY source), " +
      "ex AS MATERIALIZED (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(count(DISTINCT h) AS BIGINT) AS distinct_fingerprints FROM reg GROUP BY source), " +
      "es AS (SELECT source, registers_used, " +
      s"(0.7213 / (1 + 1.079 / $m)) * $m * $m / (hsum + CAST($m - registers_used AS DOUBLE)) AS raw, " +
      s"CAST($m - registers_used AS BIGINT) AS zeros FROM ag) " +
      "SELECT ex.source, ex.n_docs, ex.distinct_fingerprints, es.registers_used, " +
      s"floor((CASE WHEN es.raw <= ${2.5 * m} AND es.zeros > 0 " +
      s"THEN $m * ln(CAST($m AS DOUBLE) / es.zeros) ELSE es.raw END) * 1000000) / 1000000 AS hll_estimate " +
      "FROM ex JOIN es ON es.source = ex.source"
  }

  /** Count-Min-sketch heavy hitters (Cormode & Muthukrishnan 2005) —
    * the frequency twin of the HLL cardinality sketch: which tokens
    * dominate the corpus, without a corpus-wide exact top-k.
    *
    * Scale shape: the sketch is a FIXED depth×width counter matrix
    * built by one map-side-combined hash-aggregate (the exchange
    * carries ≤ d·w rows no matter the corpus — the shape an exact
    * per-token count can't have); candidate heavy hitters are the
    * distinct tokens whose sketch estimate clears `total/heavyDenom`
    * (CMS overestimates, so candidates ⊇ true heavy hitters — the
    * false-positive direction is safe); a second pass counts ONLY the
    * candidates exactly (a semi-join-restricted aggregate — cheap
    * because the candidate set is tiny by construction). The verdict
    * column `is_true_heavy` exposes the sketch's false positives
    * instead of hiding them.
    *
    * The corpus total is an unpartitioned window over the counter matrix,
    * so one partition holds up to depth·width rows: 2048 at the defaults,
    * ~16.8 M at the `require` bound (16 × 2^20).
    *
    * Emits (word, cms_est, exact_cnt, is_true_heavy). */
  def cmsHeavyHitters(spark: SparkSession, sfDir: String,
      depth: Int = 4, width: Int = 512, heavyDenom: Int = 64): DataFrame = {
    import spark.implicits._
    require(depth >= 1 && depth <= 16 && width >= 16 && width <= (1 << 20),
      "sketch dimensions must stay a bounded broadcastable state")
    val seeds = Array.tabulate(depth)(r => Hash61.mix(1000L + r))
    val words = TableIO.rebalanceSmall(TableIO(spark, sfDir).read("documents")
      .select("text").as[String])
      .flatMap(_.split(" ").iterator.filter(_.nonEmpty))
      .toDF("word")
    // one occurrence pass builds the whole matrix (map-side combined)
    val counters = words.as[String].flatMap { w =>
      val h = Hash61.wordHash(w)
      (0 until depth).iterator.map(r => (r, (Hash61.mix(h ^ seeds(r)) % width).toInt))
    }.toDF("r", "col").groupBy("r", "col").agg(count(lit(1)).as("c"))
    // the corpus total rides the sketch: every occurrence contributes
    // exactly one row-0 counter increment, so summing row 0 of the
    // (≤ d·w row) matrix IS the occurrence count — the dedicated
    // corpus-wide count() pass this replaces was a full tokenize scan
    // for a number the sketch already holds (guide §1.2). It is
    // attached as an unpartitioned window sum over the counter frame
    // itself (single-partition over ≤ d·w rows — fixed sketch state,
    // corpus-size independent) so the plan holds exactly ONE sketch
    // subtree: a second reference would re-run the tokenize pass
    // (typed-lambda subtrees defeat exchange reuse), and the broadcast
    // crossJoin the separate totals frame needed disappears with it
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val countersT = counters.withColumn("total",
      sum(when(col("r") === 0, col("c")).otherwise(0L)).over(wAll))
    // probe the sketch for every DISTINCT token (vocabulary-bounded)
    val probes = words.distinct().as[String].flatMap { w =>
      val h = Hash61.wordHash(w)
      (0 until depth).iterator.map(r => (w, r, (Hash61.mix(h ^ seeds(r)) % width).toInt))
    }.toDF("word", "r", "col")
    val est = probes.join(countersT, Seq("r", "col"))
      .groupBy("word").agg(min(col("c")).as("cms_est"), first(col("total")).as("total"))
    val cand = est.where(col("cms_est") * heavyDenom >= col("total"))
    // exact pass restricted to the candidates the sketch surfaced
    val exact = words.join(broadcast(cand.select("word")), "word")
      .groupBy("word").agg(count(lit(1)).as("exact_cnt"))
    cand.join(exact, "word")
      .select(col("word"), col("cms_est"), col("exact_cnt"),
        (col("exact_cnt") * heavyDenom >= col("total")).cast("long").as("is_true_heavy"))
  }

  /** DuckDB replay of [[cmsHeavyHitters]]: same seeds, same xor-mix
    * coordinates, same min-over-rows estimate, same candidate gate. */
  def cmsHeavyHittersSql(depth: Int = 4, width: Int = 512,
      heavyDenom: Int = 64): String = {
    val seedList = (0 until depth)
      .map(r => s"(${r}, ${Hash61.mix(1000L + r)}::HUGEINT)").mkString(", ")
    val coord = Hash61.mixSql("xor(h, seed)")
    s"WITH sd(r, seed) AS (VALUES $seedList), " +
      "w AS MATERIALIZED (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word FROM documents), " +
      s"hw AS MATERIALIZED (SELECT word, ${Hash61.wordHashSql("word")} AS h FROM (SELECT DISTINCT word FROM w)), " +
      "occ AS MATERIALIZED (SELECT w.word, hw.h FROM w JOIN hw USING (word)), " +
      s"co AS MATERIALIZED (SELECT r, CAST($coord % $width AS INTEGER) AS col FROM occ CROSS JOIN sd), " +
      "cnt AS MATERIALIZED (SELECT r, col, CAST(COUNT(*) AS BIGINT) AS c FROM co GROUP BY 1, 2), " +
      s"pr AS (SELECT word, r, CAST($coord % $width AS INTEGER) AS col FROM hw CROSS JOIN sd), " +
      "est AS (SELECT word, MIN(c) AS cms_est FROM pr JOIN cnt USING (r, col) GROUP BY word), " +
      "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM w), " +
      s"cand AS (SELECT word, cms_est, total FROM est CROSS JOIN tot WHERE cms_est * $heavyDenom >= total), " +
      "ex AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM w " +
      "WHERE word IN (SELECT word FROM cand) GROUP BY word) " +
      "SELECT cand.word, cand.cms_est, ex.exact_cnt, " +
      s"CAST(CASE WHEN ex.exact_cnt * $heavyDenom >= cand.total THEN 1 ELSE 0 END AS BIGINT) AS is_true_heavy " +
      "FROM cand JOIN ex USING (word)"
  }
}
