package graft

import graft.dom.HtmlParser
import graft.extract.{ExtractOptions, Extractor, Pages, Titles}
import graft.spark._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator family
  * from SURVEY.md §2 plus the training-pipeline operators. As of round 2
  * EVERY query has a DuckDB oracle in `oracleSql` (rows+schema+hash
  * checked at sf0.01 and sf0.1): closed forms over the fixed transcript
  * wrap where the pipeline output is derivable (incl. a recursive-CTE
  * replay of the greedy chunker and the retry-acceptance length formula),
  * and whole-algorithm SQL replays where it is not — GF(2^61-1) signature
  * kernels in HUGEINT (Hash61), Spark-Murmur3 bucket ids, LSH hyperplanes,
  * and the 5-iteration Lloyd/IVF quantizer (OracleGen). Doubles survive
  * the hash compare because both sides compute strict left-to-right
  * IEEE sums (dot_f64 == DuckDB list_dot_product — SimilaritySpec). */
object SparkEntry {

  /** Flagship: full extraction pipeline over the synthetic transcript
    * table at sf0.001 (driver smoke-checks rows>0). */
  def entry(spark: SparkSession): DataFrame = {
    val turns = TranscriptGen.turns(spark, "/root/testdata/sf0.001", turnsPerDoc = 2)
    ExtractJob.run(spark, turns, numBuckets = 8).extracted
      .toDF().select("conv_id", "turn_idx", "confidence", "extracted_text", "failed")
  }

  // Every oracle-checked query filters to substantial documents so the
  // ruthless pass never falls into the lenient retry (SURVEY.md §2j).
  private val MinChars = 250

  /** DuckDB SQL for what extraction returns from `TranscriptGen.htmlWrap`
    * of a `documents` row: the heading plus the whitespace-normalized text. */
  private val wrappedTextSql = "'Heading ' || CAST(doc_id AS VARCHAR) || ' ' || " +
    "trim(regexp_replace(text, '\\s+', ' ', 'g'))"

  /** The roundtrip oracle: (doc_id, extracted_text) of every wrapped
    * document — shared by every face that extracts the roundtrip table. */
  private val roundtripOracle = "SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
    s"$wrappedTextSql AS extracted_text FROM documents WHERE n_chars >= $MinChars"

  /** The roundtrip transcript table through the extraction operator. */
  private def roundtripExtracted(s: SparkSession, dir: String): DataFrame =
    GraftOps.extractTurns(TranscriptGen.roundtripTurns(s, dir, MinChars).toDF())

  /** (doc_id, extracted_text) of every wrapped document. */
  private val roundtrip: (SparkSession, String) => DataFrame = (s, dir) =>
    roundtripExtracted(s, dir)
      .selectExpr("CAST(turn_idx AS BIGINT) AS doc_id", "extracted_text")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction engine (S1-S4, P1-P12, A1-A6, W1-W2, 2i, 2j) ----
    "extract_roundtrip" -> roundtrip,
    "extract_flagship" -> ((s, dir) => {
      ExtractJob.run(s, TranscriptGen.turns(s, dir, turnsPerDoc = 2), numBuckets = 32)
        .extracted.toDF()
        .select("conv_id", "turn_idx", "confidence", "extracted_text", "failed")
    }),
    "extract_spans" -> ((s, dir) => {
      // spans are UTF-16 offsets: slice with String.substring, not SQL
      // substring, which counts code points
      import s.implicits._
      roundtripExtracted(s, dir).as[ExtractedTurn]
        .flatMap { r =>
          r.spans.zipWithIndex.map { case (sp, i) =>
            (r.conv_id, r.turn_idx, i, sp.start, sp.end,
              r.extracted_text.substring(sp.start, sp.end))
          }
        }.toDF("conv_id", "turn_idx", "block_idx", "start", "end", "block_text")
    }),
    "extract_confidence_hist" -> ((s, dir) => {
      // A3/A4/W1 evidence: the score distribution of winning candidates
      roundtripExtracted(s, dir)
        .groupBy(floor(col("confidence") / 10).cast("long").as("confidence_decile"))
        .agg(count(lit(1)).as("cnt"))
    }),
    "extract_lineage" -> ((s, dir) => {
      // north-rule lineage: per-bucket metrics rows (wall_ms excluded —
      // nondeterministic; fingerprint fixed to 'local' so the DuckDB
      // oracle can reproduce every column — the file-stat fingerprint is
      // exercised by SparkPipelineSpec instead)
      import s.implicits._
      val res = ExtractJob.run(s,
        TranscriptGen.turns(s, dir, turnsPerDoc = 1), numBuckets = 16)
      res.extracted.count() // action to populate the accumulator
      s.createDataset(res.lineageRows).toDF()
        .select("input_fingerprint", "bucket", "extracted_turns",
          "failed_turns", "empty_turns")
    }),

    "extract_sql_surface" -> ((s, dir) => {
      // the Catalyst Expression path: extract_readable() composed in SQL
      ExtractReadable.register(s)
      TranscriptGen.roundtripTurns(s, dir, MinChars).toDF()
        .createOrReplaceTempView("graft_turns")
      s.sql(
        """SELECT CAST(turn_idx AS BIGINT) AS doc_id,
          |       extract_readable(text).text AS extracted_text
          |FROM graft_turns""".stripMargin)
    }),
    // the custom LogicalPlan + Strategy face: ExtractTurnsNode planned
    // to ExtractTurnsExec (EXPLAIN-visible whole-operator extraction)
    "extract_plan_surface" -> roundtrip,
    "extract_multipage" -> ((s, dir) => {
      // 2k/J3/W4 end-to-end: page 1 links to page 2 through an in-memory
      // fetcher; combined text = page1 + page2 (oracle below). A third
      // page that duplicates page 2's first paragraph would be suppressed.
      import s.implicits._
      TranscriptGen.roundtripTurns(s, dir, MinChars).map { t =>
        val docId = t.turn_idx.toLong
        val url = s"http://example.com/a/article-x$docId.html"
        val page2Text = TranscriptGen.appendixText(docId)
        val page2 = TranscriptGen.htmlWrap(docId, page2Text)
        val page1 = t.text.replace("</body>",
          s"""<div class="pager"><a href="$url?page=2" class="next-page">Next</a></div></body>""")
        val fetch: String => Option[String] =
          u => if (u == s"$url?page=2") Some(page2) else None
        val sum = Extractor.extractMultiPage(page1,
          ExtractOptions(url = url), fetch)
        (docId, sum.text)
      }.toDF("doc_id", "extracted_text")
    }),
    "drift_insdel" -> ((s, dir) => {
      // A7 parity: htmldiff-style ins/del chars+blocks between an
      // independently-built benchmark text and the actual extraction
      // (Drift scaladoc maps the semantics to regression_test.py:214-235).
      // Perturbation classes: %3==0 exact, %3==1 benchmark has an extra
      // tail sentence (→ one deleted block), %3==2 benchmark misses the
      // last word (→ one inserted block).
      import s.implicits._
      ExtractReadable.register(s)
      TableIO.rebalanceSmall(TableIO(s, dir).read("documents")
        .select("doc_id", "text", "n_chars")
        .where(col("n_chars") >= MinChars).as[(Long, String, Long)])
        .map { case (docId, text, _) => (docId, text, TranscriptGen.htmlWrap(docId, text)) }
        .toDF("doc_id", "text", "page")
        .selectExpr("doc_id", "text", "extract_readable(page).text AS actual")
        .as[(Long, String, String)]
        .map { case (docId, text, actual) =>
          val base = s"Heading $docId " + text
          val expected = (docId % 3) match {
            case 0 => base
            case 1 => base + " expected extra drift sentence"
            case _ => base.substring(0, base.lastIndexOf(' '))
          }
          val d = graft.extract.Drift.insDel(expected, actual)
          (docId, d.insBlocks, d.insChars, d.delBlocks, d.delChars)
        }.toDF("doc_id", "ins_blocks", "ins_chars", "del_blocks", "del_chars")
    }),
    "extract_spans_multi" -> ((s, dir) => {
      // W2 sibling merge under oracle, all four branches (long-p rule /
      // best / score-threshold / period-p rule, plus a must-vanish
      // below-threshold sibling) — produces the multi-block span face the
      // plain wrap cannot (TranscriptGen.siblingHtml scaladoc).
      import s.implicits._
      TableIO.rebalanceSmall(
        TableIO(s, dir).read("documents").select("doc_id").as[Long])
        .flatMap { id =>
          val r = Extractor.extract(TranscriptGen.siblingHtml(id), ExtractOptions())
          r.spans.toSeq.zipWithIndex.map { case ((st, en), i) =>
            (id, i, st, en, r.text.substring(st, en), r.confidence)
          }
        }.toDF("doc_id", "block_idx", "start", "end", "block_text", "confidence")
    }),
    "sanitize_decisions" -> ((s, dir) => {
      // 2i under oracle, branch by branch: a crafted page where every row
      // of the sanitize decision table fires — every `kept` marker must
      // survive, every `vanish` marker must be cleaned (TranscriptGen
      // .sanitizeHtml scaladoc walks the table).
      import s.implicits._
      TableIO.rebalanceSmall(
        TableIO(s, dir).read("documents").select("doc_id").as[Long])
        .map { id =>
          (id, Extractor.extract(TranscriptGen.sanitizeHtml(id), ExtractOptions()).text)
        }.toDF("doc_id", "extracted_text")
    }),
    "extract_retry_lenient" -> ((s, dir) => {
      // 2j under oracle: every doc is a crafted page (TranscriptGen
      // .retryHtml) whose correct output exists ONLY via the lenient
      // retry on the mutated DOM — re-parse-from-scratch returns the
      // decoy, skipping the retry returns the teaser; both fail the
      // oracle.
      import s.implicits._
      TableIO.rebalanceSmall(
        TableIO(s, dir).read("documents").select("doc_id").as[Long])
        .map { id =>
          val sum = Extractor.extract(TranscriptGen.retryHtml(id), ExtractOptions())
          (id, sum.confidence, sum.text)
        }.toDF("doc_id", "confidence", "extracted_text")
    }),
    "dom_transform_stats" -> ((s, dir) => {
      // P2/P4/P5/P8 evidence: per-document counts from each DOM stage
      import s.implicits._
      TranscriptGen.roundtripTurns(s, dir, MinChars).map { t =>
        val doc = Extractor.parse(t.text, null)
        val nodesParsed = doc.iterSubtree.count(_.isElement)
        Extractor.removeUnlikelyCandidates(doc)
        val afterUnlikely = doc.iterSubtree.count(_.isElement)
        val divsBefore = doc.findAll("div").length
        Extractor.transformDoubleBreaks(doc)
        Extractor.transformMisusedDivs(doc)
        val divsAfter = doc.findAll("div").length
        val candidates = Extractor.scoreParagraphs(doc)
        (t.turn_idx.toLong, nodesParsed.toLong,
          (nodesParsed - afterUnlikely).toLong,
          (divsBefore - divsAfter).toLong, candidates.size.toLong)
      }.toDF("doc_id", "nodes_parsed", "removed_unlikely", "divs_retagged",
        "n_candidates")
    }),

    // ---- charset sniffing (S2) over synthesized byte payloads ----
    "charset_detect" -> ((s, dir) => {
      import s.implicits._
      // four deterministic payload classes exercise every detector branch
      TableIO.rebalanceSmall(TableIO(s, dir).read("documents")
        .select("doc_id", "text").as[(Long, String)])
        .map { case (id, text) =>
          val bytes = (id % 4) match {
            case 0 => (text + " café жизнь résumé")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            case 1 => (s"жизнь прекрасна и удивительна номер $id " * 10)
              .getBytes(java.nio.charset.Charset.forName("windows-1251"))
            case 2 => (s"der große bär läuft über die straße nummer $id " * 10)
              .getBytes(java.nio.charset.Charset.forName("windows-1252"))
            case _ => s"n$id".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          }
          (id, graft.extract.Encodings.getEncoding(bytes))
        }.toDF("doc_id", "detected")
    }),

    // ---- titles (F3-F6) ----
    "titles" -> ((s, dir) => {
      import s.implicits._
      TranscriptGen.roundtripTurns(s, dir, MinChars)
        .map { t =>
          val doc = Extractor.parse(t.text, null)
          (t.turn_idx.toLong, Titles.getTitle(doc), Titles.shortenTitle(doc))
        }.toDF("doc_id", "title", "short_title")
    }),

    // ---- multi-page URL logic (F10-F11, W4) ----
    "base_url" -> ((s, dir) => {
      import s.implicits._
      TableIO.rebalanceSmall(TableIO(s, dir).read("documents")
        .select("doc_id", "source").as[(Long, String)])
        .map { case (id, src) =>
          val url = s"http://example.com/$src/article-$id.html"
          (id, Pages.findBaseUrl(url))
        }.toDF("doc_id", "base_url")
    }),
    "next_page_url" -> ((s, dir) => {
      import s.implicits._
      // synthetic pagination footer: the scorer must pick page 2
      TableIO.rebalanceSmall(TableIO(s, dir).read("documents")
        .select("doc_id", "source").as[(Long, String)])
        .map { case (id, src) =>
          val url = s"http://example.com/$src/article-$id.html"
          val html = s"""<html><body><div class="story"><p>body text here</p></div>
            |<div class="pagination"><a href="$url?page=2">Next</a>
            |<a href="$url?page=9">9</a></div></body></html>""".stripMargin
          val doc = Extractor.parse(html, url)
          val next = Pages.findNextPageUrl(scala.collection.mutable.Set(url), url, doc)
          (id, next)
        }.toDF("doc_id", "next_url")
    }),

    // ---- dedup family ----
    "dedup_exact" -> ((s, dir) => Dedup.exact(s, dir)),
    // canonical-URL dedup: the URL-level pass that runs before content
    // dedup (tracking params / fragments / case / default ports)
    "dedup_url" -> ((s, dir) => Dedup.urlDedup(s, dir)),
    // exact-substring spans (Lee et al. 2022 suffix-array family as
    // distributed k-gram anchors): planted cross-doc 25-word runs plus
    // the corpus's natural exact dups must both surface as merged spans
    "dedup_substring" -> ((s, dir) => Dedup.substringSpans(s, dir)),
    "dedup_minhash_lsh" -> ((s, dir) => Dedup.minhashLsh(s, dir)),
    // recurring-crawl shape: the new slice dedupes against the index and
    // itself; old-old pairs are never recomputed (the full-corpus
    // re-banding a weekly 100 TB increment cannot afford)
    "dedup_incremental" -> ((s, dir) => Dedup.incremental(s, dir)),
    // the streaming detector driver-verified: a real micro-batched replay
    // through flatMapGroupsWithState; oracle = batch LSH pairs restricted
    // to the synthetic event-time horizon (classes 3 steps apart must NOT
    // pair) — closes the one operator family without a CORRECTNESS row
    "streaming_neardup" -> ((s, dir) => StreamingNearDup.replay(s, dir)),
    "dedup_simhash" -> ((s, dir) => Dedup.simhash(s, dir)),
    "dedup_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(s, dir)),
    "dedup_clusters" -> ((s, dir) => Dedup.clusters(s, dir)),
    // the near-dup pipeline's END PRODUCT: LSH pairs → connected
    // components → keep the min doc_id of each cluster — the rewrite a
    // production run ships (dedup_rewrite is the exact-dup analogue)
    "dedup_neardup_rewrite" -> ((s, dir) => {
      // keep-one = drop the LOSERS (paired docs that are not their
      // cluster's min); unpaired docs are singleton keepers by
      // definition. The loser set is the near-dup population minus one
      // per cluster — the corpus-sized groupBy+inner-join this replaces
      // carried every doc through an aggregate to re-derive mostly
      // itself (guide §3: anti/semi-join shape; result identical).
      val docs = TableIO(s, dir).read("documents")
      val labels = Dedup.pairedClusterLabels(s, dir)
      val losers = labels
        .join(labels.groupBy("label")
          .agg(org.apache.spark.sql.functions.min(col("id")).as("keep_id")), "label")
        .where(col("id") =!= col("keep_id"))
        .select(col("id").as("doc_id"))
      docs.join(losers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("n_chars"))
    }),
    // inter-source 3-shingle Jaccard matrix: which crawl sources are
    // near-copies of each other (mirror/syndication audit) — the
    // corpus-level view the doc-pair dedup family doesn't give
    "source_overlap" -> ((s, dir) => TextAnalysis.sourceOverlap(s, dir)),

    // ---- similarity search ----
    "ann_cosine_topk" -> ((s, dir) => Similarity.bruteForceTopK(s, dir)),
    "ann_lsh_topk" -> ((s, dir) => Similarity.lshTopK(s, dir)),
    "ann_lsh_multiprobe_topk" -> ((s, dir) => Similarity.lshMultiprobeTopK(s, dir)),
    "ann_ivf_topk" -> ((s, dir) => Similarity.ivfTopK(s, dir)),
    // Persisted-index lifecycle (VERDICT r4 #2): build the standing IVF
    // index (centroids + cell-assigned corpus) through TableIO once,
    // then answer the workload as a pure index probe — no re-training,
    // no re-assignment (plan pinned in PlanSpec)
    "ann_ivf_indexed" -> ((s, dir) => {
      val io = TableIO(s, Scratch.tableDir("ivf_index_"))
      Similarity.writeIvfIndex(s, dir, io)
      Similarity.ivfTopKIndexed(s, dir, io)
    }),
    "ann_pq_topk" -> ((s, dir) => Similarity.pqTopK(s, dir)),
    // PQ sibling of the IVF lifecycle: codebooks + compact codes stored
    // once, the ADC scan reads the codes table instead of the embedding
    // bytes, full vectors fetched only for the shortlist re-rank
    "ann_pq_indexed" -> ((s, dir) => {
      val io = TableIO(s, Scratch.tableDir("pq_index_"))
      Similarity.writePqIndex(s, dir, io)
      Similarity.pqTopKIndexed(s, dir, io)
    }),
    "ann_ivfpq_topk" -> ((s, dir) => Similarity.ivfpqTopK(s, dir)),
    // Default face is SUBLINEAR (nprobe=6 of 16 cells): every vector gets
    // a planted near-duplicate (halve every 9th dim — an exponent-only
    // float op, exact in float AND double, so the DuckDB replay is
    // bit-identical), and the probed cell join must recover every ≥0.95
    // pair exactly. This is the 100 TB shape: candidates from 6/16 cells,
    // never all-pairs. The exact all-cells mode stays driver-verified as
    // dedup_embedding_nn_exact (the noise-like raw corpus has no dup
    // structure, so exact NN there is intrinsically O(n²) — see
    // Dedup.embeddingNearDup scaladoc).
    "dedup_embedding_nn" -> ((s, dir) => {
      import s.implicits._
      val emb = TableIO(s, dir).read("embeddings")
        .select("vec_id", "embedding").as[(Long, Array[Float])]
      val plants = emb.map { case (id, v) =>
        (id + 100000L,
          v.zipWithIndex.map { case (x, j) => if (j % 9 == 0) x * 0.5f else x })
      }
      Dedup.embeddingNearDupOn(s, emb.union(plants), threshold = 0.95,
        numCentroids = 16, nprobe = 6)
        .where(col("is_dup") === 1)
    }),
    "dedup_embedding_nn_exact" -> ((s, dir) => Dedup.embeddingNearDup(s, dir)),
    // SemDeDup (Abbas et al. 2023): cluster-then-within-cluster pair
    // scan on the fully-planted union — the cluster bound (not a probe
    // list) is what caps the pair count at web scale
    "dedup_semantic" -> ((s, dir) => {
      import s.implicits._
      val emb = TableIO(s, dir).read("embeddings")
        .select("vec_id", "embedding").as[(Long, Array[Float])]
      val plants = emb.map { case (id, v) =>
        (id + 100000L,
          v.zipWithIndex.map { case (x, j) => if (j % 9 == 0) x * 0.5f else x })
      }
      Dedup.semanticOn(s, emb.union(plants))
    }),
    "dedup_embedding_nn_probe" -> ((s, dir) => {
      // The SUBLINEAR path (nprobe=6 of 16 cells) driver-verified: plant
      // a near-duplicate of each of the first 500 vectors (halve every
      // 9th dim — an exponent-only float op, exact in both float and
      // double, so the DuckDB replay is bit-identical), then require the
      // probed candidate set to recover every >=0.95 pair exactly. The
      // noise-like remainder (max cosine 0.49) filters out on both sides.
      import s.implicits._
      val emb = TableIO(s, dir).read("embeddings")
        .select("vec_id", "embedding").as[(Long, Array[Float])]
      val plants = emb.filter(_._1 < 500).map { case (id, v) =>
        (id + 100000L,
          v.zipWithIndex.map { case (x, j) => if (j % 9 == 0) x * 0.5f else x })
      }
      Dedup.embeddingNearDupOn(s, emb.union(plants), threshold = 0.95,
        numCentroids = 16, nprobe = 6)
        .where(col("is_dup") === 1)
    }),

    // ---- corpus quality / curation (Gopher/C4-style) ----
    "quality_signals" -> ((s, dir) => Quality.signals(s, dir)),
    // line-level repetition (Gopher table A1's other half; signals()
    // covers the word/n-gram rules)
    "quality_repetition" -> ((s, dir) => Quality.repetitionSignals(s, dir)),
    "pii_scrub" -> ((s, dir) => Quality.piiScrub(s, dir)),
    "sample_per_domain" -> ((s, dir) => Quality.samplePerDomain(s, dir)),
    // temperature-based mixture reweighting (α=0.5): deterministic
    // Hash61-threshold acceptance, no RNG — the corpus never shuffles
    "sample_mixture" -> ((s, dir) => Quality.sampleMixture(s, dir)),
    // the mixture PLAN the row filter above implements: per-source token
    // budget + implied epochs under √-temperature; sqrt (IEEE-exact both
    // engines) + source-ordered cumulative normalizer keep it oracle-able
    "mixture_plan" -> ((s, dir) => Quality.mixturePlan(s, dir)),
    // DSIR hashed-unigram importance weights (Xie et al. 2023): O(B)
    // model broadcast, scoring pass row-local — the corpus never shuffles
    "dsir_weights" -> ((s, dir) => Curation.dsirWeights(s, dir)),
    // CCNet-style LM scoring: add-one bigram model trained on the fly;
    // all float work floored to integer micro-nats before aggregation
    "quality_perplexity" -> ((s, dir) => Curation.perplexity(s, dir)),
    // CCNet head/middle/tail: per-source perplexity terciles on the
    // deterministic rank (integer formula, not engine-varying NTILE)
    "quality_ccnet_buckets" -> ((s, dir) => Curation.ccnetBuckets(s, dir)),
    // GPT-style concat-and-chunk packing, defined per shard (the global
    // order a monolithic packer needs is what doesn't scale)
    "pack_sequences" -> ((s, dir) => Shards.packSequences(s, dir)),

    "decontaminate" -> ((s, dir) => Quality.decontaminate(s, dir)),
    // the huge-eval-set scale path: fixed 128 KB Bloom broadcast instead
    // of the exact shingle set; corpus pass stays row-local
    "decontaminate_bloom" -> ((s, dir) => Quality.decontaminateBloom(s, dir)),
    "curate_pipeline" -> ((s, dir) => {
      // end-to-end curation: extraction → quality gate → per-domain
      // quota; extraction (one extract_readable per row) and the signal
      // kernel are row-local — nothing shuffles until the two-phase
      // (skew-safe) quota windows, the only exchanges at any corpus size
      import s.implicits._
      ExtractReadable.register(s)
      val rows = TableIO.rebalanceSmall(TableIO(s, dir).read("documents")
        .select("doc_id", "text", "n_chars", "source")
        .where(col("n_chars") >= MinChars)
        .as[(Long, String, Long, String)])
        .map { case (id, text, _, src) => (id, src, TranscriptGen.htmlWrap(id, text)) }
        .toDF("doc_id", "source", "page")
        .selectExpr("doc_id", "source", "extract_readable(page).text AS et")
        .as[(Long, String, String)]
        .map { case (id, src, et) =>
          val sig = Quality.computeSignals(id, et)
          (id, src, Hash61.mix(id), sig.n_words, sig.keep)
        }.toDF("doc_id", "source", "rank_key", "n_words", "keep")
      Quality.quotaPerDomain(rows.where(col("keep") === 1), quota = 5)
        .select("doc_id", "source", "sample_rank", "n_words")
    }),
    "vocab_topk" -> ((s, dir) => {
      // vocabulary building: global top-50 words — explode is the only
      // row-multiplying step and collapses immediately into a map-side
      // partial count; the LIMIT is a TakeOrdered top-k, never a global
      // sort (PlanSpec-style contract asserted in QualitySpec)
      TableIO.rebalanceSmall(TableIO(s, dir).read("documents"))
        .select(explode(split(col("text"), " ")).as("word"))
        .where(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(50)
    }),
    "corpus_stats_by_domain" -> ((s, dir) => {
      // per-source curation dashboard row: volume, size, exact distinct
      // content count (the dedup rate's denominator)
      TableIO(s, dir).read("documents")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"),
          countDistinct(md5(col("text"))).as("n_unique_texts"))
    }),
    "tfidf_top_terms" -> ((s, dir) => {
      // per-domain characteristic vocabulary: tf·idf over word counts —
      // the curation face of "what is this domain about". The explode
      // collapses into a map-side partial count immediately (same shape
      // as vocab_topk); df is a tiny per-word aggregate joined broadcast;
      // the only full exchange carries (source, word) counts. Scores are
      // floored to 6 decimals and RANKED ON THE FLOORED VALUE so Spark
      // and the oracle order identically (idf's ln is the one term whose
      // last ulp is not contractually identical across libm builds).
      import org.apache.spark.sql.expressions.Window
      val words = TableIO.rebalanceSmall(TableIO(s, dir).read("documents"))
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .where(col("word") =!= "")
      val tf = words.groupBy("source", "word").agg(count(lit(1)).as("tf"))
      val nSources = TableIO(s, dir).read("documents")
        .select(countDistinct(col("source")).as("n_sources"))
      val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val scored = tf.join(df, "word").crossJoin(broadcast(nSources))
        .withColumn("tfidf", floor(col("tf") *
          log(col("n_sources").cast("double") / col("df")) * lit(1e6)) / lit(1e6))
      val w = Window.partitionBy("source")
        .orderBy(col("tfidf").desc, col("word"))
      scored.withColumn("rank", row_number().over(w).cast("int"))
        .where(col("rank") <= 5)
        .select("source", "rank", "word", "tfidf")
    }),
    "corpus_rollup" -> ((s, dir) => {
      // multi-grain dashboard in ONE pass: (source, lang), per-source and
      // grand totals via ROLLUP — Catalyst expands the grouping sets and
      // the partial aggregation still combines map-side, so the corpus is
      // read once for all three grains (three separate groupBys would
      // scan 3×)
      TableIO(s, dir).read("documents")
        .rollup(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("total_chars"))
        .select(coalesce(col("source"), lit("ALL")).as("source"),
          coalesce(col("lang"), lit("ALL")).as("lang"),
          col("n_docs"), col("total_chars"))
    }),
    "length_quantiles" -> ((s, dir) => {
      // EXACT per-source length quantiles at any corpus size: lengths are
      // bounded ints, so the counting histogram (groupBy source, n_chars)
      // is fixed-size regardless of row count — the exact-quantile shape
      // that scales where sort-based percentile_exact cannot; quantile =
      // smallest value whose cumulative count reaches ceil(q·n)
      import org.apache.spark.sql.expressions.Window
      val h = TableIO(s, dir).read("documents")
        .groupBy("source", "n_chars").agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("source").orderBy("n_chars")
      val wAll = Window.partitionBy("source")
      def q(p: Double, name: String) =
        min(when(col("cum") >= ceil(lit(p) * col("total")), col("n_chars"))).as(name)
      h.withColumn("cum", sum(col("c")).over(w))
        .withColumn("total", sum(col("c")).over(wAll))
        .groupBy("source")
        .agg(q(0.5, "p50"), q(0.9, "p90"), q(0.99, "p99"))
    }),

    // ---- text analysis ----
    "text_metrics" -> ((s, dir) => TextAnalysis.metrics(s, dir)),
    // BPE training: distributed word count → bounded top-256 vocab →
    // driver merge loop (the Lloyd-training pattern); full SQL replay
    "bpe_merges" -> ((s, dir) => Bpe.trainMerges(s, dir)),
    // the trained tokenizer APPLIED: broadcast merges, row-local count
    "bpe_token_counts" -> ((s, dir) => Bpe.tokenCounts(s, dir)),
    "lang_id" -> ((s, dir) => TextAnalysis.langId(s, dir)),
    "lang_id_classes" -> ((s, dir) => TextAnalysis.langIdClasses(s, dir)),
    "lang_id_ngram" -> ((s, dir) => TextAnalysis.langIdNgram(s, dir)),
    "lang_id_ngram_classes" -> ((s, dir) => TextAnalysis.langIdNgramClasses(s, dir)),
    "doc_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(s, dir)),
    // HLL distinct-content sketch per source: fixed 2^9-register state,
    // merges map-side — the cardinality shape that works at 100 TB where
    // count(distinct) cannot (Sketches scaladoc); exact count alongside
    "corpus_hll_distinct" -> ((s, dir) => Sketches.hllDistinctPerSource(s, dir)),
    // frequency twin of the HLL sketch: fixed d×w counter matrix, exact
    // second pass over the sketch's candidates only (overestimate-safe)
    "cms_heavyhitters" -> ((s, dir) => Sketches.cmsHeavyHitters(s, dir)),
    // per-source unigram KL(new‖old) drift gate between snapshot slices
    "corpus_kl_drift" -> ((s, dir) => Curation.klDrift(s, dir)),
    // BM25 top-k retrieval: broadcast query terms probe the inverted
    // index; floor-then-rank keeps the order engine-identical
    "bm25_topk" -> ((s, dir) => Retrieval.bm25TopK(s, dir)),
    // Persisted-index lifecycle (VERDICT r4 #2): postings/wordstats/stats
    // written through TableIO once; the workload probes the stored index
    // and never rescans the corpus text (plan pinned in PlanSpec)
    "bm25_topk_indexed" -> ((s, dir) => {
      val io = TableIO(s, Scratch.tableDir("bm25_index_"))
      Retrieval.writeIndex(s, dir, io)
      Retrieval.bm25TopKIndexed(s, io)
    }),
    // row-local hash-threshold train/val/test assignment (zero shuffle,
    // append-stable — per-source ntile windows can promise neither)
    "split_assign" -> ((s, dir) => Shards.splitAssign(s, dir)),

    // ---- multimodal plumbing (stubbed codecs; Spark plumbing real) ----
    "multimodal_decode" -> ((s, dir) => Multimodal.decodeStub(s, dir)),
    "multimodal_resize" -> ((s, dir) =>
      Multimodal.resizeStub(s, dir).select("doc_id", "width", "height", "n_bytes")),
    "multimodal_frame_sample" -> ((s, dir) => Multimodal.frameSample(s, dir)),
    "multimodal_features" -> ((s, dir) => Multimodal.featureStub(s, dir)),

    "shard_manifest" -> ((s, dir) => {
      // the pipeline's terminal operator: deterministic Hash61 shard
      // assignment, dynamic-partition-overwrite write through TableIO,
      // manifest computed FROM THE WRITTEN TABLE (audits the disk state;
      // retry bit-exactness is pinned in SparkPipelineSpec)
      val out = Scratch.tableDir("graft-shards")
      Shards.write(s, TableIO(s, dir).read("documents"), TableIO(s, out),
        "shards", numShards = 64)
    }),
    "dedup_rewrite" -> ((s, dir) => {
      // the dedup APPLIED: keep one representative per content digest
      val docs = TableIO(s, dir).read("documents")
      val keepers = docs.groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
      docs.join(keepers, "doc_id").select(col("doc_id"), col("n_chars"))
    }),

    // ---- relational anchors on the star schema (exact-valued oracles
    //      for the driver's DuckDB comparator: agg, join, window) ----
    "q_antijoin_customers" -> ((s, dir) => {
      // customers with no high-value order: the filter prunes the build
      // side BEFORE the anti-join (pushdown-visible in explain; at sf0.01
      // an unfiltered variant returns 0 rows — a vacuous check)
      val customer = TableIO(s, dir).read("customer")
      val orders = TableIO(s, dir).read("orders")
        .where(col("o_totalprice") > 400000)
      customer.join(orders, customer("c_custkey") === orders("o_custkey"),
          "left_anti")
        .select("c_custkey", "c_mktsegment")
    }),
    "q_sessionize_events" -> ((s, dir) => {
      // lag-window sessionization: a new session starts after a >1h gap
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      TableIO(s, dir).read("events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 3600, 1L)
            .otherwise(0L))
        .groupBy("user_id")
        .agg(sum(col("new_session")).as("sessions"), count(lit(1)).as("events"))
    }),
    "conv_stats" -> ((s, dir) => {
      // conversation-level rollup over the transcript face: the skewed
      // size distribution (conversation k holds 2k+1 documents) that
      // motivates the extraction job's salted bucketing
      TranscriptGen.turns(s, dir, turnsPerDoc = 2)
        .groupBy("conv_id")
        .agg(count(lit(1)).as("n_turns"),
          sum(when(col("role") === "assistant", 1L).otherwise(0L)).as("assistant_turns"),
          sum(when(col("tool") =!= "", 1L).otherwise(0L)).as("tool_turns"))
    }),
    "q_session_stats" -> ((s, dir) =>
      // per-session rows (µs-exact bounds) — the batch face of the
      // stateful streaming sessionizer; StreamingSpec pins streaming ==
      // batch, this oracle pins batch == DuckDB
      StreamingSessionize.sessionStats(s, dir)),
    "q_lineitem_agg" -> ((s, dir) => {
      TableIO(s, dir).read("lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
          count(lit(1)).as("cnt"))
    }),
    "q_join_topcustomers" -> ((s, dir) => {
      val orders = TableIO(s, dir).read("orders")
      val customer = TableIO(s, dir).read("customer")
      orders.join(broadcast(customer),
          orders("o_custkey") === customer("c_custkey"))
        .groupBy("c_custkey")
        .agg(count(lit(1)).as("num_orders"))
        .orderBy(col("num_orders").desc, col("c_custkey"))
        .limit(10)
    }),
    "q_window_first_event" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      TableIO(s, dir).read("events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("user_id", "event_type")
    }),
    // as-of join via union-and-carry (one shuffle, one window pass — the
    // shape that survives where correlated subqueries and theta-joins
    // can't); oracle = DuckDB's NATIVE ASOF JOIN, a different algorithm
    "q_asof_join" -> ((s, dir) => Temporal.asofJoin(s, dir)),
    // the streaming as-of face driver-verified: collect-free file-source
    // replay in event-time-sliced micro-batches (the per-user in-order
    // contract), so it shares the batch face's independent native ASOF
    // JOIN oracle — the temporal family's streaming mirror gets its own
    // CORRECTNESS row
    "streaming_asof" -> ((s, dir) => StreamingAsOf.replay(s, dir)),
    // the per-domain ingest quota driver-verified: collect-free replay
    // in doc_id-sliced micro-batches; event time = timestamp_micros(
    // doc_id) makes arrival order event-time order, so the arrival cap
    // equals the batch rank window the oracle states
    "streaming_quota" -> ((s, dir) => StreamingQuota.replay(s, dir)),
    // the stateful sessionizer driver-verified: time-sliced replay plus
    // a two-step sentinel flush (watermark advance, then the batch in
    // which event-time timeouts fire); shares the batch lag-window
    // oracle minus its batch-only session_idx
    "streaming_sessionize" -> ((s, dir) => StreamingSessionize.replay(s, dir)),
    // the KL-drift monitor driver-verified: collect-free replay, keep
    // each source's last snapshot (largest token total) — equal to the
    // batch gate by the shared integer-floored bucket arithmetic, so it
    // shares corpus_kl_drift's oracle
    "streaming_drift" -> ((s, dir) => StreamingDrift.replay(s, dir)),
    // the extraction stage itself as a stream: roundtrip transcripts
    // replayed through real file-source micro-batches and the
    // ExtractTurns operator — shares extract_roundtrip's oracle verbatim,
    // so the driver gate pins streaming == batch for the flagship
    // operator end-to-end
    "streaming_extract" -> ((s, dir) => StreamingExtract.replay(s, dir, MinChars)),
    // range join via window-width time bins (equi-join on (user, bin),
    // probe expands 2×, residual range runs inside the aggregate);
    // oracle = the naive inequality join the binned plan must agree with
    "q_range_join" -> ((s, dir) => Temporal.rangeJoin(s, dir)),
  )

  /** Recursive-CTE replay of [[TranscriptGen.chunks]] (the greedy ≥40-char
    * word-boundary chunker): emits one row per (doc, chunk) with the chunk
    * length. `Ls` is the 0-prepended prefix sum of word lengths, so the
    * chunk covering words s..j has length Ls[j+1]−Ls[s]+(j−s); a chunk
    * ends at the first j where that reaches 40 (the builder flushes at
    * sb.length ≥ 40), the leftover tail is shorter. Everything scoring
    * (n_candidates, confidence = 30 + 2·k25) and DOM-shape derived
    * (nodes_parsed = 17 + k) follows from these lengths. */
  private def chunkerCte(where: String): String =
    "WITH RECURSIVE " +
      s"d AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws FROM documents $where), " +
      "px AS (SELECT doc_id, list_prepend(0::BIGINT, list(L ORDER BY i)) AS Ls, max(i) AS nw " +
      "FROM (SELECT doc_id, i, SUM(length(ws[i])) OVER (PARTITION BY doc_id ORDER BY i) AS L " +
      "FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws))) AS i FROM d)) GROUP BY doc_id), " +
      "ch AS (" +
      "SELECT doc_id, 0 AS blk, 1 AS s, 0::BIGINT AS chunk_len, Ls, nw FROM px " +
      "UNION ALL " +
      "SELECT doc_id, blk + 1, " +
      "coalesce(list_filter(range(s, nw + 1), j -> Ls[j + 1] - Ls[s] + (j - s) >= 40)[1], nw) + 1, " +
      "Ls[coalesce(list_filter(range(s, nw + 1), j -> Ls[j + 1] - Ls[s] + (j - s) >= 40)[1], nw) + 1] - Ls[s] " +
      "+ coalesce(list_filter(range(s, nw + 1), j -> Ls[j + 1] - Ls[s] + (j - s) >= 40)[1], nw) - s, " +
      "Ls, nw FROM ch WHERE s <= nw), " +
      "k AS (SELECT doc_id, count(*) AS k_total, " +
      "count(*) FILTER (WHERE chunk_len >= 25) AS k25 " +
      "FROM ch WHERE blk > 0 GROUP BY doc_id) "

  /** MinHash signature/banding CTE chain (through the capped `bf`
    * relation) — shared by the pair oracle, the cluster oracle, and the
    * streaming replay oracle (which passes its planted-union relation
    * as `src`). */
  /** Connected components of the minhash pair graph: recursive transitive
    * closure, cluster = min reachable id (the unique fixpoint the
    * iterative Spark propagation also lands on). Shared by
    * `dedup_clusters` and the keep-one `dedup_neardup_rewrite`. */
  private def dedupClustersSql: String =
    minhashCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
      ", prs AS (SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b " +
      "FROM bf a JOIN bf b2 ON a.band_idx = b2.band_idx " +
      "AND a.band_hash = b2.band_hash AND a.doc_id < b2.doc_id), " +
      "eg AS (SELECT doc_a AS src, doc_b AS dst FROM prs " +
      "UNION ALL SELECT doc_b, doc_a FROM prs), " +
      "rc AS (SELECT src AS id, dst AS r FROM eg " +
      "UNION SELECT rc.id, eg.dst FROM rc JOIN eg ON eg.src = rc.r), " +
      "cl AS (SELECT id, least(id, min(r)) AS cluster FROM rc GROUP BY id) " +
      "SELECT d.doc_id, CAST(coalesce(cl.cluster, d.doc_id) AS BIGINT) AS cluster_id " +
      "FROM documents d LEFT JOIN cl ON cl.id = d.doc_id"

  private def minhashCtes: String = minhashCtesFrom("documents")

  private def minhashCtesFrom(src: String): String = {
    import graft.spark.Hash61
    wordHashCteFrom(src) +
      ", sh AS (SELECT doc_id, list_transform(range(1, len(whs) - 1), " +
      s"i -> ${Hash61.shingle3Sql("whs[i]", "whs[i+1]", "whs[i+2]")}) AS shs " +
      "FROM wdocs WHERE len(whs) >= 3), " +
      "sg AS (SELECT doc_id, list_transform(range(0, 16), s -> " +
      s"list_reduce(list_transform(shs, q -> ${Hash61.mixSql(s"xor(q, ${Hash61.mixSql("s + 1")})")}), " +
      "(x, y) -> least(x, y))) AS sig FROM sh WHERE len(shs) > 0), " +
      "bn AS (SELECT doc_id, sig, b AS band_idx, " +
      "list_reduce(list_prepend(0::HUGEINT, list_transform(range(0, 4), r -> sig[b * 4 + r + 1])), " +
      s"(x, y) -> ${Hash61.mixSql("xor(x, y)")}) AS band_hash " +
      "FROM sg, unnest([0, 1, 2, 3]) AS t(b)), " +
      "sz AS (SELECT band_idx, band_hash, count(*) AS bsz FROM bn GROUP BY 1, 2), " +
      "bf AS (SELECT bn.doc_id, bn.sig, bn.band_idx, bn.band_hash FROM bn " +
      "JOIN sz USING (band_idx, band_hash) WHERE bsz <= 64) "
  }

  /** Per-doc word-hash lists in GF(2^61-1) — the shared head of every
    * signature-kernel oracle (minhash/simhash/jaccard), replaying
    * [[graft.spark.Hash61.wordHash]] exactly in HUGEINT. */
  private def wordHashCte: String = wordHashCteFrom("documents")

  private def wordHashCteFrom(src: String): String = {
    import graft.spark.Hash61
    "WITH wdocs AS (SELECT doc_id, list_transform(" +
      "list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> ''), " +
      s"w -> ${Hash61.wordHashSql("w")}) AS whs FROM $src)"
  }

  /** CTE chain replaying [[graft.spark.Quality.computeSignals]] over
    * `textExpr` (a SQL expression in the `documents` columns): ends in
    * relation q(doc_id, n_words, n_distinct, distinct_ratio,
    * top_word_frac, dup_bigram_frac, dup_trigram_frac, mean_word_len,
    * stopword_count, keep). Shared by `quality_signals` (over the raw
    * text) and `curate_pipeline` (over the extracted text). */
  private def qualityCtes(textExpr: String, where: String): String = {
    import graft.spark.Quality._
    def mm(l: String) =
      s"coalesce(list_max(list_transform(list_distinct($l), u -> len(list_filter($l, x -> x = u)))), 0)"
    s"WITH w AS (SELECT doc_id, list_filter(string_split($textExpr, ' '), x -> x <> '') AS ws FROM documents $where), " +
      "c AS (SELECT doc_id, ws, len(ws) AS n, " +
      "list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bg, " +
      "list_transform(range(1, len(ws) - 1), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS tg FROM w), " +
      "m AS (SELECT doc_id, n, len(list_distinct(ws)) AS nd, " +
      s"${mm("ws")} AS mw, " +
      s"CASE WHEN n > 1 THEN ${mm("bg")} ELSE 0 END AS mb, " +
      s"CASE WHEN n > 2 THEN ${mm("tg")} ELSE 0 END AS mt, " +
      "list_reduce(list_prepend(0, list_transform(ws, x -> length(x))), (a, b) -> a + b) AS sl, " +
      s"len(list_filter(ws, x -> list_contains([${StopEn.map(s => s"'$s'").mkString(",")}], x))) AS sw FROM c), " +
      "r AS (SELECT doc_id, CAST(n AS BIGINT) AS n_words, CAST(nd AS BIGINT) AS n_distinct, " +
      "CAST(nd AS DOUBLE) / greatest(n, 1) AS distinct_ratio, " +
      "CAST(mw AS DOUBLE) / greatest(n, 1) AS top_word_frac, " +
      "CASE WHEN n > 1 THEN CAST(mb AS DOUBLE) / (n - 1) ELSE 0.0 END AS dup_bigram_frac, " +
      "CASE WHEN n > 2 THEN CAST(mt AS DOUBLE) / (n - 2) ELSE 0.0 END AS dup_trigram_frac, " +
      "CAST(sl AS DOUBLE) / greatest(n, 1) AS mean_word_len, " +
      "CAST(sw AS BIGINT) AS stopword_count FROM m), " +
      "q AS (SELECT *, CAST(CASE WHEN " +
      s"mean_word_len >= $MeanWordLenMin AND mean_word_len <= $MeanWordLenMax " +
      s"AND stopword_count >= $MinStopwords AND distinct_ratio >= $MinDistinctRatio " +
      s"AND dup_bigram_frac <= $MaxDupBigramFrac AND dup_trigram_frac <= $MaxDupTrigramFrac " +
      s"AND top_word_frac <= $MaxTopWordFrac THEN 1 ELSE 0 END AS BIGINT) AS keep FROM r) "
  }

  /** DuckDB-equivalent SQL per oracle-checkable query. Column names match
    * the Spark side exactly (driver hashes after sorting columns by
    * name). A lazy val, not a def: Hash61.letSql draws fresh lambda-var
    * names from a global counter, so regenerating on every call would
    * make two reads of this map textually different (same semantics, but
    * not comparable — VerifyContractSpec relies on stability). */
  lazy val oracleSql: Map[String, String] = {
    import graft.spark.Hash61
    Map(
    // 60-bit SimHash end-to-end: per-bit majority votes over the word
    // hashes, 4×15-bit banding, ≤64 bucket cap, Hamming ≤ 6 pairs.
    "dedup_simhash" ->
      (wordHashCte +
        ", f AS (SELECT doc_id, CAST(list_reduce(list_prepend(0::HUGEINT, " +
        "list_transform(range(0, 60), b -> CASE WHEN " +
        "2 * list_reduce(list_prepend(0::HUGEINT, list_transform(whs, hh -> (hh >> b) & 1::HUGEINT)), (x, y) -> x + y) " +
        "> len(whs) THEN (1::HUGEINT << b) ELSE 0::HUGEINT END)), (x, y) -> x + y) AS BIGINT) AS fp " +
        "FROM wdocs WHERE len(whs) > 0), " +
        "bd AS (SELECT doc_id, fp, b AS band_idx, (fp >> (b * 15)) & 32767 AS band " +
        "FROM f, unnest([0, 1, 2, 3]) AS t(b)), " +
        "sz AS (SELECT band_idx, band, count(*) AS bsz FROM bd GROUP BY 1, 2), " +
        "bf AS (SELECT bd.doc_id, bd.fp, bd.band_idx, bd.band FROM bd " +
        "JOIN sz USING (band_idx, band) WHERE bsz <= 64) " +
        "SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b, " +
        "CAST(bit_count(xor(a.fp, b2.fp)) AS BIGINT) AS hamming " +
        "FROM bf a JOIN bf b2 ON a.band_idx = b2.band_idx AND a.band = b2.band " +
        "AND a.doc_id < b2.doc_id WHERE bit_count(xor(a.fp, b2.fp)) <= 6"),
    // MinHash+LSH end-to-end: 16 per-seed minima over the 3-shingle
    // hashes, 4 banded fold-hashes, cap, equi-join, matching-position
    // count per surviving pair.
    "dedup_minhash_lsh" ->
      (minhashCtes +
        "SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b, " +
        "CAST(len(list_filter(range(1, 17), i -> a.sig[i] = b2.sig[i])) AS BIGINT) AS matching " +
        "FROM bf a JOIN bf b2 ON a.band_idx = b2.band_idx " +
        "AND a.band_hash = b2.band_hash AND a.doc_id < b2.doc_id"),
    // Incremental face: the same pair SQL restricted to pairs touching
    // the new slice (mix(doc_id) % 5 == 0) — old-old pairs excluded.
    "dedup_incremental" ->
      (minhashCtes +
        "SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b, " +
        "CAST(len(list_filter(range(1, 17), i -> a.sig[i] = b2.sig[i])) AS BIGINT) AS matching " +
        "FROM bf a JOIN bf b2 ON a.band_idx = b2.band_idx " +
        "AND a.band_hash = b2.band_hash AND a.doc_id < b2.doc_id " +
        s"WHERE ${graft.spark.Hash61.mixSql("a.doc_id::HUGEINT")} % 5 = 0 " +
        s"OR ${graft.spark.Hash61.mixSql("b2.doc_id::HUGEINT")} % 5 = 0"),
    // Streaming replay: the batch pair SQL over the planted union
    // (verbatim clones of id % 50 == 0 docs at id + 500000, arriving in
    // the last event class), restricted by the replay's event-time ages
    // — ts(doc) = t0 + class·30 min with class = 3 for clones else
    // doc_id % 4, horizon 1 h, so pairs survive iff the classes differ
    // by ≤ 2 steps. The class-0→clone pairs (90 min apart, 16/16
    // matching) are the horizon predicate's non-vacuous kill set.
    "streaming_neardup" -> {
      val cls = (x: String) => s"(CASE WHEN $x >= 500000 THEN 3 ELSE $x % 4 END)"
      minhashCtesFrom("u").replaceFirst("WITH ",
        "WITH u AS MATERIALIZED (SELECT doc_id, text FROM documents " +
          "UNION ALL SELECT doc_id + 500000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0), ") +
        "SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b, " +
        "CAST(len(list_filter(range(1, 17), i -> a.sig[i] = b2.sig[i])) AS BIGINT) AS matching " +
        "FROM bf a JOIN bf b2 ON a.band_idx = b2.band_idx " +
        "AND a.band_hash = b2.band_hash AND a.doc_id < b2.doc_id " +
        s"WHERE abs(${cls("a.doc_id")} - ${cls("b2.doc_id")}) <= 2"
    },
    // Connected components of the same pair graph: recursive transitive
    // closure, cluster = min reachable id (the unique fixpoint the
    // iterative Spark propagation also lands on).
    "dedup_clusters" -> dedupClustersSql,
    // the clusters APPLIED: keep the min doc_id per cluster (the same
    // fixpoint labeling, wrapped in a keep-one join)
    "dedup_neardup_rewrite" ->
      ("SELECT d.doc_id, d.n_chars FROM documents d JOIN " +
        s"(SELECT MIN(doc_id) AS doc_id FROM ($dedupClustersSql) lab " +
        "GROUP BY cluster_id) k ON d.doc_id = k.doc_id"),
    // Exact-substring span replay: same splice plant, same 20-gram
    // anchors in GF(2^61-1), occurrence count >= 2, gaps-and-islands
    // merge of overlapping windows.
    "dedup_substring" -> {
      val k = 20
      "WITH wd AS MATERIALIZED (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents), " +
        "pay AS MATERIALIZED (SELECT d.doc_id, CASE WHEN d.doc_id % 5 = 2 THEN " +
        "array_to_string(e.ws[1:25], ' ') || ' ' || d.text ELSE d.text END AS payload " +
        "FROM documents d JOIN wd e ON e.doc_id = d.doc_id % 40), " +
        "pw AS MATERIALIZED (SELECT doc_id, list_filter(regexp_split_to_array(payload, '\\s+'), w -> w <> '') AS ws FROM pay), " +
        s"wh AS MATERIALIZED (SELECT doc_id, list_transform(ws, w -> ${Hash61.wordHashSql("w")}) AS whs FROM pw), " +
        s"gr AS MATERIALIZED (SELECT doc_id, i - 1 AS pos, ${Hash61.shingleNSql("whs", "i", k)} AS gram " +
        s"FROM wh, unnest(generate_series(1, len(whs) - ${k - 1})) AS t(i) WHERE len(whs) >= $k), " +
        "dup AS MATERIALIZED (SELECT gram FROM gr GROUP BY gram HAVING count(*) >= 2), " +
        "hit AS MATERIALIZED (SELECT doc_id, pos FROM gr JOIN dup USING (gram)), " +
        "isl AS (SELECT doc_id, pos, CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL " +
        s"OR pos >= lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + $k THEN 1 ELSE 0 END AS brk FROM hit), " +
        "is2 AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM isl) " +
        "SELECT doc_id, CAST(island - 1 AS INTEGER) AS span_idx, " +
        "CAST(MIN(pos) AS BIGINT) AS start_word, " +
        s"CAST(MAX(pos) + $k AS BIGINT) AS end_word, " +
        s"CAST(MAX(pos) + $k - MIN(pos) AS BIGINT) AS n_words " +
        "FROM is2 GROUP BY doc_id, island"
    },
    // Exact n-gram Jaccard via the same inverted-index plan: distinct
    // 3-shingles, document-frequency cap, pair-shared counts, Jaccard.
    "dedup_ngram_jaccard" ->
      (wordHashCte +
        ", g AS (SELECT doc_id, grams, len(grams) AS n_grams FROM (" +
        "SELECT doc_id, list_distinct(list_transform(range(1, len(whs) - 1), " +
        s"i -> ${Hash61.shingle3Sql("whs[i]", "whs[i+1]", "whs[i+2]")})) AS grams " +
        "FROM wdocs WHERE len(whs) >= 3) WHERE len(grams) > 0), " +
        "p AS (SELECT doc_id, unnest(grams) AS gram FROM g), " +
        "rare AS (SELECT gram FROM p GROUP BY gram HAVING count(*) <= 64), " +
        "fp2 AS (SELECT p.doc_id, p.gram FROM p JOIN rare USING (gram)), " +
        "shared AS (SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b, count(*) AS shared " +
        "FROM fp2 a JOIN fp2 b2 ON a.gram = b2.gram AND a.doc_id < b2.doc_id GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, CAST(shared AS DOUBLE) / (na.n_grams + nb.n_grams - shared) AS jaccard " +
        "FROM shared JOIN g na ON na.doc_id = doc_a JOIN g nb ON nb.doc_id = doc_b " +
        "WHERE CAST(shared AS DOUBLE) / (na.n_grams + nb.n_grams - shared) > 0.2"),
    // A3/A4/W1 evidence: winning-candidate score = class_weight(+25) +
    // div prior(+5) + Σ per-scoring-paragraph (1 + len(split(','))=1 + 0)
    // = 30 + 2·k25 over the comma-free corpus; decile histogram of that.
    "extract_confidence_hist" ->
      (chunkerCte(s"WHERE n_chars >= $MinChars") +
        "SELECT CAST(floor((30 + 2 * k25) / 10) AS BIGINT) AS confidence_decile, " +
        "count(*) AS cnt FROM k GROUP BY 1"),
    // P2/P4/P5/P8 stage counts over the fixed wrap: 17 boilerplate
    // elements + k paragraphs parsed; the sidebar subtree (7 elements)
    // is the only unlikely-candidates removal; no div is ever retagged
    // (every div has a block child per divToPElementsRe — incl. the
    // anchors-count-as-block quirk on the promo div); candidates are
    // always {content div, wrap div}.
    "dom_transform_stats" ->
      (chunkerCte(s"WHERE n_chars >= $MinChars") +
        "SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "CAST(17 + k_total AS BIGINT) AS nodes_parsed, " +
        "CAST(7 AS BIGINT) AS removed_unlikely, " +
        "CAST(0 AS BIGINT) AS divs_retagged, " +
        "CAST(2 AS BIGINT) AS n_candidates FROM k"),
    // Per-bucket lineage: Spark's Murmur3 hash(conv_id, pmod(turn_idx, 2))
    // replayed bit-exactly in HUGEINT (OracleGen.sparkBucketSql — conv_id
    // is always 10 ASCII bytes, so the byte loop unrolls), turn counts
    // split by the retry-acceptance length formula.
    "extract_lineage" ->
      (chunkerCte("") +
        ", f AS (SELECT d2.doc_id, d2.n_chars, k.k_total, " +
        "length(CAST(d2.doc_id AS VARCHAR)) AS dd, " +
        "CAST(floor(sqrt(d2.doc_id)) AS BIGINT) AS kk, " +
        "(d2.doc_id % 1000) % 2 AS tm FROM documents d2 JOIN k ON d2.doc_id = k.doc_id), " +
        s"g AS (SELECT doc_id, ${graft.spark.OracleGen.sparkBucketSql("kk", "tm", 16)} AS bucket, " +
        "CASE WHEN 74 + dd + 6 * k_total + n_chars >= 250 THEN 1 ELSE 0 END AS ok FROM f) " +
        "SELECT 'local' AS input_fingerprint, bucket, " +
        "CAST(SUM(ok) AS BIGINT) AS extracted_turns, " +
        "CAST(0 AS BIGINT) AS failed_turns, " +
        "CAST(count(*) - SUM(ok) AS BIGINT) AS empty_turns " +
        "FROM g GROUP BY bucket"),
    // A7 drift meter: closed-form per perturbation class ('expected extra
    // drift sentence' joins to 29 chars; the %3==2 class re-inserts the
    // benchmark's missing last word).
    "drift_insdel" ->
      ("SELECT doc_id, " +
        "CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 0 END AS BIGINT) AS ins_blocks, " +
        // last WORD, not last-nonspace-run-to-EOL: tolerate trailing
        // whitespace so the oracle tokenization matches Drift's \s+ split
        "CAST(CASE WHEN doc_id % 3 = 2 THEN length(regexp_extract(text, '(\\S+)\\s*$', 1)) ELSE 0 END AS BIGINT) AS ins_chars, " +
        "CAST(CASE WHEN doc_id % 3 = 1 THEN 1 ELSE 0 END AS BIGINT) AS del_blocks, " +
        "CAST(CASE WHEN doc_id % 3 = 1 THEN 29 ELSE 0 END AS BIGINT) AS del_chars " +
        s"FROM documents WHERE n_chars >= $MinChars"),
    // 2j: the crafted retry page — constant-form expected output that is
    // only reachable via lenient-retry-on-the-mutated-DOM (see
    // TranscriptGen.retryHtml scaladoc for why both failure modes differ).
    "extract_retry_lenient" ->
      ("SELECT doc_id, CAST(27.0 AS DOUBLE) AS confidence, " +
        "'retry winner part one for document ' || CAST(doc_id AS VARCHAR) || " +
        "' stays retry winner part two for document ' || CAST(doc_id AS VARCHAR) || " +
        "' stays' AS extracted_text FROM documents"),
    // The FULL pipeline incl. both retry-loop outcomes (2j): an assistant
    // turn is accepted iff its serialized article HTML reaches
    // retry_length=250 — htmlLen = 74 + digits(doc_id) + 6k + n_chars over
    // the fixed wrap; a rejected ruthless pass has already MOVED the
    // candidate into the discarded article (lxml mutation semantics), so
    // the lenient retry finds nothing and yields (0.0, ''). User turns
    // carry plain text (no candidates at all) — same empty outcome.
    "extract_flagship" ->
      (chunkerCte("") +
        ", f AS (SELECT d2.doc_id, d2.text, d2.n_chars, k.k_total, k.k25, " +
        "length(CAST(d2.doc_id AS VARCHAR)) AS dd FROM documents d2 JOIN k ON d2.doc_id = k.doc_id) " +
        "SELECT 'conv-' || lpad(CAST(CAST(floor(sqrt(doc_id)) AS BIGINT) AS VARCHAR), 5, '0') AS conv_id, " +
        "CAST((doc_id % 1000) * 2 + i AS INTEGER) AS turn_idx, " +
        "CAST(CASE WHEN i = 0 AND 74 + dd + 6 * k_total + n_chars >= 250 " +
        "THEN 30 + 2 * k25 ELSE 0 END AS DOUBLE) AS confidence, " +
        "CASE WHEN i = 0 AND 74 + dd + 6 * k_total + n_chars >= 250 " +
        "THEN 'Heading ' || CAST(doc_id AS VARCHAR) || ' ' || text ELSE '' END AS extracted_text, " +
        "false AS failed " +
        "FROM f, unnest([0, 1]) AS t(i)"),
    // The extraction engine's end-to-end oracle: the HTML wrap built by
    // TranscriptGen.htmlWrap is boilerplate + the document text; a correct
    // readability extraction returns exactly the heading + the
    // whitespace-normalized document text.
    "extract_roundtrip" -> roundtripOracle,
    "extract_sql_surface" -> roundtripOracle,
    "extract_plan_surface" -> roundtripOracle,
    "extract_multipage" ->
      (s"SELECT CAST(doc_id AS BIGINT) AS doc_id, $wrappedTextSql || " +
        "' Heading ' || CAST(doc_id AS VARCHAR) || " +
        "' appendix content for document ' || CAST(doc_id AS VARCHAR) || " +
        "' with enough plain words to pass both the paragraph length gate " +
        "and the retry length gate of the readability pipeline comfortably " +
        "and deterministically' AS extracted_text " +
        s"FROM documents WHERE n_chars >= $MinChars"),
    "titles" ->
      ("SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "'Doc ' || CAST(doc_id AS VARCHAR) || ' | Graft Corpus' AS title, " +
        "'Doc ' || CAST(doc_id AS VARCHAR) || ' | Graft Corpus' AS short_title " +
        s"FROM documents WHERE n_chars >= $MinChars"),
    "base_url" ->
      ("SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "CASE WHEN doc_id <= 99 THEN 'http://example.com/' || source || '/article' " +
        "ELSE 'http://example.com/' || source || '/article-' || CAST(doc_id AS VARCHAR) END AS base_url " +
        "FROM documents"),
    "dedup_exact" ->
      "SELECT md5(text) AS h, COUNT(*) AS cnt, MIN(doc_id) AS keeper FROM documents GROUP BY md5(text)",
    "dedup_url" -> graft.spark.Dedup.urlDedupSql(),
    // Gopher/C4-style quality signals: per-row list algebra; every ratio
    // is the same single int/int double division the Scala kernel does,
    // and the keep flag compares those doubles to the shared literals.
    "quality_signals" -> (qualityCtes("text", "") + "SELECT * FROM q"),
    // duplicate-line repetition: same line slicing, plant, beyond-first
    // counting and double divisions as the Scala kernel
    "quality_repetition" -> graft.spark.Quality.repetitionSql(),
    // The composed pipeline oracle: the roundtrip closed form feeds the
    // quality CTEs, keepers join back for source, the quota window uses
    // the same Hash61.mix rank.
    "curate_pipeline" -> {
      qualityCtes(wrappedTextSql, s"WHERE n_chars >= $MinChars") +
        ", k AS (SELECT q.doc_id, d3.source, q.n_words FROM q " +
        "JOIN documents d3 ON d3.doc_id = q.doc_id WHERE q.keep = 1), " +
        "rk AS (SELECT doc_id, source, n_words, row_number() OVER " +
        s"(PARTITION BY source ORDER BY ${Hash61.mixSql("doc_id::HUGEINT")}, doc_id) AS rn FROM k) " +
        "SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank, n_words " +
        "FROM rk WHERE rn <= 5"
    },
    // PII scrub: the payload is closed-form in (doc_id, first 5 words);
    // counts + redaction replay with the SAME pattern strings (shared
    // Java/RE2 subset) — DuckDB needs the explicit 'g' flag to match
    // Spark's replace-all semantics.
    "pii_scrub" -> {
      import graft.spark.Quality._
      "WITH p AS (SELECT doc_id, " +
        "array_to_string(list_filter(string_split(text, ' '), x -> x <> '')[1:5], ' ') AS head5 FROM documents), " +
        "pay AS (SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER) " +
        "WHEN 0 THEN 'reach user' || doc_id || ' at user' || doc_id || '@mail.example.com or x.user' || doc_id || '@sub.example.org about ' || head5 " +
        "WHEN 1 THEN 'call user' || doc_id || ' on 555-01' || (doc_id % 10) || '-' || (1000 + doc_id % 9000) || ' regarding ' || head5 " +
        "WHEN 2 THEN 'host for user' || doc_id || ' is 10.' || (doc_id % 256) || '.' || ((doc_id // 256) % 256) || '.1 serving ' || head5 " +
        "ELSE 'clean note from user' || doc_id || ' about ' || head5 END AS payload FROM p) " +
        s"SELECT doc_id, CAST(len(regexp_extract_all(payload, '$EmailRe')) AS BIGINT) AS n_emails, " +
        s"CAST(len(regexp_extract_all(payload, '$PhoneRe')) AS BIGINT) AS n_phones, " +
        s"CAST(len(regexp_extract_all(payload, '$Ipv4Re')) AS BIGINT) AS n_ips, " +
        s"regexp_replace(regexp_replace(regexp_replace(payload, '$EmailRe', '<EMAIL>', 'g'), " +
        s"'$PhoneRe', '<PHONE>', 'g'), '$Ipv4Re', '<IP>', 'g') AS scrubbed FROM pay"
    },
    // Temperature mixture sampling: per-source rate sqrt(n_min/n_s)
    // (IEEE sqrt/division — bit-identical doubles both engines), ppm
    // floor, Hash61.mix threshold per row.
    "sample_mixture" ->
      ("WITH c AS (SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source), " +
        "mn AS (SELECT MIN(n_src) AS n_min FROM c), " +
        "r AS (SELECT source, CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n_src AS DOUBLE)) * 1000000) AS BIGINT) AS threshold_ppm " +
        "FROM c CROSS JOIN mn), " +
        s"d AS (SELECT doc_id, source, CAST(${Hash61.mixSql("doc_id::HUGEINT")} % 1000000 AS BIGINT) AS mix_rank FROM documents) " +
        "SELECT d.doc_id, d.source, d.mix_rank, r.threshold_ppm " +
        "FROM d JOIN r USING (source) WHERE d.mix_rank < r.threshold_ppm"),
    // Plan replay: sqrt weights, source-ordered cumulative normalizer.
    "mixture_plan" -> graft.spark.Quality.mixturePlanSql(),
    // DSIR replay: same Hash61 bucket, add-one ratio, ln floored to
    // integer micro-nats per bucket before the per-document sum.
    "dsir_weights" -> graft.spark.Curation.dsirWeightsSql(),
    // Bigram-LM replay: word-hash stream, 2-shingle keys, per-position
    // micro-nat floor, integer sums.
    "quality_perplexity" -> graft.spark.Curation.perplexitySql(),
    // Tercile replay: perplexity CTE + same rank + integer bucket cut.
    "quality_ccnet_buckets" -> graft.spark.Curation.ccnetBucketsSql(),
    // Packing replay: mix-assignment + per-shard integer running sum.
    "pack_sequences" -> graft.spark.Shards.packSequencesSql(),
    // KL-drift replay: same slice predicate, same bucket model, pn/po
    // bound once, per-bucket micro-nat floor before the integer sum.
    "corpus_kl_drift" -> graft.spark.Curation.klDriftSql(),
    // BM25 replay: same query VALUES, per-(term,doc) micro-unit floor
    // before the per-doc sum, same (score desc, doc_id) rank.
    "bm25_topk" -> graft.spark.Retrieval.bm25TopKSql(),
    // the index probe is score-identical to the one-shot scan by
    // construction (shared microScore formula, exact parquet round-trip)
    "bm25_topk_indexed" -> graft.spark.Retrieval.bm25TopKSql(),
    // Split replay: salted double-mix rank in HUGEINT, same thresholds.
    "split_assign" -> graft.spark.Shards.splitAssignSql(),
    // Deterministic per-domain quota sample: Hash61.mix rank replayed in
    // HUGEINT, same (rank_key, doc_id) window order.
    "sample_per_domain" ->
      (s"WITH r AS (SELECT doc_id, source, ${Hash61.mixSql("doc_id::HUGEINT")} AS rk FROM documents), " +
        "w AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY rk, doc_id) AS rn FROM r) " +
        "SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank FROM w WHERE rn <= 20"),
    // Benchmark decontamination: the planted payload (12-word eval span
    // for doc_id % 7 == 3) and the 8-gram Hash61 shingles replay exactly;
    // corpus-vs-eval overlap is an equi-join on the shingle hash.
    "decontaminate" -> {
      val wh = "list_transform(ws, dw_ -> " + Hash61.wordHashSql("dw_") + ")"
      def sh8(whs: String, iv: String) =
        s"list_distinct(CASE WHEN len($whs) >= 8 THEN " +
          s"list_transform(range(1, len($whs) - 6), $iv -> ${Hash61.shingleNSql(whs, iv, 8)}) " +
          "ELSE []::HUGEINT[] END)"
      "WITH wd AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents), " +
        "pay AS (SELECT d.doc_id, CASE WHEN d.doc_id % 7 = 3 THEN " +
        "array_to_string(e.ws[1:12], ' ') || ' ' || d.text ELSE d.text END AS payload " +
        "FROM documents d JOIN wd e ON e.doc_id = d.doc_id % 50), " +
        "pw AS (SELECT doc_id, list_filter(string_split(payload, ' '), x -> x <> '') AS ws FROM pay), " +
        s"ph AS (SELECT doc_id, $wh AS whs FROM pw), " +
        s"sh AS (SELECT doc_id, ${sh8("whs", "si_")} AS shs FROM ph), " +
        s"eh AS (SELECT $wh AS whs FROM wd WHERE doc_id < 50), " +
        s"ev AS (SELECT DISTINCT unnest(${sh8("whs", "ei_")}) AS sg FROM eh), " +
        "cs AS (SELECT doc_id, unnest(shs) AS sg FROM sh), " +
        "shr AS (SELECT cs.doc_id, count(*) AS shared FROM cs JOIN ev USING (sg) GROUP BY cs.doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(shr.shared, 0) AS BIGINT) AS shared_ngrams, " +
        "CAST(CASE WHEN coalesce(shr.shared, 0) >= 3 THEN 1 ELSE 0 END AS BIGINT) AS contaminated " +
        "FROM documents d LEFT JOIN shr ON shr.doc_id = d.doc_id"
    },
    // Bloom replay: same shingle CTEs, eval shingles → k Hash61 bit
    // positions (DISTINCT = the filter), a corpus shingle "hits" iff all
    // k of ITS positions are present — bit-for-bit the JVM filter's
    // decision, false positives included
    "decontaminate_bloom" -> {
      import graft.spark.Hash61
      val wh = "list_transform(ws, dw_ -> " + Hash61.wordHashSql("dw_") + ")"
      def sh8(whs: String, iv: String) =
        s"list_distinct(CASE WHEN len($whs) >= 8 THEN " +
          s"list_transform(range(1, len($whs) - 6), $iv -> ${Hash61.shingleNSql(whs, iv, 8)}) " +
          "ELSE []::HUGEINT[] END)"
      val m = 1 << 20
      val k = 4
      def posSql(sg: String, i: String) =
        s"${Hash61.mixSql(s"xor($sg, ${Hash61.mixSql(s"($i) + 1")})")} % $m"
      "WITH wd AS MATERIALIZED (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM documents), " +
        "pay AS MATERIALIZED (SELECT d.doc_id, CASE WHEN d.doc_id % 7 = 3 THEN " +
        "array_to_string(e.ws[1:12], ' ') || ' ' || d.text ELSE d.text END AS payload " +
        "FROM documents d JOIN wd e ON e.doc_id = d.doc_id % 50), " +
        "pw AS MATERIALIZED (SELECT doc_id, list_filter(string_split(payload, ' '), x -> x <> '') AS ws FROM pay), " +
        s"ph AS MATERIALIZED (SELECT doc_id, $wh AS whs FROM pw), " +
        s"sh AS MATERIALIZED (SELECT doc_id, ${sh8("whs", "si_")} AS shs FROM ph), " +
        s"eh AS MATERIALIZED (SELECT $wh AS whs FROM wd WHERE doc_id < 50), " +
        s"ev AS MATERIALIZED (SELECT DISTINCT unnest(${sh8("whs", "ei_")}) AS sg FROM eh), " +
        s"ki AS (SELECT unnest(range(0, $k)) AS i), " +
        s"ps AS MATERIALIZED (SELECT DISTINCT ${posSql("ev.sg", "ki.i")} AS pos FROM ev CROSS JOIN ki), " +
        "cs AS MATERIALIZED (SELECT doc_id, unnest(shs) AS sg FROM sh), " +
        s"cp AS MATERIALIZED (SELECT doc_id, sg, ${posSql("cs.sg", "ki.i")} AS pos FROM cs CROSS JOIN ki), " +
        s"hit AS MATERIALIZED (SELECT doc_id, sg FROM cp JOIN ps USING (pos) GROUP BY doc_id, sg HAVING count(*) = $k), " +
        "shr AS (SELECT doc_id, count(*) AS flagged FROM hit GROUP BY doc_id) " +
        "SELECT d.doc_id, CAST(coalesce(shr.flagged, 0) AS BIGINT) AS flagged_ngrams, " +
        "CAST(CASE WHEN coalesce(shr.flagged, 0) >= 3 THEN 1 ELSE 0 END AS BIGINT) AS contaminated " +
        "FROM documents d LEFT JOIN shr ON shr.doc_id = d.doc_id"
    },
    "vocab_topk" ->
      ("SELECT w AS word, COUNT(*) AS cnt FROM (" +
        "SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w " +
        "FROM documents) GROUP BY w ORDER BY cnt DESC, word LIMIT 50"),
    "corpus_stats_by_domain" ->
      ("SELECT source, COUNT(*) AS n_docs, " +
        "CAST(SUM(n_chars) AS BIGINT) AS total_chars, " +
        "COUNT(DISTINCT md5(text)) AS n_unique_texts " +
        "FROM documents GROUP BY source"),
    // tf·idf replay: same word model, ln floored to 6 decimals BEFORE the
    // rank (identical ordering both sides), ties by word
    "tfidf_top_terms" ->
      ("WITH w AS MATERIALIZED (SELECT source, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word FROM documents), " +
        "tf AS MATERIALIZED (SELECT source, word, COUNT(*) AS tf FROM w GROUP BY 1, 2), " +
        "df AS MATERIALIZED (SELECT word, COUNT(*) AS df FROM tf GROUP BY 1), " +
        "ns AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents), " +
        "sc AS (SELECT tf.source, tf.word, " +
        "floor(tf.tf * ln(CAST(ns.n_sources AS DOUBLE) / df.df) * 1000000) / 1000000 AS tfidf " +
        "FROM tf JOIN df USING (word) CROSS JOIN ns) " +
        "SELECT source, CAST(rn AS INTEGER) AS \"rank\", word, tfidf FROM (" +
        "SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY tfidf DESC, word) AS rn " +
        "FROM sc) t WHERE rn <= 5"),
    "corpus_rollup" ->
      ("SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang, " +
        "COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars " +
        "FROM documents GROUP BY ROLLUP(source, lang)"),
    // histogram cumsum quantile: smallest value whose cumulative count
    // reaches ceil(q*n) — same definition, same IEEE ceil(double) both sides
    "length_quantiles" ->
      ("WITH h AS (SELECT source, n_chars, COUNT(*) AS c FROM documents GROUP BY 1, 2), " +
        "t AS (SELECT source, n_chars, " +
        "SUM(c) OVER (PARTITION BY source ORDER BY n_chars) AS cum, " +
        "SUM(c) OVER (PARTITION BY source) AS total FROM h) " +
        "SELECT source, " +
        "CAST(MIN(CASE WHEN cum >= ceil(0.5 * total) THEN n_chars END) AS BIGINT) AS p50, " +
        "CAST(MIN(CASE WHEN cum >= ceil(0.9 * total) THEN n_chars END) AS BIGINT) AS p90, " +
        "CAST(MIN(CASE WHEN cum >= ceil(0.99 * total) THEN n_chars END) AS BIGINT) AS p99 " +
        "FROM t GROUP BY source"),
    // Full BPE-training replay: 32 chained pair-count/argmax/rewrite
    // rounds over the top-256 weighted vocab (Bpe.mergesSql), and the
    // trained merges applied to every document via the distinct-word
    // dictionary (Bpe.tokenCountsSql).
    "bpe_merges" -> graft.spark.Bpe.mergesSql(),
    "bpe_token_counts" -> graft.spark.Bpe.tokenCountsSql(),
    "text_metrics" ->
      ("SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_words, " +
        "CAST(length(text) AS BIGINT) AS n_chars_m, " +
        "CAST(floor((length(text) + 3) / 4) AS BIGINT) AS token_estimate, " +
        "CAST((length(text) - length(replace(text, ' the ', ''))) / 5 AS BIGINT) AS the_count, " +
        "CAST(len(regexp_extract_all(text, ' ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +')) AS BIGINT) AS token_count_bpe " +
        "FROM documents"),
    // Shard manifest replay: same mix-assignment, same per-row
    // mix(mix(id) xor fingerprint) hash, HUGEINT modular sum per shard.
    "shard_manifest" -> {
      val fpFold =
        "list_reduce(list_prepend(0::HUGEINT, list_transform(" +
          "list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> ''), " +
          s"w -> ${Hash61.rawWordHashSql("w")})), " +
          s"(sa_, sb_) -> (sa_ * ${graft.spark.TextAnalysis.FingerprintBase} + sb_) % ${Hash61.M}::HUGEINT)"
      s"WITH h AS MATERIALIZED (SELECT doc_id, text, " +
        s"CAST(${Hash61.mixSql("doc_id::HUGEINT")} % 64 AS BIGINT) AS shard, " +
        s"${Hash61.mixSql(s"xor(${Hash61.mixSql("doc_id::HUGEINT")}, $fpFold)")} AS rh FROM documents) " +
        "SELECT shard, COUNT(*) AS n_rows, " +
        "CAST(SUM(octet_length(encode(text))) AS BIGINT) AS n_bytes, " +
        s"CAST(SUM(rh::HUGEINT) % ${Hash61.M}::HUGEINT AS BIGINT) AS content_hash " +
        "FROM h GROUP BY shard"
    },
    "dedup_rewrite" ->
      ("SELECT d.doc_id, d.n_chars FROM documents d JOIN " +
        "(SELECT md5(text) AS h, MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k " +
        "ON d.doc_id = k.doc_id"),
    "next_page_url" ->
      ("SELECT doc_id, 'http://example.com/' || source || '/article-' || " +
        "CAST(doc_id AS VARCHAR) || '.html?page=2' AS next_url FROM documents"),
    "lang_id_classes" ->
      ("SELECT doc_id, CASE CAST(doc_id % 6 AS INTEGER) " +
        "WHEN 0 THEN 'en' WHEN 1 THEN 'es' WHEN 2 THEN 'fr' " +
        "WHEN 3 THEN 'de' WHEN 4 THEN 'zh' ELSE 'und' END AS predicted_lang " +
        "FROM documents"),
    // lang_id over the real corpus: the stopword-fraction scorer is plain
    // relational algebra — per-language word-membership counts, argmax with
    // the (ratio, lang) lexicographic tie-break of the Scala maxBy.
    "lang_id" ->
      ("WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS ws FROM documents), " +
        "s AS (SELECT doc_id, u.lang AS lang, " +
        "CAST(len(list_filter(ws, x -> list_contains(u.sw, x))) AS DOUBLE) / greatest(len(ws), 1) AS ratio " +
        "FROM w, unnest([" +
        "{'lang': 'en', 'sw': ['the','and','of','to','a','in','is','it']}," +
        "{'lang': 'es', 'sw': ['el','la','de','que','y','en','un','es']}," +
        "{'lang': 'fr', 'sw': ['le','la','de','et','un','en','est','que']}," +
        "{'lang': 'de', 'sw': ['der','die','das','und','in','ist','von','ein']}," +
        "{'lang': 'zh', 'sw': ['de','shi','le','zai','he','you']}]) AS t(u)), " +
        "b AS (SELECT doc_id, lang, ratio, row_number() OVER (PARTITION BY doc_id ORDER BY ratio DESC, lang DESC) AS rn FROM s) " +
        "SELECT doc_id, CASE WHEN ratio > 0 THEN lang ELSE 'und' END AS predicted_lang, " +
        "ratio AS stopword_ratio FROM b WHERE rn = 1"),
    // n-gram lang-ID, full scorer replayed in SQL: trigram extraction over
    // the padded normalized text, profile-membership ratios, argmax with
    // the (ratio, lang) tie-break, CJK-script gate.
    "lang_id_ngram" -> {
      val profiles = graft.spark.TextAnalysis.trigramProfiles
        .map { case (lang, pf) =>
          s"{'lang': '$lang', 'pf': [${pf.map(t => s"'$t'").mkString(",")}]}"
        }.mkString(",")
      "WITH nm AS (SELECT doc_id, " +
        "' ' || trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) || ' ' AS norm, " +
        "CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS BIGINT) AS cjk, " +
        "CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nonspace FROM documents), " +
        "sc AS (SELECT doc_id, u.lang AS lang, " +
        // greatest(..., 1) guards the empty/whitespace-only doc (norm is
        // the two padding spaces, 0 trigrams): ratio 0/1 = 0.0 matches the
        // Scala total<=0 → ('und', 0.0) early return
        "CAST(len(list_filter(range(1, length(norm) - 1), " +
        "i -> list_contains(u.pf, substr(norm, i, 3)))) AS DOUBLE) / greatest(length(norm) - 2, 1) AS ratio " +
        s"FROM nm, unnest([$profiles]) AS t(u)), " +
        "b AS (SELECT doc_id, lang, ratio, row_number() OVER " +
        "(PARTITION BY doc_id ORDER BY ratio DESC, lang DESC) AS rn FROM sc) " +
        "SELECT n.doc_id, " +
        "CASE WHEN n.nonspace > 0 AND CAST(n.cjk AS DOUBLE) / n.nonspace > 0.2 THEN 'zh' " +
        "WHEN b.ratio > 0 THEN b.lang ELSE 'und' END AS predicted_lang, " +
        "CASE WHEN n.nonspace > 0 AND CAST(n.cjk AS DOUBLE) / n.nonspace > 0.2 " +
        "THEN CAST(n.cjk AS DOUBLE) / n.nonspace ELSE b.ratio END AS trigram_ratio " +
        "FROM nm n JOIN b ON b.doc_id = n.doc_id AND b.rn = 1"
    },
    "lang_id_ngram_classes" ->
      ("SELECT doc_id, CASE CAST(doc_id % 6 AS INTEGER) " +
        "WHEN 0 THEN 'en' WHEN 1 THEN 'es' WHEN 2 THEN 'fr' " +
        "WHEN 3 THEN 'de' WHEN 4 THEN 'zh' ELSE 'und' END AS predicted_lang " +
        "FROM documents"),
    // Rabin–Karp fingerprint in GF(2^61-1): the exact field arithmetic of
    // Hash61 replayed in DuckDB HUGEINT (int128 holds the 2^81 products).
    "doc_fingerprint" ->
      ("SELECT doc_id, " +
        "CAST(list_reduce(list_prepend(0::HUGEINT, list_transform(" +
        "list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> ''), " +
        s"w -> ${graft.spark.Hash61.rawWordHashSql("w")})), " +
        s"(fh_, fw_) -> (fh_ * 1000003 + fw_) % ${graft.spark.Hash61.M}::HUGEINT) AS BIGINT) AS fingerprint, " +
        "CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), w -> w <> '')) AS BIGINT) AS n_words " +
        "FROM documents"),
    // full HLL replay: fingerprint hash, registers, max-rho, ordered
    // harmonic fold, same estimator constants and 6-decimal floor
    "corpus_hll_distinct" -> graft.spark.Sketches.hllDistinctSql(),
    // CMS replay: same seeds/coordinates, min-over-rows, candidate gate.
    "cms_heavyhitters" -> graft.spark.Sketches.cmsHeavyHittersSql(),
    // decode-stub features are closed-form in (doc_id, text): the media
    // body is the UTF-8 of the ASCII text column, so the byte checksum is
    // a character-code fold.
    "multimodal_decode" ->
      ("SELECT doc_id, " +
        "CAST(64 + (doc_id % 8) * 32 AS INTEGER) AS width, " +
        "CAST(64 + (doc_id % 5) * 48 AS INTEGER) AS height, " +
        "CAST(3 AS INTEGER) AS channels, " +
        "CAST(length(text) AS INTEGER) AS n_bytes, " +
        "CAST(list_reduce(list_prepend(0::HUGEINT, list_transform(string_split(text, ''), " +
        "mc_ -> unicode(mc_)::HUGEINT)), " +
        s"(ma_, mb_) -> (ma_ * 31 + mb_) % ${graft.spark.Hash61.M}::HUGEINT) AS BIGINT) AS checksum " +
        "FROM documents"),
    // spans over the fixed htmlWrap shape: the sanitized article is one
    // top-level block, so each doc emits exactly one span covering the
    // whole extracted text.
    "extract_spans" ->
      ("SELECT 'conv-' || lpad(CAST(CAST(floor(sqrt(doc_id)) AS BIGINT) AS VARCHAR), 5, '0') AS conv_id, " +
        "CAST(doc_id AS INTEGER) AS turn_idx, " +
        "CAST(0 AS INTEGER) AS block_idx, " +
        "CAST(0 AS INTEGER) AS \"start\", " +
        "CAST(length(et) AS INTEGER) AS \"end\", " +
        "et AS block_text FROM (" +
        s"SELECT doc_id, $wrappedTextSql AS et " +
        s"FROM documents WHERE n_chars >= $MinChars)"),
    // W2 sibling merge, all four branches: the article is exactly four
    // top-level blocks (long-p lead / best candidate / threshold-merged
    // sibling / period-p tail) whose texts are rebuilt verbatim from the
    // same TranscriptGen constants, so starts are running sums of
    // (length + 1); the below-threshold sibling's text appears nowhere.
    "extract_spans_multi" -> {
      import graft.spark.TranscriptGen._
      val lead = s"'lead paragraph for document ' || CAST(doc_id AS VARCHAR) || ' $SibLead'"
      val blks = s"[$lead, '${SibContent.mkString(" ")}', " +
        s"'${SibBlock.mkString(" ")}', '$SibTail']"
      s"WITH b AS (SELECT doc_id, $blks AS blks FROM documents), " +
        "u AS (SELECT doc_id, i, blks[i] AS bt FROM b, unnest(generate_series(1, 4)) AS t(i)), " +
        "w AS (SELECT doc_id, i, bt, CAST(COALESCE(SUM(length(bt) + 1) OVER " +
        "(PARTITION BY doc_id ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INTEGER) AS st FROM u) " +
        "SELECT doc_id, CAST(i - 1 AS INTEGER) AS block_idx, st AS \"start\", " +
        "CAST(st + length(bt) AS INTEGER) AS \"end\", bt AS block_text, " +
        "CAST(40.0 AS DOUBLE) AS confidence FROM w"
    },
    // 2i: the sanitize survivor text is a constant around the doc_id
    // paragraph — built from the same TranscriptGen constants the page is.
    "sanitize_decisions" -> {
      import graft.spark.TranscriptGen._
      val pre = Seq(SanKeptHeader, SanBig1, SanRescueKeep, SanBig2).mkString(" ")
      val post = Seq(s"$SanCommaKeep1 $SanCommaKeep2 $SanCommaLink",
        s"$SanEntryKeep $SanEntryLink", SanTableKeep).mkString(" ")
      s"SELECT doc_id, '$pre main paragraph for document ' || " +
        s"CAST(doc_id AS VARCHAR) || ' carries scoring weight $post' " +
        "AS extracted_text FROM documents"
    },
    "charset_detect" ->
      ("SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER) " +
        "WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1251' " +
        "WHEN 2 THEN 'windows-1252' ELSE 'ascii' END AS detected " +
        "FROM documents"),
    // Multimodal stubs are deterministic functions of (doc_id, utf8 byte
    // length of text) — fully SQL-expressible despite the binary plumbing.
    "multimodal_resize" ->
      ("SELECT doc_id, CAST((64 + (doc_id % 8) * 32) // 2 AS INTEGER) AS width, " +
        "CAST((64 + (doc_id % 5) * 48) // 2 AS INTEGER) AS height, " +
        "CAST((octet_length(encode(text)) + 3) // 4 AS BIGINT) AS n_bytes " +
        "FROM documents"),
    // Per-channel body stats: bytes are the UTF-8 of the ASCII text, so
    // channel c's bytes are the character codes at positions ≡ c (mod 3).
    "multimodal_features" -> {
      def chIdx(c: Int) = s"list_filter(range(1, len(bs) + 1), fi_ -> (fi_ - 1) % 3 = $c)"
      def chSum(c: Int) =
        s"list_reduce(list_prepend(0::BIGINT, list_transform(${chIdx(c)}, gi_ -> bs[gi_])), (ga_, gb_) -> ga_ + gb_)"
      def chMax(c: Int) =
        s"coalesce(list_max(list_transform(${chIdx(c)}, hi_ -> bs[hi_])), 0)"
      "WITH b AS (SELECT doc_id, list_transform(string_split(text, ''), mb_ -> unicode(mb_)::BIGINT) AS bs FROM documents), " +
        s"r AS (SELECT doc_id, len(bs) AS n, ${chSum(0)} AS s0, ${chSum(1)} AS s1, ${chSum(2)} AS s2, " +
        s"${chMax(0)} AS m0, ${chMax(1)} AS m1, ${chMax(2)} AS m2 FROM b) " +
        "SELECT doc_id, CAST(s0 AS BIGINT) AS ch0_sum, CAST(s1 AS BIGINT) AS ch1_sum, " +
        "CAST(s2 AS BIGINT) AS ch2_sum, CAST(m0 AS BIGINT) AS ch0_max, " +
        "CAST(m1 AS BIGINT) AS ch1_max, CAST(m2 AS BIGINT) AS ch2_max, " +
        "CAST(s0 + s1 + s2 AS DOUBLE) / n AS mean_byte FROM r"
    },
    "multimodal_frame_sample" ->
      ("SELECT doc_id, frame_idx, CAST(frame_idx * 40 AS BIGINT) AS pts_ms, " +
        "CAST(LEAST(256, blen - frame_idx * 256) AS BIGINT) AS frame_len " +
        "FROM (SELECT doc_id, octet_length(encode(text)) AS blen, " +
        "CAST(unnest(range(0, (octet_length(encode(text)) + 255) // 256, 4)) AS INTEGER) AS frame_idx " +
        "FROM documents) t"),
    // Embedding oracles: DuckDB's list_dot_product on DOUBLE[] is a strict
    // left-to-right double sum — bit-identical to both the typed JVM
    // kernel (embeddingNearDup) and the Catalyst aggregate/zip_with HOF
    // (bruteForceTopK), so raw doubles survive the driver's hash compare.
    // Sublinear default: exact all-pairs NN over the fully-planted union
    // (perturbation is exponent-exact ⇒ identical doubles both sides),
    // filtered to the ≥0.95 pairs the 6 probed cells must recover.
    "dedup_embedding_nn" ->
      ("WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "pl AS (SELECT vec_id + 100000 AS vec_id, " +
        "list_transform(range(1, len(v) + 1), j -> CASE WHEN (j - 1) % 9 = 0 " +
        "THEN v[j] * 0.5 ELSE v[j] END) AS v FROM e0), " +
        "u AS (SELECT * FROM e0 UNION ALL SELECT * FROM pl), " +
        "n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM u), " +
        "s AS (SELECT a.vec_id, b.vec_id AS nn_id, " +
        "list_dot_product(b.v, a.v) / (b.nrm * a.nrm) AS cosine " +
        "FROM n a JOIN n b ON a.vec_id <> b.vec_id), " +
        "bst AS (SELECT vec_id, nn_id, cosine FROM (SELECT *, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY cosine DESC, nn_id) AS rn FROM s) t WHERE rn = 1) " +
        "SELECT vec_id, nn_id, cosine, CAST(1 AS BIGINT) AS is_dup " +
        "FROM bst WHERE cosine >= 0.95"),
    "dedup_embedding_nn_exact" ->
      ("WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v, " +
        "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings), " +
        "s AS (SELECT a.vec_id AS vec_id, b.vec_id AS nn_id, " +
        "list_dot_product(b.v, a.v) / (b.nrm * a.nrm) AS cosine " +
        "FROM n a JOIN n b ON a.vec_id <> b.vec_id) " +
        "SELECT vec_id, nn_id, cosine, " +
        "CAST(CASE WHEN cosine >= 0.95 THEN 1 ELSE 0 END AS BIGINT) AS is_dup " +
        "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, nn_id) AS rn FROM s) t " +
        "WHERE rn = 1"),
    // Sublinear near-dup probe: exact all-pairs NN over the planted union
    // (the perturbation is exponent-exact so both sides compute identical
    // doubles), filtered to the >=0.95 pairs the probed cells must find.
    "dedup_embedding_nn_probe" ->
      ("WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
        "pl AS (SELECT vec_id + 100000 AS vec_id, " +
        "list_transform(range(1, len(v) + 1), j -> CASE WHEN (j - 1) % 9 = 0 " +
        "THEN v[j] * 0.5 ELSE v[j] END) AS v FROM e0 WHERE vec_id < 500), " +
        "u AS (SELECT * FROM e0 UNION ALL SELECT * FROM pl), " +
        "n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM u), " +
        "s AS (SELECT a.vec_id, b.vec_id AS nn_id, " +
        "list_dot_product(b.v, a.v) / (b.nrm * a.nrm) AS cosine " +
        "FROM n a JOIN n b ON a.vec_id <> b.vec_id), " +
        "bst AS (SELECT vec_id, nn_id, cosine FROM (SELECT *, ROW_NUMBER() OVER " +
        "(PARTITION BY vec_id ORDER BY cosine DESC, nn_id) AS rn FROM s) t WHERE rn = 1) " +
        "SELECT vec_id, nn_id, cosine, CAST(1 AS BIGINT) AS is_dup " +
        "FROM bst WHERE cosine >= 0.95"),
    // SemDeDup: full Lloyd training + cell assignment + within-cell
    // pair scan replayed over the planted union (OracleGen).
    "dedup_semantic" -> graft.spark.OracleGen.semanticDedupSql(),
    // Whole-algorithm SQL replays (OracleGen): LSH planes/buckets and the
    // deterministic Lloyd-trained IVF quantizer, re-ranked exactly.
    "ann_lsh_topk" -> graft.spark.OracleGen.lshTopKSql(),
    "ann_lsh_multiprobe_topk" -> graft.spark.OracleGen.lshTopKSql(multiprobe = true),
    "ann_ivf_topk" -> graft.spark.OracleGen.ivfTopKSql(),
    // the index probe replays ivfTopK exactly (stored centroids/cells
    // round-trip parquet bit-identically)
    "ann_ivf_indexed" -> graft.spark.OracleGen.ivfTopKSql(),
    // same oracle as ann_pq_topk: the standing index replays training,
    // codes and ADC bit-exactly, so the probe is result-identical
    "ann_pq_indexed" -> graft.spark.OracleGen.pqTopKSql(),
    "ann_pq_topk" -> graft.spark.OracleGen.pqTopKSql(),
    "ann_ivfpq_topk" -> graft.spark.OracleGen.ivfpqTopKSql(),
    "ann_cosine_topk" ->
      ("WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v, " +
        "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm FROM embeddings), " +
        "q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n ORDER BY vec_id LIMIT 20), " +
        "s AS (SELECT q.query_id, n.vec_id AS corpus_id, " +
        "list_dot_product(n.v, q.qv) / (n.nrm * q.qn) AS cosine " +
        "FROM n, q WHERE n.vec_id <> q.query_id) " +
        "SELECT query_id, CAST(rn AS INTEGER) AS \"rank\", corpus_id, cosine " +
        "FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rn FROM s) t " +
        "WHERE rn <= 5"),
    "q_antijoin_customers" ->
      ("SELECT c_custkey, c_mktsegment FROM customer " +
        "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)"),
    "q_sessionize_events" ->
      ("SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS sessions, COUNT(*) AS events FROM (" +
        "SELECT user_id, CASE WHEN prev_ts IS NULL OR " +
        "epoch(ts) - epoch(prev_ts) > 3600 THEN 1 ELSE 0 END AS new_session FROM (" +
        "SELECT user_id, ts, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts " +
        "FROM events) t1) t2 GROUP BY user_id"),
    // conv_id = 'conv-' || lpad(floor(sqrt(doc_id))); turnsPerDoc=2 gives
    // one assistant + one user turn per doc; tool = 'browser' on i%5==4,
    // i.e. turn i=4 of each doc's pair-index — with 2 turns/doc only
    // i ∈ {0,1}, so tool turns are 0 (the oracle states it closed-form).
    "conv_stats" ->
      ("SELECT 'conv-' || lpad(CAST(CAST(floor(sqrt(doc_id)) AS BIGINT) AS VARCHAR), 5, '0') AS conv_id, " +
        "COUNT(*) * 2 AS n_turns, COUNT(*) AS assistant_turns, " +
        "CAST(0 AS BIGINT) AS tool_turns FROM documents GROUP BY 1"),
    "q_session_stats" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), " +
        "l AS (SELECT user_id, event_id, us, LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e), " +
        "f AS (SELECT user_id, event_id, us, CASE WHEN prev_us IS NULL OR us - prev_us > 3600000000 THEN 1 ELSE 0 END AS ns FROM l), " +
        "s AS (SELECT user_id, event_id, us, SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_idx FROM f) " +
        "SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx, " +
        "MIN(us) AS start_us, MAX(us) AS end_us, COUNT(*) AS n_events " +
        "FROM s GROUP BY user_id, session_idx"),
    "q_lineitem_agg" ->
      ("SELECT l_returnflag, l_linestatus, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty, " +
        "COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    "q_join_topcustomers" ->
      ("SELECT c_custkey, COUNT(*) AS num_orders FROM orders " +
        "JOIN customer ON o_custkey = c_custkey GROUP BY c_custkey " +
        "ORDER BY num_orders DESC, c_custkey LIMIT 10"),
    "q_window_first_event" ->
      ("SELECT user_id, event_type FROM (" +
        "SELECT user_id, event_type, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn " +
        "FROM events) t WHERE rn = 1"),
    "q_asof_join" -> graft.spark.Temporal.asofJoinSql(),
    "streaming_asof" -> graft.spark.Temporal.asofJoinSql(),
    // arrival-ordered cap == batch rank window under the replay's
    // event-time order (ts = timestamp_micros(doc_id))
    "streaming_quota" ->
      ("SELECT doc_id, source, CAST(rn AS BIGINT) AS admit_rank FROM (" +
        "SELECT doc_id, source, ROW_NUMBER() OVER (" +
        "PARTITION BY source ORDER BY doc_id) AS rn FROM documents) t " +
        "WHERE rn <= 10"),
    // the batch lag-window sessionization, minus its batch-only
    // session_idx (the streaming face numbers sessions implicitly)
    "streaming_sessionize" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), " +
        "l AS (SELECT user_id, event_id, us, LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us FROM e), " +
        "f AS (SELECT user_id, event_id, us, CASE WHEN prev_us IS NULL OR us - prev_us > 3600000000 THEN 1 ELSE 0 END AS ns FROM l), " +
        "s AS (SELECT user_id, event_id, us, SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_idx FROM f) " +
        "SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us, COUNT(*) AS n_events " +
        "FROM s GROUP BY user_id, session_idx"),
    "source_overlap" -> graft.spark.TextAnalysis.sourceOverlapSql(),
    "streaming_drift" -> graft.spark.Curation.klDriftSql(),
    // stateless stream == batch: the roundtrip oracle, verbatim
    "streaming_extract" -> roundtripOracle,
    "q_range_join" -> graft.spark.Temporal.rangeJoinSql(),
    )
  }
}
