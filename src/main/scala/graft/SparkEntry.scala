package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.io.SyntheticCorpus
import graft.model.{Region, TextWithBox}
import graft.ops.{Dedup, Similarity, TextAnalytics}
import graft.pipeline.{Extract, PhashDedup}

/** Driver contract — queries (one per operator family from SURVEY.md §2 +
  * the training-data ops) and their DuckDB oracles.
  *
  * Naming: `q_*` have DuckDB oracle SQL (driver hash-compares values);
  * `x_*` are extraction-engine queries on the deterministic synthetic
  * corpus (non-SQL-expressible -> rows-only check; their correctness gate
  * is the golden-fixture ScalaTest suite).
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Scale-adaptive input spread (guide §2.5 "input skew: one huge
    * unsplittable file … repartition immediately after the read"): a
    * compact gate-tier parquet (documents.parquet at sf0.1 is ~600 KB)
    * is ONE 128 MB-split, so a per-doc map chained on the scan runs on
    * a single core. Repartition ONLY when the scan's input bytes plan
    * fewer splits than the cluster has cores (plan STATISTICS — file
    * size — not `.rdd`, whose RDD compilation alone cost ~0.1 s per
    * bench invocation when this was first measured): at production
    * scale the input has many splits and this is a no-op exchange-wise.
    * Row-preserving (round-robin with Spark's deterministic
    * sort-before-repartition), so every consumer's result is unchanged.
    *
    * Applied ONLY where the per-doc work dwarfs the exchange — the
    * difflib-based ensemble vote (~250 µs/doc) and ROVER alignment.
    * The r7 bench sweep showed the cheap per-doc maps (reading-order
    * sort, mask geometry, phash loop: tens of µs/doc) LOSE ~0.1-0.3 s
    * to the added exchange + planning at the gate tier, so they stay
    * narrow (measured, not assumed: BenchAB ensemble_narrow_vs_spread
    * vs the reverted sweep in OPTIMIZATION_r07.md). */
  private def spreadIfNarrow(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val planned = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (planned < BigInt(maxSplit) * p) df.repartition(p * 2) else df
  }

  private def docsSpread(spark: SparkSession, dir: String): DataFrame =
    spreadIfNarrow(t(spark, dir, "documents"))

  /** Flagship: full extraction over the synthetic interleaved corpus. */
  def entry(spark: SparkSession): DataFrame =
    Extract.spans(SyntheticCorpus.docsForSfDir(spark, "sf0.001")).toDF()

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- extraction engine (golden-tested; rows-only here) ----------------
    "x_extract_spans" -> ((s, dir) => Extract.spans(SyntheticCorpus.docsForSfDir(s, dir)).toDF()),
    "x_extract_docs" -> ((s, dir) => {
      val d = Extract.run(SyntheticCorpus.docsForSfDir(s, dir)).toDF()
      d.select(col("doc_id"), col("n_pages"), col("span_count"), col("char_count"))
    }),
    "x_extract_relational" -> ((s, dir) =>
      graft.pipeline.ExtractRelational.spans(SyntheticCorpus.docsForSfDir(s, dir)).toDF()),
    "x_rover_vote" -> ((s, dir) => roverQuery(s, dir)),
    "x_reading_order" -> ((s, dir) => readingOrderQuery(s, dir)),
    "x_phash_dedup" -> ((s, dir) => phashQuery(s, dir)),
    "x_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents").withColumn("doc_id", col("doc_id").cast("string")), maxDist = 16)),
    // the PRODUCTION MinHash hash family (xxhash64: codegen 64-bit,
    // 8-byte sigs = ~1/4 the shuffle bytes of the md5 oracle family),
    // continuously gated rows+digest — the md5 family stays the DuckDB
    // oracle (q_minhash_sig / q_lsh_pairs); this pins the family every
    // bench/verify run actually ships at scale
    "x_minhash_xx64" -> ((s, dir) =>
      Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(
          t(s, dir, "documents").withColumn("doc_id", col("doc_id").cast("string")),
          bands = 8, shingleK = 8, hashFamily = "xxhash64"),
        maxBucket = 50)
        .orderBy(col("doc_a"), col("doc_b"))),
    // the streaming-ingest dedup path run in batch mode (same code path
    // Structured Streaming executes per micro-batch; stream==batch is
    // pinned in StreamingSpec): newest docs vs the historical-corpus
    // index — through the PRODUCTION artifact lifecycle (buildIndex once
    // per corpus per JVM = versioned manifest commit, loadIndex reads the
    // layout from the O(1) manifest, candidates never scans the index for it)
    "x_stream_neardup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val incoming = docs.where(col("doc_id") >= 400)
        .withColumn("doc_id", col("doc_id").cast("string"))
      streamIndex(s, dir).candidates(incoming, maxDist = 16)
        .distinct().orderBy(col("doc_id"), col("corpus_id"))
    }),
    "x_media_meta" -> ((s, dir) => {
      import s.implicits._
      graft.multimodal.Media.extractMeta(
        graft.multimodal.Media.syntheticMedia(s, SyntheticCorpus.docsForSfDir(s, dir))).toDF()
    }),
    "x_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 10), dimCount = 64, k = 5, nPlanes = 6)
    }),
    // the PRODUCTION IVF lifecycle, continuously gated: quantizer fit
    // once per corpus per JVM, saved + reloaded, corpus cell-assigned and
    // persisted partitioned-by-cell; every invocation (and every bench
    // round after the first) pays only ivfQuery against the reloaded
    // artifact — DPP prunes the scan to probed cells (plan-asserted in
    // AnnSpec). Results are identical to the fused fit+assign+query
    // (AnnSpec pins the equivalence).
    "x_ann_ivf" -> ((s, dir) => {
      val (model, assigned) = ivfArtifact(s, dir)
      Similarity.ivfQuery(assigned, model,
        t(s, dir, "embeddings").where(col("vec_id") < 10), k = 5)
    }),
    "x_embed_neardup" -> ((s, dir) =>
      // the synthetic embeddings' max pairwise cosine is ~0.51, so the
      // "near-dup" threshold here is tuned to exercise the operator
      Similarity.embeddingNearDups(t(s, dir, "embeddings"), dimCount = 64,
        threshold = 0.3, nPlanes = 4)),
    "x_grouped_spans" -> ((s, dir) => {
      // hierarchy grouping (group_pages_by_toc) run DISTRIBUTED: per-page
      // (section_key, chapter, level) assignment rows over the corpus
      import s.implicits._
      SyntheticCorpus.docsForSfDir(s, dir).mapPartitions(_.flatMap { d =>
        val lines = d.spans.sortBy(_.offset).map(_.text).toIndexedSeq
        val parsed = graft.parse.PageParser.parseDocument(lines)
        graft.group.Grouping.groupPages(parsed.pages, parsed.tocEntries).map(g =>
          (d.doc_id, g.pageIdx, g.sectionKey, g.chapterNum, g.level))
      }).toDF("doc_id", "page_idx", "section_key", "chapter_num", "level")
    }),
    "x_book_xml" -> ((s, dir) => {
      // formatter sink distributed: one book.xml per doc (byte-parity with
      // the reference is golden-gated in XmlSinkSpec; here rows + digests)
      graft.sink.XmlBuilder.xml(SyntheticCorpus.docsForSfDir(s, dir))
        .toDF("doc_id", "xml")
        .select(col("doc_id"), length(col("xml")).as("n_chars"),
          sha2(col("xml"), 256).as("xml_sha"))
    }),
    "x_book_md" -> ((s, dir) => {
      // consolidate sink (book.txt + book.md) distributed: byte parity
      // with the reference is golden-gated in ConsolidateSpec; here rows
      // + content digests so drift fails the gate
      import s.implicits._
      graft.sink.Consolidate.books(SyntheticCorpus.docsForSfDir(s, dir))
        .toDF("doc_id", "book_txt", "book_md", "err_kind")
        .select(col("doc_id"),
          length(col("book_txt")).as("n_txt"), length(col("book_md")).as("n_md"),
          sha2(col("book_txt"), 256).as("txt_sha"), sha2(col("book_md"), 256).as("md_sha"),
          col("err_kind"))
    }),
    "x_ensemble_vote" -> ((s, dir) => {
      // legacy whole-page similarity vote + fallback chain, distributed:
      // per doc, three synthetic engine texts (one degraded) -> winner
      import s.implicits._
      docsSpread(s, dir)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val base = text.take(240)
          val degraded = base.replaceAll("[aeiouあい]", "")
          // degrade a different engine per doc so winners vary
          val engines = Vector("yomitoku", "paddleocr", "easyocr")
          val bad = (id % 3).toInt
          val results = engines.zipWithIndex.map { case (e, i) =>
            e -> (if (i == bad) degraded else base)
          }
          val (winText, winEngine, votes) = graft.vote.Ensemble.voteBestResult(results)
          val (fbText, fbEngine) = graft.vote.Ensemble.ocrWithFallback(results)
          (id, winEngine, votes.getOrElse(winEngine, 0), winText.length,
            fbEngine, fbText == winText)
        }).toDF("doc_id", "vote_engine", "votes", "len", "fallback_engine", "agree")
    }),
    "x_toc_match" -> ((s, dir) => {
      // TOC<->body matcher (2-pass exact+fuzzy, sequential cursor) run
      // DISTRIBUTED per doc; reference parity is MatcherSpec's golden gate
      import s.implicits._
      SyntheticCorpus.docsForSfDir(s, dir).mapPartitions(_.flatMap { d =>
        val lines = d.spans.sortBy(_.offset).map(_.text).toIndexedSeq
        val parsed = graft.parse.PageParser.parseDocument(lines)
        val headings = parsed.pages.flatMap(_.elements)
          .collect { case h: graft.model.Heading => h }
          .zipWithIndex.map { case (h, i) =>
            graft.matching.TocMatcher.BodyHeading(h.text, h.level, i + 1)
          }
        graft.matching.TocMatcher.matchTocToBody(parsed.tocEntries, headings).map { m =>
          (d.doc_id, m.tocEntry.number, m.tocEntry.text, m.matchType.toString,
            math.rint(m.similarity * 10000) / 10000, m.lineNumber)
        }
      }).toDF("doc_id", "toc_number", "toc_text", "match_type", "similarity", "line")
    }),
    "x_norm_rules" -> ((s, dir) => {
      // heading normalization rules derived from the distributed matches.
      // The generator's matched headings are already well-formed, so this
      // query DETERMINISTICALLY demotes every other heading to level 0
      // (plain text) — recreating the unmarked-heading case the rules
      // exist to fix (ADD_MARKER); reference parity is NormRulesSpec.
      import s.implicits._
      SyntheticCorpus.docsForSfDir(s, dir).mapPartitions(_.flatMap { d =>
        val lines = d.spans.sortBy(_.offset).map(_.text).toIndexedSeq
        val parsed = graft.parse.PageParser.parseDocument(lines)
        val headings = parsed.pages.flatMap(_.elements)
          .collect { case h: graft.model.Heading => h }
          .zipWithIndex.map { case (h, i) =>
            graft.matching.TocMatcher.BodyHeading(
              h.text, if (i % 2 == 0) 0 else h.level, i + 1)
          }
        val matches = graft.matching.TocMatcher.matchTocToBody(parsed.tocEntries, headings)
        graft.matching.NormalizationRules.generateRules(matches).map(r =>
          (d.doc_id, r.original, r.normalized, r.lineNumber, r.action.toString))
      }).toDF("doc_id", "original", "normalized", "line", "action")
    }),
    "x_grouped_xml" -> ((s, dir) => {
      // the --group-pages output path distributed; docs the reference
      // itself rejects (empty page number, >50% page loss) are quarantined
      // as error rows, like a production pipeline would
      import s.implicits._
      // sha256 content digest makes silent grouped-XML drift between
      // rounds fail the rows+hash gate (raising docs hash "" so the
      // err_kind rows stay stable)
      SyntheticCorpus.docsForSfDir(s, dir).mapPartitions(_.map { d =>
        scala.util.Try(graft.sink.GroupedXml.buildGroupedXml(d)) match {
          case scala.util.Success(x) => (d.doc_id, true, x.length, "", x)
          case scala.util.Failure(e) => (d.doc_id, false, 0, e.getClass.getSimpleName, "")
        }
      }).toDF("doc_id", "ok", "n_chars", "err_kind", "xml")
        .select(col("doc_id"), col("ok"), col("n_chars"), col("err_kind"),
          sha2(col("xml"), 256).as("xml_sha"))
    }),

    "x_figure_mask" -> ((s, dir) => figureMaskQuery(s, dir)),

    // ---- relational operator families (oracle-gated) ----------------------
    "q_reading_order" -> ((s, dir) => readingOrderOracleQuery(s, dir)),
    "q_split_spread" -> ((s, dir) => splitSpreadOracleQuery(s, dir)),
    "q_figure_mask" -> ((s, dir) => figureMaskOracleQuery(s, dir)),
    "q_frame_plan" -> ((s, dir) => framePlanOracleQuery(s, dir)),
    "q_phash_dedup" -> ((s, dir) => phashOracleQuery(s, dir)),
    "q_media_meta" -> ((s, dir) => mediaOracleQuery(s, dir)),
    // corpus-statistics-informed quality scoring: the corpus' own trigram
    // frequency model feeds back as a per-doc rare-trigram ratio; the
    // threshold is scale-free (corpus_docs / 5, computed IN-PLAN — no
    // driver-side action at plan build) so the oracle stays meaningful at
    // every sf tier
    "q_rare_ngram" -> ((s, dir) =>
      graft.ops.TextAnalytics.rareTrigramScoresScaleFree(t(s, dir, "documents"))
        .orderBy(col("doc_id"))),
    "q_agg_lineitem" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"),
          round(avg(col("l_extendedprice")), 2).as("avg_price"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),
    "q_join_broadcast" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("sum_acctbal"))
        .orderBy(col("r_name"))),
    "q_join_shuffle" -> ((s, dir) =>
      // fact x fact x dims WITHOUT broadcast hints: AQE picks the physical
      // join (broadcast at this SF, sort-merge at corpus scale) — the
      // declarative form you'd ship at 100 TB, vs q_join_broadcast's
      // explicit small-dim hints.
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("o_orderpriority"), col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          countDistinct(col("s_name")).as("n_suppliers"),
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("o_orderpriority"), col("p_brand"))),
    "q_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("event_type"), col("rnk"), col("event_id"), col("value"))
        .orderBy(col("event_type"), col("rnk"))
    }),
    "q_forward_fill" -> ((s, dir) => {
      // section forward-fill analog (assignment.py:138-174): last non-null
      // 'purchase' value carried forward per user in time order.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("purchase_val",
          when(col("event_type") === "purchase", col("value")))
        .withColumn("filled", last(col("purchase_val"), ignoreNulls = true).over(w))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(coalesce(col("filled"), lit(0.0))), 2).as("sum_filled"))
        .orderBy(col("user_id"))
    }),
    "q_sessionize" -> ((s, dir) => {
      // stateful sequential analog (SURVEY §2.9): gap > 1800s starts a new
      // session; count sessions per user.
      val wl = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(wl))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("timestamp").cast("double") -
              col("prev_ts").cast("timestamp").cast("double") > 1800, 1).otherwise(0))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),
    "q_sort_limit" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("o_orderkey"), col("o_totalprice"))),

    // ---- text analytics over documents (oracle-gated) ---------------------
    "q_token_stats" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalytics.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).as("n_len"))
        .orderBy(col("doc_id"))),
    "q_quality" -> ((s, dir) =>
      TextAnalytics.withQuality(t(s, dir, "documents"))
        .select("doc_id", "n_tokens", "alpha_ratio", "space_ratio", "stopword_ratio")
        .orderBy(col("doc_id"))),
    "q_langid" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), TextAnalytics.langIdExpr(col("text")).as("pred_lang"))
        .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("pred_lang"))),
    "q_word_freq" -> ((s, dir) =>
      // boilerplate-frequency aggregation analog (analyzer.py:41-99):
      // groupBy normalized token -> count, kept if above threshold.
      t(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
        .select(translate(col("token"), DashFrom, DashTo).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("n"))
        .where(col("n") >= 10)
        .orderBy(col("n").desc, col("token"))),
    "q_running_head" -> ((s, dir) => {
      // detect_running_head analog per source group: most frequent token,
      // flagged iff count >= max(n_docs * 0.5, 2).
      val docs = t(s, dir, "documents")
      val tok = docs.select(col("source"), explode(split(trim(col("text")), "\\s+")).as("token"))
        .groupBy(col("source"), col("token")).agg(count(lit(1)).as("n"))
      val perSource = docs.groupBy(col("source")).agg(countDistinct(col("doc_id")).as("n_docs"))
      val w = Window.partitionBy(col("source")).orderBy(col("n").desc, col("token").asc)
      tok.withColumn("rnk", row_number().over(w))
        .where(col("rnk") === 1)
        .join(perSource, "source")
        .withColumn("is_running_head",
          col("n") >= greatest(col("n_docs") * 0.5, lit(2.0)))
        .select(col("source"), col("token"), col("n"), col("n_docs"), col("is_running_head"))
        .orderBy(col("source"))
    }),
    "q_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("fp_md5"))
        .orderBy(col("doc_id"))),

    // ---- dedup family (oracle-gated) ---------------------------------------
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactDupGroups(
        t(s, dir, "documents").withColumn("doc_id", col("doc_id").cast("string")))
        .orderBy(col("fp_md5"))),
    "q_minhash_sig" -> ((s, dir) =>
      Dedup.minhashSignatures(
        t(s, dir, "documents").where(col("doc_id") < 20), bands = 4, shingleK = 5)
        .orderBy(col("doc_id"), col("band"))),
    "q_lsh_pairs" -> ((s, dir) =>
      Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(t(s, dir, "documents"), bands = 8, shingleK = 8),
        maxBucket = 50)
        .orderBy(col("doc_a"), col("doc_b"))),
    "q_ngram_jaccard" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val small = docs.where(col("doc_id") < 6)
      val pairs = small.select(col("doc_id").as("doc_a"))
        .crossJoin(small.select(col("doc_id").as("doc_b")))
        .where(col("doc_a") < col("doc_b"))
      Dedup.ngramJaccard(docs, pairs, n = 3).orderBy(col("doc_a"), col("doc_b"))
    }),
    "q_lsh_jaccard" -> ((s, dir) => {
      // the PRODUCTION dedup composition: LSH candidate proposal feeding
      // the exact n-gram Jaccard verifier (pair-driven joins end-to-end)
      val docs = t(s, dir, "documents")
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minhashSignatures(docs, bands = 8, shingleK = 8), maxBucket = 50)
      Dedup.ngramJaccard(docs, pairs, n = 3).orderBy(col("doc_a"), col("doc_b"))
    }),
    "q_dup_spans" -> ((s, dir) =>
      // exact substring-span dedup (Lee et al. class): maximal spans whose
      // every 8-char window also occurs in another document.
      // hashFamily=xxhash64 (r7): unlike the MinHash family — where the
      // hash ORDER picks which shingle wins the min, so the oracle must
      // stay md5 bit-for-bit — span dedup uses the hash only as an
      // EQUALITY key ("window shared by >1 doc"), so any collision-free
      // family yields identical spans. The codegen 64-bit family halves
      // nothing downstream of correctness (expected colliding window
      // pairs < 1 up to ~5e9 distinct windows, Dedup.duplicateSpans
      // scaladoc) but cuts the hash-partition shuffle key from a 36-byte
      // hex string to an 8-byte long and the per-character hash from MD5
      // to XXH64. Oracle equality (DuckDB computes with md5) re-verified
      // at sf0.001/sf0.01/sf0.1 after the switch — see OPTIMIZATION_r07.md.
      Dedup.duplicateSpans(t(s, dir, "documents"), k = 8, hashFamily = "xxhash64")
        .orderBy(col("doc_id"), col("span_start"))),
    "q_dup_coverage" -> ((s, dir) => {
      // span-dedup consumer: per-doc duplicated-character ratio (the
      // "drop mostly-verbatim docs" filter signal). k=32: long windows
      // isolate true verbatim copying (Lee et al.'s ~50-token windows);
      // at k=8 every window of this template corpus is shared somewhere
      // and the ratio saturates at 1.0 (q_dup_spans keeps k=8 to gate
      // the dense-window island-merge regime)
      val docs = t(s, dir, "documents")
      // xxhash64 family: equality-only hash use, same argument and the
      // same three-tier oracle re-verification as q_dup_spans
      Dedup.duplicateCoverage(docs, Dedup.duplicateSpans(docs, k = 32, hashFamily = "xxhash64"))
        .orderBy(col("doc_id"))
    }),
    "q_dup_cut" -> ((s, dir) => {
      // span-dedup consumer #2: cut the duplicated intervals out of the
      // text (Lee et al.'s actual treatment); k=32 as q_dup_coverage
      val docs = t(s, dir, "documents")
      // xxhash64 family: same argument as q_dup_spans / q_dup_coverage
      Dedup.cutDuplicateSpans(docs, Dedup.duplicateSpans(docs, k = 32, hashFamily = "xxhash64"))
        .orderBy(col("doc_id"))
    }),

    // ---- similarity search (oracle-gated brute force) ----------------------
    "q_ann_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 10), k = 5)
        .orderBy(col("query_id"), col("rank"))
    })
  )

  // translate() args for dash normalization in q_word_freq
  private val DashFrom = "—–―‐−ー－"
  private val DashTo = "-------"

  def oracleSql: Map[String, String] = Map(
    "q_reading_order" ->
      // relational re-expression of sort_reading_order: L/R column cut at
      // page mid-x (x1+x2 < 960 <=> center < 480), stable (y1, prio, x1)
      // sort per column, left column first; generation index i is the
      // stable-sort tiebreaker
      """SELECT doc_id, string_agg(kind, ',' ORDER BY side, y1, prio, x1, i) AS rd_order
         FROM (
           SELECT doc_id, i, kind, x1, y1,
                  CASE kind WHEN 'TITLE' THEN 0 WHEN 'TEXT' THEN 1
                            WHEN 'CAPTION' THEN 2 WHEN 'FOOTNOTE' THEN 3
                            WHEN 'FIGURE' THEN 4 WHEN 'TABLE' THEN 5
                            ELSE 99 END AS prio,
                  CASE WHEN x1 + x2 < 960 THEN 0 ELSE 1 END AS side
           FROM (
             SELECT d.doc_id, i.i,
                    CASE ((d.doc_id * 37 + i.i * 101) % 6)
                      WHEN 0 THEN 'TITLE' WHEN 1 THEN 'TEXT' WHEN 2 THEN 'CAPTION'
                      WHEN 3 THEN 'FIGURE' WHEN 4 THEN 'TABLE'
                      ELSE 'FOOTNOTE' END AS kind,
                    ((d.doc_id * 37 + i.i * 101) * 7) % 900 AS x1,
                    ((d.doc_id * 37 + i.i * 101) * 13) % 1200 AS y1,
                    ((d.doc_id * 37 + i.i * 101) * 7) % 900 + 40
                      + ((d.doc_id * 37 + i.i * 101) * 3) % 120 AS x2
             FROM documents d, (SELECT unnest(range(0, 8)) AS i) i
           )
         ) GROUP BY doc_id""",
    "q_split_spread" ->
      // relational replay of the two-stage trim + center split + naming
      // + renumber (split_spread.py:79-109, :174-216, :219-355, :358-391)
      """WITH pages AS (
           SELECT doc_id, p, printf('page_%04d.png', p) AS page_name,
                  CAST(1000 + (doc_id*31 + p*17) % 800 AS INT) AS w,
                  CAST(800 + (doc_id*13 + p*29) % 600 AS INT) AS h
           FROM (SELECT doc_id, unnest(range(1, 4)) AS p FROM documents)),
         g AS (
           SELECT *, CAST(floor(w * 0.04) AS BIGINT) AS gl,
                  CAST(floor(h * 0.03) AS BIGINT) AS gt,
                  w - CAST(floor(w * 0.01) AS BIGINT) AS gr,
                  h - CAST(floor(h * 0.02) AS BIGINT) AS gb
           FROM pages),
         sp AS (
           SELECT *, CAST(floor((gr - gl) / 2) AS BIGINT) AS midx,
                  CAST(floor(CAST(floor((gr - gl) / 2) AS BIGINT) * 0.02) AS BIGINT) AS lo,
                  CAST(floor(CAST(floor((gr - gl) / 2) AS BIGINT) * 0.015) AS BIGINT) AS li,
                  CAST(floor(CAST(floor((gr - gl) / 2) AS BIGINT) * 0.025) AS BIGINT) AS ri,
                  CAST(floor(CAST(floor((gr - gl) / 2) AS BIGINT) * 0.01) AS BIGINT) AS ro
           FROM g WHERE doc_id % 5 <> 0),
         outp AS (
           SELECT doc_id, page_name, printf('page_%04d_L.png', p) AS out_name,
                  'L' AS side, gl + lo AS crop_l, gt AS crop_t,
                  gl + midx + 8 - li AS crop_r, gb AS crop_b
           FROM sp
           UNION ALL
           SELECT doc_id, page_name, printf('page_%04d_R.png', p) AS out_name,
                  'R' AS side, gl + midx - 8 + ri AS crop_l, gt AS crop_t,
                  gr - ro AS crop_r, gb AS crop_b
           FROM sp
           UNION ALL
           SELECT doc_id, page_name, page_name AS out_name,
                  'single' AS side, gl AS crop_l, gt AS crop_t,
                  gr AS crop_r, gb AS crop_b
           FROM g WHERE doc_id % 5 = 0)
         SELECT doc_id, page_name, out_name, side,
                CAST(crop_l AS INT) AS crop_l, CAST(crop_t AS INT) AS crop_t,
                CAST(crop_r AS INT) AS crop_r, CAST(crop_b AS INT) AS crop_b,
                CAST(crop_r - crop_l AS INT) AS out_w,
                CAST(crop_b - crop_t AS INT) AS out_h,
                printf('page_%04d.png',
                  row_number() OVER (PARTITION BY doc_id ORDER BY out_name)) AS final_name
         FROM outp ORDER BY doc_id, out_name""",
    "q_figure_mask" ->
      // relational replay of mask_figures/mask_figure_regions selection,
      // clamp survival, and the overlap-counted drawn (corner-INCLUSIVE)
      // / pasted (half-open) pixel sums on a 960x1280 page
      """WITH rr AS (
           SELECT doc_id,
                  CASE (v % 6) WHEN 0 THEN 'TITLE' WHEN 1 THEN 'TEXT'
                       WHEN 2 THEN 'CAPTION' WHEN 3 THEN 'FIGURE'
                       WHEN 4 THEN 'TABLE' ELSE 'FOOTNOTE' END AS kind,
                  (v * 7) % 1000 - 40 AS x1, (v * 13) % 1300 - 40 AS y1,
                  (v * 7) % 1000 - 40 + 20 + (v * 3) % 260 AS x2,
                  (v * 13) % 1300 - 40 + 15 + (v * 11) % 200 AS y2
           FROM (SELECT doc_id, doc_id * 53 + i.i * 97 AS v
                 FROM documents, (SELECT unnest(range(0, 10)) AS i) i))
         SELECT doc_id,
                CAST(sum(CASE WHEN kind = 'FIGURE' THEN 1 ELSE 0 END) AS INT) AS n_figures,
                CAST(sum(CASE WHEN kind = 'FIGURE' AND greatest(x1, 0) < least(x2, 960)
                              AND greatest(y1, 0) < least(y2, 1280)
                         THEN 1 ELSE 0 END) AS INT) AS n_masked,
                CAST(sum(CASE WHEN kind = 'FIGURE' THEN
                    greatest(least(x2 + 1, 960) - greatest(x1, 0), 0)
                    * greatest(least(y2 + 1, 1280) - greatest(y1, 0), 0)
                    ELSE 0 END) AS BIGINT) AS masked_px_sum,
                CAST(sum(CASE WHEN kind IN ('TEXT','TITLE','CAPTION','FOOTNOTE') THEN
                    greatest(least(x2, 960) - greatest(x1, 0), 0)
                    * greatest(least(y2, 1280) - greatest(y1, 0), 0)
                    ELSE 0 END) AS BIGINT) AS visible_px_sum
         FROM rr GROUP BY doc_id ORDER BY doc_id""",
    "q_frame_plan" ->
      // relational replay of the ffmpeg fps=1/2.0 sampling plan over
      // 30fps sources: frame_%04d.png naming, t=ord0*interval
      // timestamps, round-to-nearest source index clamped to the tail
      """WITH m AS (
           SELECT doc_id, k, 'fig_' || doc_id || '_' || k AS media_ref,
                  CAST(1 + (doc_id * 5 + k) % 240 AS INT) AS n_frames
           FROM (SELECT doc_id, unnest(range(0, CAST(doc_id % 4 AS BIGINT))) AS k
                 FROM documents WHERE doc_id < 300 AND doc_id % 4 > 0)
           WHERE (doc_id + k) % 3 = 0),
         f AS (
           SELECT doc_id, media_ref, n_frames,
                  unnest(range(1, greatest(CAST(ceil(n_frames / 30.0 / 2.0) AS BIGINT), 1) + 1))
                    AS frame_ord
           FROM m)
         SELECT doc_id, media_ref, frame_ord,
                printf('frame_%04d.png', frame_ord) AS frame_name,
                (frame_ord - 1) * 2.0 AS ts_sec,
                CAST(least(n_frames - 1,
                  CAST(floor((frame_ord - 1) * 2.0 * 30.0 + 0.5) AS BIGINT)) AS INT)
                  AS src_frame_idx
         FROM f ORDER BY doc_id, media_ref, frame_ord""",
    "q_phash_dedup" ->
      // the sequential keep-vs-last-kept pass replayed as a recursive CTE:
      // each step keeps the next frame at hamming >= 8 from the LAST KEPT
      """WITH RECURSIVE frames AS (
           SELECT d.doc_id, i.idx,
                  CAST(sum(CASE WHEN
                    (((d.doc_id * (b.b + 3) + (i.idx // 5) * (b.b + 11)) % 7) < 3)
                    != (((d.doc_id + i.idx * 17 + b.b * 29) % 40) = 0)
                  THEN (1::BIGINT << b.b) ELSE 0 END) AS BIGINT) AS h
           FROM documents d,
                (SELECT unnest(range(1, 61)) AS idx) i,
                (SELECT unnest(range(0, 60)) AS b) b
           GROUP BY d.doc_id, i.idx
         ), keep AS (
           SELECT doc_id, idx, h FROM frames WHERE idx = 1
           UNION ALL
           SELECT f.doc_id, f.idx, f.h
           FROM keep k JOIN frames f
             ON f.doc_id = k.doc_id
            AND f.idx = (SELECT min(f2.idx) FROM frames f2
                         WHERE f2.doc_id = k.doc_id AND f2.idx > k.idx
                           AND bit_count(xor(f2.h, k.h)) >= 8)
         )
         SELECT doc_id, 60 AS n_frames, CAST(count(*) AS INT) AS n_unique
         FROM keep GROUP BY doc_id""",
    "q_media_meta" ->
      // independent relational prediction of the Spark-side
      // encode -> binary column -> mapPartitions decode round trip
      """SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                'fig_' || doc_id || '_' || k AS media_ref,
                CASE WHEN (doc_id + k) % 3 = 0 THEN 'video' ELSE 'image' END AS media_kind,
                48 AS byte_len,
                CAST(64 + (doc_id*7 + k*13) % 1024 AS INT) AS width,
                CAST(64 + (doc_id*11 + k*17) % 1024 AS INT) AS height,
                CASE WHEN (doc_id + k) % 3 = 0 THEN CAST(1 + (doc_id*5 + k) % 240 AS INT)
                     ELSE 1 END AS n_frames,
                TRUE AS ok
         FROM (SELECT doc_id, unnest(range(0, CAST(doc_id % 4 AS BIGINT))) AS k
               FROM documents WHERE doc_id < 300 AND doc_id % 4 > 0)""",
    "q_rare_ngram" ->
      """WITH tris AS (
           SELECT doc_id, unnest(CASE WHEN length(text) < 3 THEN [text]
                  ELSE [substr(text, i, 3) FOR i IN range(1, length(text) - 1)] END) AS tri
           FROM documents),
         model AS (SELECT tri, count(*) AS cnt FROM tris GROUP BY tri)
         SELECT doc_id, count(*) AS n_tri,
                CAST(sum(CASE WHEN cnt <= (SELECT count(*) FROM documents) / 5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
                round(CAST(sum(CASE WHEN cnt <= (SELECT count(*) FROM documents) / 5
                              THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS rare_ratio
         FROM tris JOIN model USING (tri) GROUP BY doc_id""",
    "q_agg_lineitem" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
         count(*) AS n_rows,
         round(avg(l_extendedprice), 2) AS avg_price
         FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_join_broadcast" ->
      """SELECT r_name, count(*) AS n_customers, round(sum(c_acctbal), 2) AS sum_acctbal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1 ORDER BY 1""",
    "q_join_shuffle" ->
      """SELECT o_orderpriority, p_brand, count(*) AS n_items,
                count(DISTINCT s_name) AS n_suppliers,
                CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                round(sum(l_extendedprice), 2) AS sum_price
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_topk_per_group" ->
      """SELECT event_type, rnk, event_id, value FROM (
           SELECT event_type, event_id, value,
                  row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rnk
           FROM events) WHERE rnk <= 3 ORDER BY event_type, rnk""",
    "q_forward_fill" ->
      """SELECT user_id, count(*) AS n_events,
                round(sum(coalesce(filled, 0.0)), 2) AS sum_filled
         FROM (
           SELECT user_id,
                  last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
           FROM events)
         GROUP BY user_id ORDER BY user_id""",
    "q_sessionize" ->
      """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
         FROM (
           SELECT user_id,
                  CASE WHEN prev_ts IS NULL
                       OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_session
           FROM (SELECT user_id, ts,
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                 FROM events))
         GROUP BY user_id ORDER BY user_id""",
    "q_sort_limit" ->
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""",
    "q_token_stats" ->
      """SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
                length(text) AS n_len
         FROM documents ORDER BY doc_id""",
    "q_quality" ->
      """SELECT doc_id,
                CASE WHEN length(trim(text)) = 0 THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
                round(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
                      / greatest(length(text), 1), 4) AS alpha_ratio,
                round(length(regexp_replace(text, '[^ ]', '', 'g')) * 1.0
                      / greatest(length(text), 1), 4) AS space_ratio,
                round(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                          w -> list_contains(['the','a','an','of','to','and','in','is','it','for'], lower(w)))) * 1.0
                      / greatest(len(regexp_split_to_array(trim(text), '\s+')), 1), 4) AS stopword_ratio
         FROM documents ORDER BY doc_id""",
    "q_langid" ->
      """SELECT lang,
                CASE WHEN length(regexp_replace(text, '[^぀-ヿ]', '', 'g')) * 1.0 / greatest(length(text),1) > 0.1 THEN 'ja'
                     WHEN length(regexp_replace(text, '[^가-힯]', '', 'g')) * 1.0 / greatest(length(text),1) > 0.1 THEN 'ko'
                     WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) * 1.0 / greatest(length(text),1) > 0.3 THEN 'zh'
                     WHEN length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g')) * 1.0 / greatest(length(text),1) > 0.3 THEN 'ru'
                     WHEN length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / greatest(length(text),1) > 0.3 THEN 'en'
                     ELSE 'unknown' END AS pred_lang,
                count(*) AS n
         FROM documents GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_word_freq" ->
      """SELECT translate(token, '—–―‐−ー－', '-------') AS token, count(*) AS n
         FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token FROM documents)
         GROUP BY 1 HAVING count(*) >= 10 ORDER BY n DESC, token""",
    "q_running_head" ->
      """WITH tok AS (
           SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           FROM documents),
         cnt AS (
           SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2),
         top1 AS (
           SELECT source, token, n,
                  row_number() OVER (PARTITION BY source ORDER BY n DESC, token ASC) AS rnk
           FROM cnt),
         nd AS (SELECT source, count(DISTINCT doc_id) AS n_docs FROM documents GROUP BY 1)
         SELECT t.source, t.token, t.n, nd.n_docs,
                t.n >= greatest(nd.n_docs * 0.5, 2.0) AS is_running_head
         FROM top1 t JOIN nd ON t.source = nd.source
         WHERE t.rnk = 1 ORDER BY t.source""",
    "q_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp_md5 FROM documents ORDER BY doc_id",
    "q_dedup_exact" ->
      """SELECT md5(text) AS fp_md5, count(*) AS n_copies,
                min(CAST(doc_id AS VARCHAR)) AS representative
         FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""",
    "q_minhash_sig" ->
      """WITH sh AS (
           SELECT DISTINCT doc_id,
                  unnest(CASE WHEN length(text) < 5 THEN [text]
                         ELSE [substr(text, i, 5) FOR i IN range(1, length(text) - 3)] END) AS sh
           FROM documents WHERE doc_id < 20),
         banded AS (
           SELECT doc_id, unnest([0, 1, 2, 3]) AS band, sh FROM sh)
         SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || ':' || sh)) AS sig
         FROM banded GROUP BY 1, 2 ORDER BY doc_id, band""",
    "q_lsh_pairs" ->
      """WITH sh AS (
           SELECT DISTINCT doc_id,
                  unnest(CASE WHEN length(text) < 8 THEN [text]
                         ELSE [substr(text, i, 8) FOR i IN range(1, length(text) - 6)] END) AS sh
           FROM documents),
         banded AS (
           SELECT doc_id, unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS band, sh FROM sh),
         sig AS (
           SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || ':' || sh)) AS sig
           FROM banded GROUP BY 1, 2),
         pruned AS (
           SELECT doc_id, band, sig,
                  count(*) OVER (PARTITION BY band, sig) AS bn
           FROM sig QUALIFY bn <= 50)
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM pruned a JOIN pruned b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         ORDER BY doc_a, doc_b""",
    "q_ngram_jaccard" ->
      """WITH toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
           FROM documents WHERE doc_id < 6),
         ng AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)] END) AS ngrams
           FROM toks)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                round(len(list_intersect(a.ngrams, b.ngrams)) * 1.0
                      / greatest(len(list_distinct(list_concat(a.ngrams, b.ngrams))), 1), 4) AS jaccard
         FROM ng a JOIN ng b ON a.doc_id < b.doc_id
         ORDER BY doc_a, doc_b""",
    "q_lsh_jaccard" ->
      """WITH sh AS (
           SELECT DISTINCT doc_id,
                  unnest(CASE WHEN length(text) < 8 THEN [text]
                         ELSE [substr(text, i, 8) FOR i IN range(1, length(text) - 6)] END) AS sh
           FROM documents),
         banded AS (
           SELECT doc_id, unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS band, sh FROM sh),
         sig AS (
           SELECT doc_id, band, min(md5(CAST(band AS VARCHAR) || ':' || sh)) AS sig
           FROM banded GROUP BY 1, 2),
         pruned AS (
           SELECT doc_id, band, sig,
                  count(*) OVER (PARTITION BY band, sig) AS bn
           FROM sig QUALIFY bn <= 50),
         pairs AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM pruned a JOIN pruned b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         toks AS (
           SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents),
         ng AS (
           SELECT doc_id,
                  list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                       ELSE [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)] END) AS ngrams
           FROM toks)
         SELECT p.doc_a, p.doc_b,
                round(len(list_intersect(a.ngrams, b.ngrams)) * 1.0
                      / greatest(len(list_distinct(list_concat(a.ngrams, b.ngrams))), 1), 4) AS jaccard
         FROM pairs p JOIN ng a ON p.doc_a = a.doc_id JOIN ng b ON p.doc_b = b.doc_id
         ORDER BY doc_a, doc_b""",
    "q_dup_spans" ->
      """WITH p AS (
           SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS pos
           FROM documents),
         sh AS (
           SELECT doc_id, pos, md5(substr(text, CAST(pos AS INTEGER), 8)) AS h FROM p),
         marked AS (
           SELECT doc_id, pos,
                  min(doc_id) OVER (PARTITION BY h) AS d_min,
                  max(doc_id) OVER (PARTITION BY h) AS d_max
           FROM sh),
         isl AS (
           SELECT doc_id, pos,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
           FROM marked WHERE d_min <> d_max)
         SELECT doc_id, min(pos) AS span_start, max(pos) + 7 AS span_end,
                max(pos) - min(pos) + 8 AS span_len
         FROM isl GROUP BY doc_id, g ORDER BY doc_id, span_start""",
    "q_dup_coverage" ->
      """WITH p AS (
           SELECT doc_id, text, unnest(range(1, length(text) - 30)) AS pos
           FROM documents),
         sh AS (
           SELECT doc_id, pos, md5(substr(text, CAST(pos AS INTEGER), 32)) AS h FROM p),
         marked AS (
           SELECT doc_id, pos,
                  min(doc_id) OVER (PARTITION BY h) AS d_min,
                  max(doc_id) OVER (PARTITION BY h) AS d_max
           FROM sh),
         isl AS (
           SELECT doc_id, pos,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
           FROM marked WHERE d_min <> d_max),
         spans AS (
           SELECT doc_id, min(pos) AS span_start, max(pos) + 31 AS span_end
           FROM isl GROUP BY doc_id, g),
         o AS (
           SELECT doc_id, span_start, span_end,
                  max(span_end) OVER (PARTITION BY doc_id ORDER BY span_start, span_end
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM spans),
         fl AS (
           SELECT doc_id, span_start, span_end,
                  CASE WHEN pmax IS NULL OR span_start > pmax THEN 1 ELSE 0 END AS ni
           FROM o),
         ii AS (
           SELECT doc_id, span_start, span_end,
                  sum(ni) OVER (PARTITION BY doc_id ORDER BY span_start, span_end
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM fl),
         cov AS (
           SELECT doc_id, sum(chars) AS dup_chars FROM (
             SELECT doc_id, island, max(span_end) - min(span_start) + 1 AS chars
             FROM ii GROUP BY doc_id, island) GROUP BY doc_id)
         SELECT d.doc_id, length(coalesce(d.text, '')) AS doc_len,
                CAST(coalesce(c.dup_chars, 0) AS BIGINT) AS dup_chars,
                round(coalesce(c.dup_chars, 0) * 1.0
                      / greatest(length(coalesce(d.text, '')), 1), 4) AS dup_ratio
         FROM documents d LEFT JOIN cov c ON d.doc_id = c.doc_id ORDER BY d.doc_id""",
    "q_dup_cut" ->
      // naive per-character re-expression: a kept character is one whose
      // position lies in no merged duplicated interval; clean_text is the
      // ordered string_agg of kept characters (the Spark side cuts with
      // O(islands) in-row substring slices instead)
      """WITH p AS (
           SELECT doc_id, text, unnest(range(1, length(text) - 30)) AS pos
           FROM documents),
         sh AS (
           SELECT doc_id, pos, md5(substr(text, CAST(pos AS INTEGER), 32)) AS h FROM p),
         marked AS (
           SELECT doc_id, pos,
                  min(doc_id) OVER (PARTITION BY h) AS d_min,
                  max(doc_id) OVER (PARTITION BY h) AS d_max
           FROM sh),
         isl AS (
           SELECT doc_id, pos,
                  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
           FROM marked WHERE d_min <> d_max),
         spans AS (
           SELECT doc_id, min(pos) AS span_start, max(pos) + 31 AS span_end
           FROM isl GROUP BY doc_id, g),
         o AS (
           SELECT doc_id, span_start, span_end,
                  max(span_end) OVER (PARTITION BY doc_id ORDER BY span_start, span_end
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM spans),
         ii AS (
           SELECT doc_id, span_start, span_end,
                  sum(CASE WHEN pmax IS NULL OR span_start > pmax THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY span_start, span_end
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM o),
         merged AS (
           SELECT doc_id, island, min(span_start) AS s, max(span_end) AS e
           FROM ii GROUP BY doc_id, island),
         chars AS (
           SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS pos
           FROM documents),
         kept AS (
           SELECT c.doc_id,
                  string_agg(substr(c.text, CAST(c.pos AS INTEGER), 1), '' ORDER BY c.pos) AS ct
           FROM chars c
           WHERE NOT EXISTS (SELECT 1 FROM merged m
                             WHERE m.doc_id = c.doc_id AND c.pos BETWEEN m.s AND m.e)
           GROUP BY c.doc_id)
         SELECT d.doc_id, coalesce(k.ct, '') AS clean_text
         FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
         ORDER BY d.doc_id""",
    "q_ann_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
                    FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cvec FROM embeddings),
         scored AS (
           SELECT q.query_id, c.neighbor_id,
                  list_inner_product(q.qvec, c.cvec)
                    / (sqrt(list_inner_product(q.qvec, q.qvec))
                       * sqrt(list_inner_product(c.cvec, c.cvec))) AS sim
           FROM q, c WHERE q.query_id <> c.neighbor_id),
         ranked AS (
           SELECT query_id, neighbor_id, sim,
                  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
           FROM scored)
         SELECT query_id, rank, neighbor_id, round(sim, 4) AS sim
         FROM ranked WHERE rank <= 5 ORDER BY query_id, rank"""
  )

  // ---- synthetic inputs for the x_* operator queries ------------------------

  /** Per-JVM IVF artifact cache keyed by corpus dir: fit + save + load +
    * assign + persist(partitionBy cell) happen ONCE; later calls reuse
    * the durable artifact — the split lifecycle [[Similarity.IvfModel]]
    * exists for. The reload goes through the same loaders a fresh
    * session would use (IvfModel.load + spark.read.parquet). */
  private val ivfArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, (Similarity.IvfModel, String)]()

  /** Per-JVM near-dup corpus-index artifact keyed by corpus dir: built
    * and persisted once via the production buildIndex path (versioned
    * manifest commit), reloaded through loadIndex thereafter. */
  private val streamIndexes =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def streamIndex(s: SparkSession, dir: String)
      : graft.streaming.NearDupStream.CorpusIndex = {
    val path = streamIndexes.computeIfAbsent(dir, _ => {
      val corpus = t(s, dir, "documents").where(col("doc_id") < 400)
        .withColumn("doc_id", col("doc_id").cast("string"))
      val p = java.nio.file.Files.createTempDirectory("graft_nd_index").toString + "/idx"
      graft.streaming.NearDupStream.buildIndex(corpus, p)
      p
    })
    graft.streaming.NearDupStream.loadIndex(s, path)
  }

  private def ivfArtifact(s: SparkSession, dir: String): (Similarity.IvfModel, DataFrame) = {
    val (model, assignedPath) = ivfArtifacts.computeIfAbsent(dir, _ => {
      val emb = t(s, dir, "embeddings")
      val base = java.nio.file.Files.createTempDirectory("graft_ivf_artifact").toString
      Similarity.IvfModel.fit(emb).save(s, s"$base/centroids")
      val reloaded = Similarity.IvfModel.load(s, s"$base/centroids")
      Similarity.ivfAssign(emb, reloaded)
        .write.partitionBy("cell").parquet(s"$base/assigned")
      (reloaded, s"$base/assigned")
    })
    (model, s.read.parquet(assignedPath))
  }

  private def roverQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // synthetic multi-engine page observations derived from documents text
    val pages = docsSpread(s, dir)
      .select(col("doc_id"), col("text")).as[(Long, String)]
    pages.map { case (id, text) =>
      val toks = text.split(" ").take(12)
      val engines = Vector("yomitoku", "paddleocr", "easyocr").map { e =>
        val items = toks.grouped(4).zipWithIndex.map { case (ws, li) =>
          TextWithBox(ws.mkString("一"), 0, li * 100, 120, li * 100 + 20,
            if (e == "paddleocr") 0.95 else 0.8)
        }.toVector
        e -> items
      }
      val r = graft.vote.Rover.roverMerge(engines)
      (id, r.text, r.lines.length, r.gapsFilled)
    }.toDF("doc_id", "voted_text", "n_lines", "gaps_filled")
  }

  private def readingOrderQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val r = new java.util.Random(id)
      val regions = Vector.fill(8 + r.nextInt(8)) {
        val kinds = Vector("TITLE", "TEXT", "CAPTION", "FIGURE", "TABLE")
        Region(kinds(r.nextInt(kinds.length)), r.nextInt(900), r.nextInt(1200),
          r.nextInt(900) + 60, r.nextInt(1200) + 40, r.nextDouble())
      }
      val cleaned = graft.layout.ReadingOrder.removeOverlaps(regions)
      val sorted = graft.layout.ReadingOrder.sortReadingOrder(cleaned, 960)
      (id, sorted.map(_.kind).mkString(","), regions.length - cleaned.length)
    }.toDF("doc_id", "order", "n_removed")
  }

  /** Reading order over DETERMINISTIC-ARITHMETIC regions (no JVM Random —
    * the DuckDB oracle reproduces the same 8 regions per doc with pure
    * integer expressions) ordered by the REAL operator
    * ([[graft.layout.ReadingOrder.sortReadingOrder]]): the oracle SQL
    * re-expresses the L/R column cut + stable (y, prio, x) sort
    * relationally, so this promotes the x_reading_order rows-gate to a
    * full rows+schema+hash gate (reference semantics:
    * src/layout/reading_order.py:22-65). */
  private def readingOrderOracleQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kinds = Vector("TITLE", "TEXT", "CAPTION", "FIGURE", "TABLE", "FOOTNOTE")
    t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val regions = (0 until 8).map { i =>
        val v = id * 37 + i * 101
        val x1 = ((v * 7) % 900).toInt
        val y1 = ((v * 13) % 1200).toInt
        Region(kinds((v % 6).toInt), x1, y1,
          x1 + 40 + ((v * 3) % 120).toInt, y1 + 30 + ((v * 5) % 80).toInt, 1.0)
      }
      (id, graft.layout.ReadingOrder.sortReadingOrder(regions, 960).map(_.kind).mkString(","))
    }.toDF("doc_id", "rd_order")
  }

  /** Oracle-gated multimodal round trip: media specs derived RELATIONALLY
    * from the documents table (SQL-expressible arithmetic, no hashCode),
    * encoded into real binary payloads, pushed through the ACTUAL
    * [[graft.multimodal.Media.decodeStub]] mapPartitions decode path, and
    * compared against DuckDB's independent prediction of the decoded
    * metadata — a hash gate over encode → binary column → decode. */
  private def mediaOracleQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val specs = t(s, dir, "documents")
      .where(col("doc_id") < 300 && col("doc_id") % 4 > 0)
      .select(col("doc_id"), explode(sequence(lit(0L), col("doc_id") % 4 - 1)).as("k"))
      .select(col("doc_id"), col("k"),
        when((col("doc_id") + col("k")) % 3 === 0, "video").otherwise("image").as("kind"),
        (lit(64) + (col("doc_id") * 7 + col("k") * 13) % 1024).cast("int").as("w"),
        (lit(64) + (col("doc_id") * 11 + col("k") * 17) % 1024).cast("int").as("h"),
        when((col("doc_id") + col("k")) % 3 === 0,
          (lit(1) + (col("doc_id") * 5 + col("k")) % 240).cast("int"))
          .otherwise(lit(1)).as("f"))
      .as[(Long, Long, String, Int, Int, Int)]
    val media = specs.map { case (docId, k, kind, w, h, f) =>
      val ref = s"fig_${docId}_$k"
      graft.multimodal.Media.MediaRow(docId.toString, ref, kind,
        graft.multimodal.Media.encodeBytes(ref, w, h, f))
    }
    graft.multimodal.Media.extractMeta(media).toDF()
      .select(col("doc_id"), col("media_ref"), col("media_kind"), col("byte_len"),
        col("width"), col("height"), col("n_frames"), col("ok"))
  }

  /** Keep-vs-last-kept phash dedup over deterministic-arithmetic frame
    * hashes (12 scenes x 5 near-dup frames + per-bit noise, 60-bit
    * hashes both engines can rebuild), deduped by the REAL stateful
    * operator ([[PhashDedup.dedupe]], threshold 8); the DuckDB oracle
    * replays the sequential pass as a recursive CTE — promoting the
    * x_phash_dedup rows-gate to rows+schema+hash (reference semantics:
    * src/preprocessing/deduplicate.py:9-66).
    *
    * Frame-hash generation is IN-ROW: bit b of frame idx = base-scene
    * predicate XOR sparse noise predicate, computed in a primitive JVM
    * loop inside the typed map that already runs the stateful dedupe —
    * zero exchanges where the original explode(60)×explode(60) shape
    * paid two shuffles and an 18M-row expansion at sf0.1. Per-doc frame
    * hashing is naturally row-local; the 100-TB shape is scan → map →
    * dedupe, and this is it. Measured, not assumed (BenchAB
    * phash_explode_vs_inrow): a nested higher-order-function variant
    * (`transform`+`aggregate`) was 2.9× SLOWER than the exploded shape —
    * interpreted HOF lambdas lose to whole-stage codegen — while this
    * JVM-loop shape wins; value-identity is the oracle hash gate itself. */
  private def phashOracleQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val fs = phashFrames(id)
        (id, fs.length, PhashDedup.dedupe(fs).length)
      }
      .toDF("doc_id", "n_frames", "n_unique")
  }

  /** The deterministic 60-frame hash array (shared with BenchAB's A/B
    * against the legacy exploded shape); integer arithmetic identical to
    * the DuckDB oracle's BIGINT expressions. */
  private[graft] def phashFrames(id: Long): Vector[(Int, Long)] =
    Vector.tabulate(60) { i =>
      val idx = i + 1
      var h = 0L
      var b = 0
      while (b < 60) {
        val base = (id * (b + 3) + (idx / 5) * (b + 11)) % 7 < 3
        val noise = (id + idx * 17 + b * 29) % 40 == 0
        if (base != noise) h |= 1L << b
        b += 1
      }
      (idx, h)
    }

  /** Deterministic page table for the split-spread oracle: 3 pages per
    * doc with arithmetic dims both engines rebuild (odd/even widths
    * exercise the mid_x floor). */
  private def splitPages(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(sequence(lit(1L), lit(3L))).as("p"))
      .select(col("doc_id"), col("p"),
        format_string("page_%04d.png", col("p")).as("page_name"),
        (lit(1000) + (col("doc_id") * 31 + col("p") * 17) % 800).cast("int").as("width"),
        (lit(800) + (col("doc_id") * 13 + col("p") * 29) % 600).cast("int").as("height"))

  /** Trim sweep used by the oracle — every stage of the two-stage trim
    * non-zero, plus a gutter overlap. */
  private val SplitCfg = graft.layout.SplitSpread.TrimConfig(
    globalTop = 0.03, globalBottom = 0.02, globalLeft = 0.04, globalRight = 0.01,
    leftPageOuter = 0.02, leftPageInner = 0.015,
    rightPageInner = 0.025, rightPageOuter = 0.01)

  /** Oracle-gated split-spread crop plan ([[graft.layout.SplitSpread]]):
    * docs with doc_id % 5 != 0 run SPREAD mode (L/R split + both trim
    * stages + overlap), the rest SINGLE (global trim + pass-through) —
    * both reference branches (split_spread.py:219-355) under one hash
    * gate including naming and the sequential renumber. */
  private def splitSpreadOracleQuery(s: SparkSession, dir: String): DataFrame = {
    val pages = splitPages(s, dir)
    val spread = graft.layout.SplitSpread.splitPlan(
      pages.where(col("doc_id") % 5 =!= 0), "spread", SplitCfg, overlapPx = 8)
    val single = graft.layout.SplitSpread.splitPlan(
      pages.where(col("doc_id") % 5 === 0), "single", SplitCfg, overlapPx = 0)
    spread.unionByName(single).orderBy(col("doc_id"), col("out_name"))
  }

  /** Deterministic per-doc region set for the mask queries: 10 regions
    * on a 960x1280 page, coordinates deliberately overshooting the page
    * (and going negative) so the clamp/clip semantics are in the gate. */
  private def maskRegions(id: Long): Seq[Region] = {
    val kinds = Vector("TITLE", "TEXT", "CAPTION", "FIGURE", "TABLE", "FOOTNOTE")
    (0 until 10).map { i =>
      val v = id * 53 + i * 97
      val x1 = ((v * 7) % 1000).toInt - 40
      val y1 = ((v * 13) % 1300).toInt - 40
      Region(kinds((v % 6).toInt), x1, y1,
        x1 + 20 + ((v * 3) % 260).toInt, y1 + 15 + ((v * 11) % 200).toInt, 1.0)
    }
  }

  /** Oracle-gated figure-mask geometry ([[graft.layout.FigureMask]]):
    * FIGURE selection (mask_figures), page clamp survival
    * (mask_figure_regions), and the overlap-counted drawn/pasted pixel
    * sums — everything SQL can re-express. The pixel UNIONS (what the
    * reference's canvas measures) are non-relational and gated by
    * x_figure_mask's pinned digest + FigureMaskSpec's differential. */
  private def figureMaskOracleQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.layout.FigureMask
    t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val regions = maskRegions(id)
      val figs = FigureMask.figureRegions(regions)
      val clamped = FigureMask.clampFigureRects(960, 1280, figs)
      val drawnSum = figs.map(r =>
        FigureMask.drawnPxRect(960, 1280, r.x1, r.y1, r.x2, r.y2).area).sum
      val pastedSum = regions.filter(r => FigureMask.DefaultTextTypes.contains(r.kind))
        .map(r => FigureMask.pastedPxRect(960, 1280, r.x1, r.y1, r.x2, r.y2).area).sum
      (id, figs.length, clamped.length, drawnSum, pastedSum)
    }.toDF("doc_id", "n_figures", "n_masked", "masked_px_sum", "visible_px_sum")
      .orderBy(col("doc_id"))
  }

  /** The full mask replay including the pixel UNIONS
    * ([[graft.layout.FigureMask.maskStats]]) — rows + pinned digest. */
  private def figureMaskQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val st = graft.layout.FigureMask.maskStats(960, 1280, maskRegions(id))
      (id, st.nFigures, st.nMasked, st.maskedPx, st.visiblePx,
        math.rint(st.maskRatio * 1e6) / 1e6)
    }.toDF("doc_id", "n_figures", "n_masked", "masked_px", "visible_px", "mask_ratio")
  }

  /** Oracle-gated ffmpeg frame-sampling plan
    * ([[graft.multimodal.Media.framePlan]]): video metadata derived
    * relationally (same arithmetic family as q_media_meta), sampled at
    * fps=1/2.0 over 30 fps sources — output naming, timestamps and
    * round-to-nearest source indices under the hash gate. */
  private def framePlanOracleQuery(s: SparkSession, dir: String): DataFrame = {
    val meta = t(s, dir, "documents")
      .where(col("doc_id") < 300 && col("doc_id") % 4 > 0)
      .select(col("doc_id"), explode(sequence(lit(0L), col("doc_id") % 4 - 1)).as("k"))
      .where((col("doc_id") + col("k")) % 3 === 0)
      .select(col("doc_id"),
        concat(lit("fig_"), col("doc_id"), lit("_"), col("k")).as("media_ref"),
        lit("video").as("media_kind"),
        (lit(1) + (col("doc_id") * 5 + col("k")) % 240).cast("int").as("n_frames"),
        lit(true).as("ok"))
    graft.multimodal.Media.framePlan(meta, intervalSec = 2.0, srcFps = 30.0)
      .orderBy(col("doc_id"), col("media_ref"), col("frame_ord"))
  }

  private def phashQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val r = new java.util.Random(id * 7919)
      var h = r.nextLong()
      val frames = (1 to 60).map { i =>
        if (r.nextInt(3) != 0) h = h ^ (r.nextLong() & 0xffffL << r.nextInt(48))
        (i, h)
      }
      val kept = PhashDedup.dedupe(frames)
      (id, frames.length, kept.length)
    }.toDF("doc_id", "n_frames", "n_unique")
  }
}
