package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model._
import graft.parse.PageParser

/** Relational variant of the boilerplate (running-head) aggregation — the
  * north star's explicit shape: explode headings, groupBy(doc, normalized
  * line) + count under AQE-managed shuffle, resolve the per-doc running
  * head, and broadcast/join the filter set back before span emission.
  *
  * The fused [[Extract]] keeps everything in-row (no shuffle) and is the
  * fast path for bounded docs; this variant is the scale-out path when
  * per-doc state must not live in one row (e.g. docs with millions of
  * spans), and doubles as an equivalence oracle: both paths must emit
  * IDENTICAL span sequences (tested).
  *
  * Plan shape at 100 TB: Stage A narrow parse -> Stage B shuffle
  * (partial-agg'd heading counts, AQE skew-split) -> Stage C join of the
  * tiny running-head set -> Stage D narrow re-parse + emission through
  * the same emitter as the fused path. One shuffle of (doc, heading)
  * pairs — heading rows are ~1% of span rows.
  */
object ExtractRelational {

  private def parse(doc: InputDoc): PageParser.ParseOutput =
    PageParser.parseDocument(doc.spans.sortBy(_.offset).map(_.text).toIndexedSeq)

  /** The (doc_id, normalized text, level, seq, n_pages) heading rows one
    * parsed doc contributes to the running-head aggregation. */
  private def headingRows(docId: String, parsed: PageParser.ParseOutput)
      : Seq[(String, String, Int, Long, Int)] =
    parsed.pages.flatMap(_.elements).collect { case h: Heading => h }
      .zipWithIndex.map { case (h, i) =>
        (docId, graft.text.Normalize.dashes(h.text), h.level, i.toLong, parsed.pages.length)
      }

  /** The relational running-head aggregation over already-extracted
    * heading rows (doc_id, norm_text, level, seq, n_pages). Returns
    * (doc_id, norm_text) rows for detected running heads.
    *
    * Faithful to analyzer.py:41-151: per (doc, normalized text) count +
    * most-frequent level (ties -> smaller); candidate = level-1 rows; the
    * doc's most frequent candidate (first-seen tie-break via min heading
    * index) is flagged iff count >= max(pages * threshold, 2). */
  private def runningHeadsFromRows(headingRows: DataFrame,
      thresholdRatio: Double): DataFrame = {
    val spark = headingRows.sparkSession
    import spark.implicits._
    val headings = headingRows
      // ONE exchange for the whole aggregation chain: hash-partitioning
      // by doc_id alone satisfies ClusteredDistribution for BOTH groupBys
      // (doc_id is a subset of each grouping key — rows of a group can
      // never straddle partitions) and for the per-doc rank window, so
      // the plan keeps this single Exchange where the natural shape paid
      // three (byLevel key, analyses key, window key). Plan evidence in
      // plans/r07/x_extract_relational_{before,after}.txt.
      .repartition($"doc_id")

    // per (doc, text, level) counts -> per (doc, text): count, mode level
    val byLevel = headings
      .groupBy($"doc_id", $"norm_text", $"level")
      .agg(count(lit(1)).as("lvl_n"), min($"seq").as("lvl_first"), first($"n_pages").as("n_pages"))
    // Python's max over insertion-ordered level_counts: (count desc,
    // level asc); insertion order only breaks exact (count, level) ties,
    // which cannot happen (level is the key) -> deterministic here.
    val analyses = byLevel
      .groupBy($"doc_id", $"norm_text")
      .agg(
        sum($"lvl_n").as("n"),
        min($"lvl_first").as("first_seq"),
        first($"n_pages").as("n_pages"),
        min_by($"level", struct(-$"lvl_n", $"level")).as("mode_level"))

    // analyzer.py picks the FIRST max over insertion-ordered analyses ->
    // tie-break by first occurrence (first_seq asc) after count desc.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"n".desc, $"first_seq".asc)
    analyses
      .where($"mode_level" === 1)
      .withColumn("rnk", row_number().over(w))
      .where($"rnk" === 1 && $"n" >= greatest($"n_pages" * thresholdRatio, lit(2.0)))
      .select($"doc_id", $"norm_text")
  }

  /** Full relational pipeline, two fused passes over `docs`:
    *
    *  1. parse each doc and emit its heading rows straight into the
    *     relational running-head aggregation (Stage A+B+C);
    *  2. join the tiny per-doc running-head sets back onto `docs`, parse
    *     each doc AGAIN and hand it to the shared emitter [[Extract.emit]]
    *     (Stage D).
    *
    * Each parse stays a plain JVM object inside its own mapPartitions:
    * the deeply nested parse output is never encoded into rows, and no
    * cache is held between the passes. Parsing twice costs no more than
    * caching one parse, even on the expensive-parse corpus (perfbench
    * `extract_longdoc_rel`: same docs/s, a third less live heap).
    *
    * DETERMINISM: both passes must parse the same input the same way.
    * `docs` must be a deterministic source (a table scan, not a sampled
    * or nondeterministic plan) and the parse is a pure function of the
    * doc's lines; otherwise the running-head set and the emitted spans
    * could derive from different parses.
    *
    * Join strategy is left to AQE on purpose: the running-head sets are
    * at most one tiny row per doc — at test scale AQE broadcasts them; at
    * 10^12 docs a forced broadcast would collect a corpus-sized set on
    * every executor, so the planner must be free to fall back to a
    * shuffled join keyed on doc_id.
    *
    * Output is identical to the fused [[Extract]] (spec-pinned under the
    * default plan and a banned-broadcast SortMergeJoin plan). */
  def spans(docs: Dataset[InputDoc], thresholdRatio: Double = 0.5): Dataset[OutSpan] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val headings = docs.mapPartitions(_.flatMap(d => headingRows(d.doc_id, parse(d))))
      .toDF("doc_id", "norm_text", "level", "seq", "n_pages")
    val rhSets = runningHeadsFromRows(headings, thresholdRatio)
      .groupBy($"doc_id").agg(collect_set($"norm_text").as("rh"))
    val joined = docs
      .joinWith(rhSets, docs("doc_id") === rhSets("doc_id"), "left_outer")
    joined.mapPartitions(_.flatMap { case (d, rhRow) =>
      val rh: Set[String] =
        if (rhRow == null) Set.empty
        else rhRow.getAs[scala.collection.Seq[String]]("rh").toSet
      Extract.emit(d.doc_id, parse(d), rh).spans
    })
  }
}
