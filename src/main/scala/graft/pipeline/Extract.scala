package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model._
import graft.analyze.Headings
import graft.parse.PageParser

/** The extraction engine: Dataset[InputDoc] -> ordered (kind, text,
  * media_ref, offset) span sequences per document.
  *
  * Shape (north rule): one narrow mapPartitions per doc — parse pages,
  * cross-page heading-frequency aggregation, running-head (boilerplate)
  * strip, read-aloud rules, span emission in reference page order
  * (announcement -> content elements -> figures -> page metadata, matching
  * src/book_converter/transformer.py:307-338). The boilerplate aggregation
  * is per-document, so it stays in-row: NO shuffle anywhere in this path.
  * At 100 TB this scales linearly with input splits; docs are bounded
  * (books, MBs) so no in-row skew. Cross-doc balance comes from
  * over-partitioning + AQE (see [[Skew]] for why key-derived salting is
  * deliberately not used).
  */
object Extract {

  /** Pure per-document core — unit-testable without Spark. */
  def extractDoc(doc: InputDoc, runningHeadThreshold: Double = 0.5): DocResult =
    extractLines(doc.doc_id, doc.spans.sortBy(_.offset).map(_.text).toIndexedSeq,
      runningHeadThreshold)

  /** Core over the minimal inputs extraction actually consumes: the
    * document's lines in offset order. The scan path feeds this from a
    * NESTED-PRUNED read (only spans.text + spans.offset reach the
    * parquet scan — kind/media_ref never leave the file; media refs are
    * re-derived from the figure-comment lines like the reference). */
  def extractLines(docId: String, lines: IndexedSeq[String],
      runningHeadThreshold: Double = 0.5): DocResult = {
    val parsed = PageParser.parseDocument(lines)
    // convert_book (cli.py:137-196): the running head is detected in-row
    emit(docId, parsed, Headings.runningHeads(parsed.pages, runningHeadThreshold))
  }

  /** The one span emitter, shared with [[ExtractRelational]]: reference
    * order toc -> per page (page, announcement, elements, figures,
    * pagemeta) (transformer.py:307-338), heading read-aloud decided by
    * [[Headings.suppressesReadAloud]] against the doc's running heads. */
  private[pipeline] def emit(docId: String, parsed: PageParser.ParseOutput,
      runningHeads: Set[String]): DocResult = {
    val spans = Vector.newBuilder[OutSpan]
    var offset = 0
    var charCount = 0L
    def span(kind: String, text: String, mediaRef: String, pageNo: String, level: Int,
        readAloud: Boolean, attrs: String): Unit = {
      spans += OutSpan(docId, offset, kind, text, mediaRef, pageNo, level, readAloud, attrs)
      offset += 1
      charCount += text.length
    }

    // Book-level TOC first (xml_builder.py:44-48 puts <toc> before pages).
    parsed.tocEntries.foreach { e =>
      span("toc", e.text, "", e.page, e.level, readAloud = true,
        attrs = if (e.number.nonEmpty) s"number=${e.number}" else "")
    }

    parsed.pages.foreach { page =>
      span("page", page.number, "", page.number, 0, readAloud = false,
        attrs = s"sourceFile=${page.sourceFile}")
      // pageAnnouncement is the FIRST child of each <page> in the live path
      // (page.py:119-133 create_page_announcement "Nページ" format=simple,
      // transformer.py:318-321; None when the page number is empty)
      if (page.number.nonEmpty)
        span("announcement", s"${page.number}ページ", "", page.number, 0, readAloud = false,
          attrs = "format=simple")
      page.elements.foreach {
        case h: Heading =>
          span("heading", h.text, "", page.number, h.level,
            h.readAloud && !Headings.suppressesReadAloud(h.text, runningHeads), "")
        case p: Paragraph =>
          span("paragraph", p.text, "", page.number, 0, p.readAloud, "")
        case l: ListEl =>
          span("list", l.items.mkString("\n"), "", page.number, 0, l.readAloud,
            attrs = s"listType=${l.listType}")
      }
      page.figures.foreach { f =>
        span("figure", f.caption, f.path, page.number, 0, readAloud = false, "")
      }
      page.metadata.foreach { m =>
        span("pagemeta", m.text, "", page.number, 0, readAloud = false,
          attrs = s"metaType=${m.metaType}")
      }
    }

    val out = spans.result()
    DocResult(docId, out, parsed.errors, parsed.pages.length, out.length, charCount)
  }

  /** Distributed entry: one pass, no shuffle. */
  def run(docs: Dataset[InputDoc], runningHeadThreshold: Double = 0.5): Dataset[DocResult] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions(_.map(extractDoc(_, runningHeadThreshold)))
  }

  /** Distributed entry over the NESTED-PRUNED projection
    * ([[graft.io.TableIO.pruneLines]]): (doc_id, texts, offsets) rows —
    * the production scan shape. Shared by Checkpoint and Scaling. */
  def runLines(lines: Dataset[(String, Array[String], Array[Int])],
      runningHeadThreshold: Double = 0.5): Dataset[DocResult] = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines.mapPartitions(_.map { case (id, texts, offsets) =>
      extractLines(id, offsets.zip(texts).sortBy(_._1).map(_._2).toIndexedSeq,
        runningHeadThreshold)
    })
  }

  /** Flat span table (doc_id, offset, kind, text, media_ref, ...). */
  def spans(docs: Dataset[InputDoc], runningHeadThreshold: Double = 0.5): Dataset[OutSpan] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions(_.flatMap(d => extractDoc(d, runningHeadThreshold).spans))
  }
}

/** Sequential near-dup page filter (perceptual-hash dedup).
  * Faithful to src/preprocessing/deduplicate.py:45-62: keep a frame iff
  * hamming distance to the PREVIOUS KEPT frame >= threshold. The state is
  * "last kept", not "last row", so this is an order-dependent fold per
  * doc — in-row over the sorted frame array, never a window lag.
  */
object PhashDedup {

  /** frames: (frameIdx, phash64) sorted by frameIdx; returns kept indices
    * renumbered 1..n like renumber_pages. */
  def dedupe(frames: Seq[(Int, Long)], hashThreshold: Int = 8): Vector[(Int, Int, Long)] = {
    val kept = Vector.newBuilder[(Int, Int, Long)]
    var prevHash: Option[Long] = None
    var pageNum = 1
    frames.sortBy(_._1).foreach { case (idx, h) =>
      val dup = prevHash.exists(p => java.lang.Long.bitCount(p ^ h) < hashThreshold)
      if (!dup) {
        kept += ((idx, pageNum, h))
        prevHash = Some(h)
        pageNum += 1
      }
    }
    kept.result()
  }
}

/** Skew handling for oversized books (north rule).
  *
  * Documents are ATOMIC here: every in-doc pass is an order-dependent
  * fold (marker stack, dedup-vs-last-kept, TOC cursor), so one doc can
  * never be split across tasks — a "salt" that is a function of doc_id
  * adds zero spread over hashing doc_id alone and is deliberately NOT
  * used. The real mitigations, all exercised in this repo:
  *   - over-partitioning: ≥8 partitions per core (Scaling.scala uses 256
  *     fixed) so a heavy-tail doc (~2% of the corpus at 150-400 pages)
  *     delays one small partition, not a core-sized one;
  *   - AQE skew-split on the shuffling paths (ExtractRelational's
  *     heading agg; the LSH bucket joins), where rows ARE divisible;
  *   - the relational path (ExtractRelational) for docs too large for
  *     one row, where the heading agg distributes across pages.
  */
object Skew {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** Spread docs uniformly across numPartitions by doc_id hash. */
  def repartitionByDocHash(df: DataFrame, numPartitions: Int): DataFrame =
    df.repartition(numPartitions, col("doc_id"))
}
