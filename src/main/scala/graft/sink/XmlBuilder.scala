package graft.sink

import scala.collection.mutable
import org.apache.spark.sql.Dataset
import graft.model._
import graft.analyze.Headings
import graft.parse.PageParser

/** book.xml formatter sink — byte-for-byte parity with the reference's
  * live output path `build_xml_with_errors`
  * (/root/reference/src/book_converter/xml_builder.py:130-192, which uses
  * the legacy `transform_page` family, transformer.py:305-407) including
  * Python ElementTree serialization details (attribute insertion order,
  * `<tag />` short empty elements, cdata/attrib escaping, single-quote
  * declaration rewritten to double quotes).
  */
object XmlBuilder {

  // ---- minimal ElementTree-compatible node model ---------------------------

  sealed trait Node
  final class El(val tag: String) extends Node {
    val attrs = mutable.ArrayBuffer.empty[(String, String)] // insertion order
    var text: Option[String] = None
    val children = mutable.ArrayBuffer.empty[Node]
    def set(k: String, v: String): Unit = attrs += ((k, v))
    def append(n: Node): Unit = children += n
  }
  final case class CommentNode(text: String) extends Node

  /** ElementTree _escape_cdata: only & < > (not quotes). */
  private def escapeCdata(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case c   => sb.append(c)
    }
    sb.toString
  }

  /** ElementTree _escape_attrib: & < > " and CR/LF/TAB as char refs. */
  private def escapeAttrib(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.foreach {
      case '&'  => sb.append("&amp;")
      case '<'  => sb.append("&lt;")
      case '>'  => sb.append("&gt;")
      case '"'  => sb.append("&quot;")
      case '\r' => sb.append("&#13;")
      case '\n' => sb.append("&#10;")
      case '\t' => sb.append("&#09;")
      case c    => sb.append(c)
    }
    sb.toString
  }

  // ---- emphasis (transformer_utils.py:80-116) ------------------------------

  private val EmPattern = """\*\*(.+?)\*\*""".r

  /** Python re.split(r"\*\*(.+?)\*\*", text): alternating [plain, em,
    * plain, em, ..., plain]. `.` does not cross newlines (no DOTALL) —
    * same as the JVM default. */
  def emSplit(text: String): Vector[String] = {
    val parts = Vector.newBuilder[String]
    var last = 0
    EmPattern.findAllMatchIn(text).foreach { m =>
      parts += text.substring(last, m.start)
      parts += m.group(1)
      last = m.end
    }
    parts += text.substring(last)
    parts.result()
  }

  /** apply_emphasis: sets parent.text and appends <em> children with
    * tails. Faithful to the reference: empty leading part -> no text;
    * empty trailing part -> no tail. */
  def applyEmphasis(text: String, parent: El): Unit = {
    if (text.isEmpty) return
    val parts = emSplit(text)
    if (parts.length == 1) { parent.text = Some(text); return }
    parent.text = if (parts(0).nonEmpty) Some(parts(0)) else None
    var i = 1
    while (i < parts.length) {
      val em = new El("em")
      em.text = Some(parts(i))
      // ET serializes tail AFTER the element; model it as a sibling text
      // node via a wrapper: keep (em, tail) pairs as children
      parent.append(em)
      val tail = if (i + 1 < parts.length) parts(i + 1) else ""
      if (tail.nonEmpty) parent.append(Tail(tail))
      i += 2
    }
  }

  /** Text tail pseudo-node (ElementTree element.tail). */
  final case class Tail(text: String) extends Node

  // ---- legacy transform_page family (transformer.py:305-407) ---------------

  /** The content wrapper's readAloud is computed at PARSE time from the
    * original elements (page.py:654-656) and preserved through heading
    * processing (cli.py:126 `read_aloud=page.content.read_aloud`) —
    * running-head demotion ([[Headings.suppressesReadAloud]]) flips
    * heading attrs but NOT the content wrapper. */
  private def transformPage(page: ParsedPage, runningHeads: Set[String]): El = {
    val elem = new El("page")
    elem.set("number", page.number)
    elem.set("sourceFile", page.sourceFile)
    // `continued` / `page_type` are default-valued on the live path
    // (models.py:358-359) -> attributes never emitted here.
    if (page.number.nonEmpty) {
      val ann = new El("pageAnnouncement")
      ann.text = Some(s"${page.number}ページ")
      ann.set("format", "simple")
      ann.set("readAloud", "false")
      elem.append(ann)
    }
    if (page.elements.nonEmpty) {
      val content = new El("content")
      content.set("readAloud", if (page.elements.exists(_.readAloud)) "true" else "false")
      page.elements.foreach {
        case Paragraph(t, ra) =>
          val p = new El("paragraph")
          p.set("readAloud", if (ra) "true" else "false")
          applyEmphasis(t, p)
          content.append(p)
        case Heading(level, t, ra) =>
          val h = new El("heading")
          h.set("level", level.toString)
          h.set("readAloud",
            if (ra && !Headings.suppressesReadAloud(t, runningHeads)) "true" else "false")
          applyEmphasis(t, h)
          content.append(h)
        case ListEl(items, _, ra) =>
          val l = new El("list")
          l.set("readAloud", if (ra) "true" else "false")
          items.foreach { item =>
            val it = new El("item")
            applyEmphasis(item, it)
            l.append(it)
          }
          content.append(l)
      }
      elem.append(content)
    }
    page.figures.foreach { f =>
      val fig = new El("figure")
      fig.set("readAloud", "false")
      if (f.path.nonEmpty) {
        fig.set("path", f.path)
        if (f.marker.nonEmpty) fig.set("marker", f.marker)
      }
      elem.append(fig)
    }
    page.metadata.foreach { m =>
      val md = new El("pageMetadata")
      md.set("type", m.metaType)
      md.set("readAloud", "false")
      applyEmphasis(m.text, md)
      elem.append(md)
    }
    elem
  }

  private def transformToc(parsed: PageParser.ParseOutput): Option[El] = {
    if (parsed.tocEntries.isEmpty) return None
    val toc = new El("toc")
    if (parsed.tocBeginPage.nonEmpty) toc.set("begin", parsed.tocBeginPage)
    if (parsed.tocEndPage.nonEmpty) toc.set("end", parsed.tocEndPage)
    parsed.tocEntries.foreach { e =>
      val en = new El("entry")
      en.set("level", e.level.toString)
      if (e.number.nonEmpty) en.set("number", e.number)
      en.set("title", e.text)
      if (e.page.nonEmpty) en.set("page", e.page)
      toc.append(en)
    }
    Some(toc)
  }

  /** The full sink: parse + heading processing (same front half as
    * [[graft.pipeline.Extract.extractDoc]]) + build_xml_with_errors. */
  def buildXmlWithErrors(doc: InputDoc, runningHeadThreshold: Double = 0.5): String = {
    val root = buildBookTree(doc, runningHeadThreshold)
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
    serializeTop(root, sb)
    sb.toString
  }

  /** The book element tree of build_xml_with_errors (pre-serialization) —
    * also the input to the grouped transform [[GroupedXml]]. */
  def buildBookTree(doc: InputDoc, runningHeadThreshold: Double = 0.5): El = {
    val lines = doc.spans.sortBy(_.offset).map(_.text).toIndexedSeq
    val parsed = PageParser.parseDocument(lines)
    val runningHeads = Headings.runningHeads(parsed.pages, runningHeadThreshold)

    val root = new El("book")
    val metadata = new El("metadata")
    val title = new El("title")
    title.text = Some("Converted Book")
    metadata.append(title)
    root.append(metadata)
    transformToc(parsed).foreach(root.append)

    // page_errors: dict keyed by page_number (xml_builder.py:160-166)
    val pageErrors = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[ConvError]]
    parsed.errors.foreach(e =>
      pageErrors.getOrElseUpdate(e.page_number, mutable.ArrayBuffer.empty) += e)

    parsed.pages.foreach { page =>
      val pe = transformPage(page, runningHeads)
      pageErrors.get(page.number).foreach(_.foreach { e =>
        pe.append(CommentNode(s" ERROR: ${e.error_type} - ${e.message} "))
      })
      // reference quirk (xml_builder.py:176-179): empty-number pages get
      // the "" errors appended a SECOND time — replicated faithfully
      if (page.number.isEmpty)
        pageErrors.get("").foreach(_.foreach { e =>
          pe.append(CommentNode(s" ERROR: ${e.error_type} - ${e.message} "))
        })
      root.append(pe)
    }
    root
  }

  // top-level serializer honoring Tail pseudo-nodes
  private def serializeTop(e: El, sb: StringBuilder): Unit = {
    sb.append('<').append(e.tag)
    e.attrs.foreach { case (k, v) =>
      sb.append(' ').append(k).append("=\"").append(escapeAttrib(v)).append('"')
    }
    val txt = e.text.filter(_.nonEmpty)
    if (txt.isEmpty && e.children.isEmpty) { sb.append(" />"); return }
    sb.append('>')
    txt.foreach(t => sb.append(escapeCdata(t)))
    e.children.foreach {
      case el: El  => serializeTop(el, sb)
      case Tail(t) => sb.append(escapeCdata(t))
      case CommentNode(t) => sb.append("<!--").append(t).append("-->")
    }
    sb.append("</").append(e.tag).append('>')
  }

  /** Serialize one element without the declaration (parity tests). */
  def fragment(e: El): String = {
    val sb = new StringBuilder
    serializeTop(e, sb)
    sb.toString
  }

  /** Distributed sink: one book.xml string per document (narrow map). */
  def xml(docs: Dataset[InputDoc], runningHeadThreshold: Double = 0.5)
      : Dataset[(String, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.mapPartitions(_.map(d => (d.doc_id, buildXmlWithErrors(d, runningHeadThreshold))))
  }
}
