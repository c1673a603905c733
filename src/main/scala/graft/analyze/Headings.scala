package graft.analyze

import java.util.regex.Pattern
import scala.collection.mutable
import graft.model.{Heading, HeadingAnalysis, ParsedPage}
import graft.text.Normalize

/** Heading frequency analysis + running-head (boilerplate) detection +
  * exclusion patterns. Faithful port of src/book_converter/analyzer.py and
  * src/book_converter/config.py:12-61.
  *
  * This is the north rule's "cross-page repeated-line frequency" operator:
  * groupBy(normalized text) -> count + level histogram; the detected
  * running-head set is broadcast back as a filter (per doc it is an
  * in-row set; the relational variant lives in pipeline/ExtractRelational).
  */
object Headings {

  /** analyze_headings (analyzer.py:41-99). Insertion-ordered, ties on the
    * most-frequent level resolved to the smaller level. */
  def analyze(headings: Seq[Heading]): Vector[HeadingAnalysis] = {
    if (headings.isEmpty) return Vector.empty
    final class Stat {
      var count = 0
      val levels = Vector.newBuilder[Int]
      val levelCounts = mutable.LinkedHashMap.empty[Int, Int]
    }
    val stats = mutable.LinkedHashMap.empty[String, Stat]
    headings.foreach { h =>
      val normalized = Normalize.dashes(h.text)
      val s = stats.getOrElseUpdate(normalized, new Stat)
      s.count += 1
      s.levels += h.level
      s.levelCounts(h.level) = s.levelCounts.getOrElse(h.level, 0) + 1
    }
    stats.iterator.map { case (text, s) =>
      // max by (count, -level); Python max keeps the FIRST max on exact
      // tie of the key tuple (insertion order) — replicated via foldLeft.
      val mostFrequentLevel = s.levelCounts.iterator
        .foldLeft(Option.empty[(Int, Int)]) { case (best, (lvl, cnt)) =>
          best match {
            case Some((bl, bc)) if bc > cnt || (bc == cnt && -bl >= -lvl) => best
            case _                                                       => Some((lvl, cnt))
          }
        }
        .get
        ._1
      val uniqueLevels = s.levels.result().distinct.sorted
      HeadingAnalysis(text, mostFrequentLevel, s.count, uniqueLevels, isRunningHead = false)
    }.toVector
  }

  /** detect_running_head (analyzer.py:102-151): the most frequent level-1
    * heading is flagged iff count >= max(totalPages * ratio, 2). */
  def detectRunningHead(
      analyses: Vector[HeadingAnalysis],
      totalPages: Int,
      thresholdRatio: Double = 0.5
  ): Vector[HeadingAnalysis] = {
    if (analyses.isEmpty || totalPages == 0) return analyses
    val level1 = analyses.filter(_.level == 1)
    if (level1.isEmpty) return analyses
    // Python max(key=count): first max in list order.
    val mostFrequent = level1.foldLeft(level1.head)((b, a) => if (a.count > b.count) a else b)
    val threshold = math.max(totalPages * thresholdRatio, 2.0)
    val runningHeads: Set[String] =
      if (mostFrequent.count >= threshold) Set(mostFrequent.text) else Set.empty
    analyses.map(a => if (runningHeads.contains(a.text)) a.copy(isRunningHead = true) else a)
  }

  /** Static exclusion patterns in priority order (config.py:12-61). */
  val ExclusionPatterns: Vector[(String, Pattern)] = Vector(
    "page-number" -> Pattern.compile(".*[―—]\\s*\\d+\\s*/\\s*\\d+$", Pattern.UNICODE_CHARACTER_CLASS),
    "decoration" -> Pattern.compile("^[◆◇■□●○▲△]+$"),
    "section-label" -> Pattern.compile("^Section\\s+\\d+\\.\\d+$", Pattern.UNICODE_CHARACTER_CLASS),
    "reference" -> Pattern.compile("^Webサイト$"),
    // U flag: python \d = Unicode Nd ("注４９.8" IS a footnote)
    "footnote" -> Pattern.compile("^注\\d+\\.\\d+", Pattern.UNICODE_CHARACTER_CLASS)
  )

  /** match_exclusion_pattern (analyzer.py:154-181): first match wins
    * (re.match semantics: anchored at start, not end). */
  def matchExclusionPattern(text: String): Option[String] = {
    if (text == null || text.isEmpty) return None
    ExclusionPatterns.collectFirst {
      case (id, p) if p.matcher(text).lookingAt() => id
    }
  }

  /** reassign_heading_level (analyzer.py:184-209). */
  def reassignHeadingLevel(heading: Heading, runningHeadTexts: Set[String]): Heading = {
    val normalized = Normalize.dashes(heading.text)
    if (runningHeadTexts.contains(normalized) && heading.level != 1)
      Heading(1, heading.text, heading.readAloud)
    else heading
  }

  /** The running-head set (normalized texts) of one document:
    * analyze_headings over every page's headings + detect_running_head
    * (cli.py:137-196). */
  def runningHeads(pages: Seq[ParsedPage], thresholdRatio: Double = 0.5): Set[String] = {
    val headings = pages.flatMap(_.elements).collect { case h: Heading => h }
    detectRunningHead(analyze(headings), pages.length, thresholdRatio)
      .iterator.filter(_.isRunningHead).map(_.text).toSet
  }

  /** The heading read-aloud rule of apply_read_aloud_rules
    * (analyzer.py:212-271): a heading whose normalized text is a running
    * head, or that matches an exclusion pattern, is never read aloud. */
  def suppressesReadAloud(text: String, runningHeads: Set[String]): Boolean =
    runningHeads.contains(Normalize.dashes(text)) || matchExclusionPattern(text).isDefined

  /** apply_read_aloud_rules (analyzer.py:212-271) over whole headings. */
  def applyReadAloudRules(
      headings: Seq[Heading],
      analyses: Vector[HeadingAnalysis]
  ): Vector[Heading] = {
    val runningHeadTexts = analyses.iterator.filter(_.isRunningHead).map(_.text).toSet
    headings.iterator.map { h =>
      if (suppressesReadAloud(h.text, runningHeadTexts)) h.copy(readAloud = false) else h
    }.toVector
  }
}
