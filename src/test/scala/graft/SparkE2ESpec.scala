package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import graft.analyze.Headings
import graft.io.SyntheticCorpus
import graft.pipeline.{Checkpoint, Extract, ExtractRelational}

/** Distributed end-to-end invariants on the synthetic corpus:
  * fused vs relational path equivalence, parallelism-independence,
  * checkpoint kill/rerun idempotence, media preservation, offset density.
  */
class SparkE2ESpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .appName("graft-e2e")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def corpus(n: Long, parts: Int = 4) = SyntheticCorpus.docs(spark, n, partitions = parts)

  test("fused and relational extraction emit identical span sequences") {
    import org.apache.spark.sql.Dataset
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import graft.model.OutSpan
    val docs = corpus(40)
    def ordered(ds: Dataset[OutSpan]): Seq[OutSpan] =
      ds.collect().toSeq.sortBy(s => (s.doc_id, s.offset))
    val fused = ordered(Extract.spans(docs))

    // non-vacuous: running-head suppression fires — some headings that
    // are read aloud with running-head detection disabled are silenced
    // by it, and none of them matches an exclusion pattern
    val noRunningHeads = ordered(Extract.spans(docs, Double.PositiveInfinity))
    assert(noRunningHeads.length == fused.length)
    val silenced = fused.zip(noRunningHeads).collect {
      case (a, b) if a.kind == "heading" && !a.read_aloud && b.read_aloud => a
    }
    assert(silenced.nonEmpty)
    assert(silenced.forall(h => Headings.matchExclusionPattern(h.text).isEmpty))
    assert(fused.exists(h => h.kind == "heading" && h.read_aloud))

    assert(ordered(ExtractRelational.spans(docs)) == fused)

    // banned broadcast: the running-head join plans as a SortMergeJoin
    // and the output is still span-identical
    val key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, "-1")
    try {
      val smj = ExtractRelational.spans(docs)
      assert(ordered(smj) == fused)
      object Plan extends AdaptiveSparkPlanHelper
      val plan = smj.queryExecution.executedPlan
      assert(Plan.collect(plan) { case j: SortMergeJoinExec => j }.nonEmpty, plan.toString)
      assert(Plan.collect(plan) { case j: BroadcastHashJoinExec => j }.isEmpty, plan.toString)
    } finally spark.conf.unset(key)
  }

  test("extraction is parallelism-independent (4 vs 1 partitions)") {
    val a = Extract.spans(corpus(30, parts = 4)).toDF()
    val b = Extract.spans(corpus(30, parts = 1)).toDF()
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("offsets dense 0..n-1 per doc; figures preserved in order") {
    val ss = spark; import ss.implicits._
    val docs = corpus(30)
    val spans = Extract.spans(docs).cache()
    val bad = spans.groupByKey(_.doc_id).mapGroups { (_, it) =>
      val offs = it.map(_.offset).toVector.sorted
      if (offs == offs.indices.toVector) 0 else 1
    }.filter(_ == 1).count()
    assert(bad == 0)
    // every input media_ref appears exactly once in output figure spans
    val inRefs = docs.flatMap(d => d.spans.filter(_.media_ref.nonEmpty)
      .map(s => (d.doc_id, s.media_ref))).toDF("doc_id", "media_ref")
    val outRefs = spans.filter(_.kind == "figure").map(s => (s.doc_id, s.media_ref))
      .toDF("doc_id", "media_ref")
    assert(inRefs.count() == outRefs.count())
    assert(inRefs.except(outRefs).isEmpty && outRefs.except(inRefs).isEmpty)
    spans.unpersist()
  }

  test("checkpoint: kill after bucket k, rerun -> identical output, no dupes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val docs = corpus(30)
    // crash injected before committing bucket 5
    intercept[RuntimeException] {
      Checkpoint.run(docs, dir, nBuckets = 8, failAtBucket = 5)
    }
    val committedBefore = Checkpoint.committedBuckets(spark, dir)
    assert(committedBefore.nonEmpty && !committedBefore.contains(5))
    // resume: completes remaining buckets only
    val resumed = Checkpoint.run(docs, dir, nBuckets = 8)
    assert(resumed.map(_.bucket).toSet.contains(5))
    assert(Checkpoint.committedBuckets(spark, dir) == (0 until 8).toSet)
    // final output equals a single-shot run (no duplicates / missing)
    val out = spark.read.parquet((0 until 8).map(b => s"$dir/bucket=$b"): _*)
    val oneShot = Extract.spans(docs).toDF()
    assert(out.count() == oneShot.count())
    assert(out.except(oneShot).isEmpty && oneShot.except(out).isEmpty)
    // manifests carry consistent lineage metrics, incl. conversion errors
    val manifests = Checkpoint.readManifests(spark, dir)
    assert(manifests.map(_.spanCount).sum == oneShot.count())
    assert(manifests.map(_.nDocs).sum == 30)
    val ss = spark; import ss.implicits._
    val expectedErrors = Extract.run(docs).map(_.errors.length.toLong)
      .reduce(_ + _)
    assert(manifests.map(_.errorCount).sum == expectedErrors)
    val errRows = spark.read.parquet((0 until 8).map(b => s"$dir/_errors/bucket=$b"): _*)
    assert(errRows.count() == expectedErrors)
  }

  test("checkpoint per-bucket reads are partition-pruned (no full rescan)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val docs = corpus(20)
    Checkpoint.run(docs, dir, nBuckets = 4)
    // the flat input was staged ONCE into the bucket layout ...
    val staged = Checkpoint.stagedCorpusPath(dir)
    assert(new java.io.File(staged, "_SUCCESS").exists())
    // ... and each bucket's read (the EXACT dataset Checkpoint executes)
    // carries a PartitionFilter on `bucket` over one shared file index,
    // not a recomputed hash filter over the full input
    val stagedDf = spark.read.parquet(staged)
    val perBucket = Checkpoint.bucketLines(stagedDf, 2)
    val plan = perBucket.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    assert(!plan.contains("xxhash64"), s"bucket filter must prune, not rescan:\n$plan")
    // nested-schema pruning: the scan reads only spans.text + spans.offset
    assert(plan.contains("ReadSchema") && !plan.contains("media_ref"),
      s"scan must drop kind/media_ref:\n$plan")
    // re-running over the staged layout is a no-op (all buckets committed)
    assert(Checkpoint.runPartitioned(spark, staged, dir,
      graft.io.TableIO.Cfg(nBuckets = 4)).isEmpty)
  }

  test("parallel bucket processing: identical output and resumable after a crash") {
    val seqDir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val parDir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val docs = corpus(30)
    Checkpoint.run(docs, seqDir, nBuckets = 8)
    // crash injected in one of the concurrently-processed buckets
    intercept[Exception] {
      Checkpoint.run(docs, parDir, nBuckets = 8, failAtBucket = 5, parallelism = 3)
    }
    assert(!Checkpoint.committedBuckets(spark, parDir).contains(5))
    // every started bucket was awaited: no writer left a _temporary behind
    val leftovers = java.nio.file.Files.walk(java.nio.file.Paths.get(parDir))
    try assert(!leftovers.anyMatch(_.getFileName.toString == "_temporary"))
    finally leftovers.close()
    // resume in parallel completes the rest
    Checkpoint.run(docs, parDir, nBuckets = 8, parallelism = 3)
    assert(Checkpoint.committedBuckets(spark, parDir) == (0 until 8).toSet)
    val a = spark.read.parquet((0 until 8).map(b => s"$seqDir/bucket=$b"): _*)
    val b = spark.read.parquet((0 until 8).map(b => s"$parDir/bucket=$b"): _*)
    assert(a.count() == b.count())
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
    // manifests agree bucket-for-bucket
    assert(Checkpoint.readManifests(spark, seqDir) == Checkpoint.readManifests(spark, parDir))
  }

  test("bucket count derives from the layout (a wrong caller count cannot drop data)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val corpusDir = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    val docs = corpus(40)
    graft.io.TableIO.writeDocs(docs, corpusDir, graft.io.TableIO.Cfg(nBuckets = 16))
    // caller claims 4 buckets; the layout has 16 — all docs must still be processed
    val manifests = Checkpoint.runPartitioned(spark, corpusDir, dir,
      graft.io.TableIO.Cfg(nBuckets = 4))
    assert(manifests.map(_.nDocs).sum == 40)
    assert(Checkpoint.detectBuckets(spark, corpusDir).exists(_ > 4))
    // downstream contract: the output root reads as ONE partitioned table
    // (_errors/_commits are underscore-ignored by partition discovery)
    val all = spark.read.parquet(dir)
    assert(all.columns.contains("bucket"))
    assert(all.select("doc_id").distinct().count() == 40)
  }

  test("simhash pair join caps degenerate buckets (no quadratic blowup)") {
    val ss = spark; import ss.implicits._
    // 200 identical docs: every (blk, key) bucket holds all 200 members —
    // the boilerplate-corpus degenerate case. Capped => the over-cap
    // buckets are dropped (0 pairs), NOT n^2/2 = 19,900.
    val same = (0 until 200).map(i => (f"d$i%04d", "boilerplate page " * 10))
      .toDF("doc_id", "text")
    assert(graft.ops.Dedup.simhashPairs(same, maxDist = 3, maxBucket = 50).count() == 0)
    // under the cap the full duplicate clique is still emitted
    val few = (0 until 10).map(i => (f"d$i%04d", "boilerplate page " * 10))
      .toDF("doc_id", "text")
    assert(graft.ops.Dedup.simhashPairs(few, maxDist = 3, maxBucket = 50).count() == 45)
    // capped in-row expansion == classic self-join when no bucket overflows
    val mixed = (0 until 60)
      .map(i => (f"m$i%04d", s"doc $i body ${"x " * (i % 7)} tail ${i % 5}"))
      .toDF("doc_id", "text")
    val capped = graft.ops.Dedup.simhashPairs(mixed, maxDist = 16, maxBucket = 1000)
    val uncapped = graft.ops.Dedup.simhashPairs(mixed, maxDist = 16, maxBucket = Int.MaxValue)
    assert(capped.count() == uncapped.count())
    assert(capped.except(uncapped).isEmpty && uncapped.except(capped).isEmpty)
    // duplicate doc_id rows must not self-pair (uncapped strict-< parity)
    val dup = Seq(("d1", "same text here"), ("d1", "same text here"),
      ("d2", "same text here")).toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.simhashPairs(dup, maxDist = 3, maxBucket = 50)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(pairs.toSet == Set(("d1", "d2")))
  }

  test("manifest metrics: observe-on-write == read-back, bucket by bucket") {
    val docs = corpus(60)
    val dirA = java.nio.file.Files.createTempDirectory("graft_mm_obs").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_mm_rb").toString
    // 12 buckets over 60 docs -> realistic mix incl. small buckets
    val a = Checkpoint.run(docs, dirA, nBuckets = 12, metricsMode = Checkpoint.MetricsObserve)
    val c = Checkpoint.run(docs, dirB, nBuckets = 12, metricsMode = Checkpoint.MetricsReadBack)
    assert(a.sortBy(_.bucket) == c.sortBy(_.bucket))
    assert(a.map(_.nDocs).sum == 60)
    // and the durable manifests round-trip identically in both modes
    assert(Checkpoint.readManifests(spark, dirA).sortBy(_.bucket) ==
      Checkpoint.readManifests(spark, dirB).sortBy(_.bucket))
  }

  test("simhash recall contract: exact at maxDist <= nBlocks-1, partial beyond") {
    val ss = spark; import ss.implicits._
    import org.apache.spark.sql.functions.col
    val docs = (0 until 80).map { i =>
      (f"d$i%03d", s"document $i ${"alpha " * (i % 11)}beta ${i % 3} ${"gamma " * (i % 5)}end")
    }.toDF("doc_id", "text")
    // ground truth: brute-force hamming join over the same signatures
    val sims = docs
      .select(col("doc_id"), graft.functions.GraftColumns.simhash64(col("text")).as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    def brute(maxDist: Int): Set[(String, String)] = (for {
      (a, ha) <- sims; (b, hb) <- sims
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= maxDist
    } yield (a, b)).toSet
    def got(maxDist: Int, nBlocks: Int): Set[(String, String)] =
      graft.ops.Dedup.simhashPairs(docs, maxDist = maxDist,
          maxBucket = Int.MaxValue, nBlocks = nBlocks)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // guaranteed region (pigeonhole): dist <= nBlocks - 1 -> full recall
    assert(got(3, 4) == brute(3))
    // beyond the guarantee the bucket stage is partial-recall candidate
    // generation: emitted pairs are all true (exact popcount verify) but
    // some true pairs are missed — the documented x_simhash_pairs regime
    val truth16 = brute(16)
    val heuristic16 = got(16, 4)
    assert(heuristic16.subsetOf(truth16))
    assert(truth16.nonEmpty)
    // raising nBlocks to maxDist + 1 restores the pigeonhole guarantee
    assert(got(16, 17) == truth16)
  }

  test("simhash suppressed-bucket drop is observable, zeros when uncapped") {
    val ss = spark; import ss.implicits._
    val same = (0 until 30).map(i => (f"s$i%03d", "identical boilerplate " * 5))
      .toDF("doc_id", "text")
    // identical docs -> one degenerate bucket of 30 per block; cap at 10.
    // The result is entirely empty, so under default AQE the metrics node
    // is pruned with the plan (documented caveat) — exclude
    // AQEPropagateEmptyRelation around the action for delivery.
    val ruleKey = "spark.sql.adaptive.optimizer.excludedRules"
    spark.conf.set(ruleKey,
      "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
    try {
      val obs = org.apache.spark.sql.Observation("simhash_suppressed")
      val out = graft.ops.Dedup.simhashPairs(same, maxDist = 3, maxBucket = 10,
        suppressed = Some(obs))
      assert(out.count() == 0)
      assert(obs.get("suppressed_buckets").asInstanceOf[Long] == 4L)
      assert(obs.get("suppressed_rows").asInstanceOf[Long] == 120L)
    } finally spark.conf.unset(ruleKey)
    // default AQE, empty result: the observation resolves to an EMPTY map
    // (metrics node pruned) — never to false zeros
    val obsPruned = org.apache.spark.sql.Observation("simhash_suppressed_pruned")
    val outPruned = graft.ops.Dedup.simhashPairs(same, maxDist = 3, maxBucket = 10,
      suppressed = Some(obsPruned))
    assert(outPruned.count() == 0)
    assert(obsPruned.get.isEmpty)
    // uncapped mode resolves the caller's Observation with zeros (result
    // non-empty -> no pruning, no conf needed)
    val obs0 = org.apache.spark.sql.Observation("simhash_suppressed_zero")
    val out0 = graft.ops.Dedup.simhashPairs(same, maxDist = 3, maxBucket = Int.MaxValue,
      suppressed = Some(obs0))
    assert(out0.count() == 435) // C(30, 2): the full exact-dup clique
    assert(obs0.get("suppressed_buckets").asInstanceOf[Long] == 0L)
    assert(obs0.get("suppressed_rows").asInstanceOf[Long] == 0L)
  }

  test("lsh suppressed-bucket drop is observable, zeros when uncapped") {
    val ss = spark; import ss.implicits._
    // identical docs -> identical signatures in every band -> one
    // degenerate (band, sig) bucket of 12 per band; cap at 5
    val same = (0 until 12).map(i => (f"l$i%03d", "identical lsh boilerplate body"))
      .toDF("doc_id", "text")
    val sigs = graft.ops.Dedup.minhashSignatures(same, bands = 4, shingleK = 5)
    val ruleKey = "spark.sql.adaptive.optimizer.excludedRules"
    spark.conf.set(ruleKey,
      "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
    try {
      val obs = org.apache.spark.sql.Observation("lsh_suppressed")
      val out = graft.ops.Dedup.lshCandidatePairs(sigs, maxBucket = 5,
        suppressed = Some(obs))
      assert(out.count() == 0)
      assert(obs.get("suppressed_buckets").asInstanceOf[Long] == 4L)
      assert(obs.get("suppressed_rows").asInstanceOf[Long] == 48L)
    } finally spark.conf.unset(ruleKey)
    // default AQE, empty result: the observation resolves to an EMPTY map
    // (metrics node pruned with the plan) — never to false zeros
    val obsPruned = org.apache.spark.sql.Observation("lsh_suppressed_pruned")
    val outPruned = graft.ops.Dedup.lshCandidatePairs(sigs, maxBucket = 5,
      suppressed = Some(obsPruned))
    assert(outPruned.count() == 0)
    assert(obsPruned.get.isEmpty)
    val obs0 = org.apache.spark.sql.Observation("lsh_suppressed_zero")
    val out0 = graft.ops.Dedup.lshCandidatePairs(sigs, suppressed = Some(obs0))
    assert(out0.count() == 66) // C(12, 2)
    assert(obs0.get("suppressed_buckets").asInstanceOf[Long] == 0L)
    assert(obs0.get("suppressed_rows").asInstanceOf[Long] == 0L)
  }

  test("hot-key prefilter == window shape: pairs and suppression metrics identical") {
    val ss = spark; import ss.implicits._
    // hot clique over the cap + a warm family under it + uniques: the
    // result is non-empty (no AQE metrics pruning) and suppression is
    // non-zero, so BOTH sides of the contract are exercised
    val docs = ((0 until 40).map(i => (f"h$i%03d", "hot boilerplate body text " * 4)) ++
      (0 until 6).map(i => (f"w$i%03d", s"warm family base text with shared words u$i")) ++
      (0 until 20).map(i => (f"u$i%03d", s"unique text $i with words ${i * 31} ${i * 77} ${i * 13}")))
      .toDF("doc_id", "text")

    val obsW = org.apache.spark.sql.Observation()
    val obsP = org.apache.spark.sql.Observation()
    val viaWindow = graft.ops.Dedup.simhashPairs(docs, maxDist = 16, maxBucket = 10,
        suppressed = Some(obsW))
      .as[(String, String, Int)].collect().toSet
    val viaPrefilter = graft.ops.Dedup.simhashPairs(docs, maxDist = 16, maxBucket = 10,
        suppressed = Some(obsP), hotKeyPrefilter = true)
      .as[(String, String, Int)].collect().toSet
    assert(viaPrefilter == viaWindow && viaWindow.nonEmpty)
    assert(obsP.get == obsW.get &&
      obsW.get("suppressed_buckets").asInstanceOf[Long] > 0L)

    val sigs = graft.ops.Dedup.minhashSignatures(docs, bands = 4, shingleK = 5)
    val obsLW = org.apache.spark.sql.Observation()
    val obsLP = org.apache.spark.sql.Observation()
    val lshW = graft.ops.Dedup.lshCandidatePairs(sigs, maxBucket = 10,
        suppressed = Some(obsLW))
      .as[(String, String)].collect().toSet
    val lshP = graft.ops.Dedup.lshCandidatePairs(sigs, maxBucket = 10,
        suppressed = Some(obsLP), hotKeyPrefilter = true)
      .as[(String, String)].collect().toSet
    assert(lshP == lshW && lshW.nonEmpty)
    assert(obsLP.get == obsLW.get &&
      obsLW.get("suppressed_buckets").asInstanceOf[Long] > 0L)
  }

  test("dedup ops are partitioning-independent (1 vs 7 partitions)") {
    val ss = spark; import ss.implicits._
    // shuffle-order independence: the same corpus at different input
    // partitionings must produce identical signatures and pairs — the
    // invariant that makes results reproducible on any cluster layout
    val docs = (0 until 120).map { i =>
      (f"d$i%03d", s"doc $i body ${"tok " * (i % 9)} tail ${i % 4} shared suffix")
    }.toDF("doc_id", "text")
    val a = docs.repartition(1)
    val b = docs.repartition(7, org.apache.spark.sql.functions.col("doc_id"))
    val sigA = graft.ops.Dedup.minhashSignatures(a, bands = 4, shingleK = 5)
    val sigB = graft.ops.Dedup.minhashSignatures(b, bands = 4, shingleK = 5)
    assert(sigA.except(sigB).isEmpty && sigB.except(sigA).isEmpty)
    val pairsA = graft.ops.Dedup.lshCandidatePairs(sigA, maxBucket = 50)
    val pairsB = graft.ops.Dedup.lshCandidatePairs(sigB, maxBucket = 50)
    assert(pairsA.except(pairsB).isEmpty && pairsB.except(pairsA).isEmpty)
    val simA = graft.ops.Dedup.simhashPairs(a, maxDist = 16)
    val simB = graft.ops.Dedup.simhashPairs(b, maxDist = 16)
    assert(simA.except(simB).isEmpty && simB.except(simA).isEmpty)
  }

  test("sortedDistinct: == distinct on atomic keys; floating and nested columns fail fast") {
    val ss = spark; import ss.implicits._
    val pairs = Seq(("a", 1L), ("b", 2L), ("a", 1L), (null, 3L), (null, 3L)).toDF("k", "v")
    val got = graft.ops.Dedup.sortedDistinct(pairs).as[(String, Long)].collect()
    val want = pairs.distinct().as[(String, Long)].collect()
    assert(got.length == want.length && got.toSet == want.toSet)
    val rejected = Seq(
      Seq((1L, 0.5)).toDF("id", "score"),
      Seq((1L, 0.5f)).toDF("id", "score"),
      Seq((1L, Seq(1, 2))).toDF("id", "xs"),
      Seq((1L, Map("a" -> 1))).toDF("id", "m"),
      Seq((1L, (1, "x"))).toDF("id", "s"))
    rejected.foreach { df =>
      val e = intercept[IllegalArgumentException](graft.ops.Dedup.sortedDistinct(df))
      assert(e.getMessage.contains(df.columns(1)), e.getMessage)
    }
  }

  test("minhash hash-family seam: full-overlap recall is family-independent") {
    val ss = spark; import ss.implicits._
    // planted exact clones (Jaccard 1.0: identical shingle SETS) must be
    // candidates under BOTH families — identical sets give identical
    // per-band minima whatever the hash; borderline pairs may differ
    // between families like between two permutation seeds
    val base = (0 until 80).map { i =>
      (f"d$i%03d", s"unique body $i ${"filler " * (i % 7)} end $i")
    }
    val clones = Seq(("c000", "cloned text shared verbatim by the pair"),
      ("c001", "cloned text shared verbatim by the pair"),
      ("c002", "another cloned body, also duplicated exactly"),
      ("c003", "another cloned body, also duplicated exactly"))
    val docs = (base ++ clones).toDF("doc_id", "text")
    val expected = Set(("c000", "c001"), ("c002", "c003"))
    for (family <- Seq("md5", "xxhash64")) {
      val sigs = graft.ops.Dedup.minhashSignatures(docs, bands = 4, shingleK = 5,
        hashFamily = family)
      // md5 sigs are hex strings; xxhash64 sigs are 8-byte longs
      val sigType = sigs.schema("sig").dataType.typeName
      assert(if (family == "md5") sigType == "string" else sigType == "long")
      val pairs = graft.ops.Dedup.lshCandidatePairs(sigs, maxBucket = 50)
        .select("doc_a", "doc_b").as[(String, String)].collect().toSet
      assert(expected.subsetOf(pairs), s"family=$family missed planted clones")
      // partitioning independence holds for the production family too
      if (family == "xxhash64") {
        val sigs1 = graft.ops.Dedup.minhashSignatures(docs.repartition(7),
          bands = 4, shingleK = 5, hashFamily = family)
        assert(sigs.except(sigs1).isEmpty && sigs1.except(sigs).isEmpty)
        // spread=false (the cluster-scale no-repartition path) is
        // value-identical
        val sigs2 = graft.ops.Dedup.minhashSignatures(docs.repartition(7),
          bands = 4, shingleK = 5, hashFamily = family, spread = false)
        assert(sigs.except(sigs2).isEmpty && sigs2.except(sigs).isEmpty)
      }
    }
    intercept[IllegalArgumentException] {
      graft.ops.Dedup.minhashSignatures(docs, hashFamily = "sha1")
    }
  }

  test("media plumbing: stub decode yields typed metadata for every figure") {
    val ss = spark; import ss.implicits._
    val docs = corpus(20)
    val media = graft.multimodal.Media.syntheticMedia(spark, docs)
    val meta = graft.multimodal.Media.extractMeta(media).cache()
    assert(meta.filter(!_.ok).count() == 0)
    assert(meta.filter(m => m.width < 64 || m.height < 64).count() == 0)
    val frames = graft.multimodal.Media.frameSamplePlan(meta.toDF())
    val videos = meta.filter(_.media_kind == "video").count()
    if (videos > 0) assert(frames.count() >= videos)
    meta.unpersist()
  }

  test("rareTrigramScores: duplicate ids aggregate, null text drops, ratio <= 1") {
    val ss = spark; import ss.implicits._
    // duplicate doc_id with disjoint all-rare trigrams: ONE row whose
    // n_tri covers BOTH texts (a per-row n_tri would make ratio 2.0);
    // null text contributes no trigrams and no row (explode-of-null
    // semantics, matching the DuckDB oracle's unnest)
    val docs = Seq(("d", "abcde"), ("d", "fghij"), ("n", null: String),
      ("u", "abcab")).toDF("doc_id", "text")
    val got = graft.ops.TextAnalytics.rareTrigramScores(docs, rareThreshold = 1)
      .orderBy("doc_id")
      .as[(String, Long, Long, Double)].collect().toVector
    // d: 3+3=6 trigram occurrences; "abc" occurs in BOTH d and u so its
    // corpus cnt=2 > threshold -> not rare; the other 5 are. u: bca/cab
    // rare, abc not. n: absent entirely.
    assert(got == Vector(("d", 6L, 5L, 0.8333), ("u", 3L, 2L, 0.6667)))
    assert(got.forall { case (_, nTri, nRare, ratio) => nRare <= nTri && ratio <= 1.0 })
  }
}
