package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for corpus-scale pipelines.
  *
  * Scale notes (100 TB): exact dedup is one hash-shuffle on a 32-byte key;
  * MinHash-LSH shuffles (band, sig) pairs — docs ~ O(bands) rows each —
  * then a bucket self-join that AQE handles (skewed buckets split at
  * runtime). Shingle explosion is map-side only; signatures are computed
  * with a single partial_agg-friendly groupBy(doc, band).min(sig).
  */
object Dedup {

  /** The shared suppression-metric contract for capped pair generators
    * ([[lshCandidatePairs]], [[simhashPairs]],
    * [[graft.ops.Similarity.embeddingNearDups]],
    * [[graft.streaming.NearDupStream.corpusIndex]]): `suppressed_buckets`
    * / `suppressed_rows` ride the WINDOW-COUNTED rows (each row annotated
    * with its bucket size in `countCol`) via observe() — per-row
    * contributions of 1 to suppressed_rows and 1/bucket_n to
    * suppressed_buckets (sums to exactly 1 per suppressed bucket; double
    * rounding error ~n*eps, orders of magnitude below round()'s 0.5 at
    * any physical bucket size). coalesce because sum over ZERO rows is
    * SQL NULL and the contract is "zeros mean nothing suppressed". */
  private[graft] def observeSuppressedWindow(counted: DataFrame, countCol: String,
      maxBucket: Int, o: org.apache.spark.sql.Observation): DataFrame =
    counted.observe(o,
      coalesce(round(sum(when(col(countCol) > maxBucket,
        lit(1.0) / col(countCol)).otherwise(0.0))), lit(0.0))
        .cast("long").as("suppressed_buckets"),
      coalesce(sum(when(col(countCol) > maxBucket, 1L).otherwise(0L)), lit(0L))
        .as("suppressed_rows"))

  /** SIZE-BEFORE-COLLECT capped bucket materialization, the shape every
    * capped pair generator shares: one shuffle on the bucket keys, a
    * windowed `count(*) over (partition by keys)` annotates every row
    * with its bucket size, oversized buckets are dropped BEFORE any
    * member list exists, and only then are the surviving buckets' member
    * lists collected — the collect_list buffer is bounded by maxBucket no
    * matter how degenerate the corpus is, and the final aggregation
    * reuses the window's partitioning (no second exchange).
    *
    * Why not the direct collect_list-then-filter shape: it materializes
    * the ENTIRE hot bucket in one aggregation buffer before the size
    * filter can drop it. A single group's buffer cannot spill — at 10^9
    * copies of one text (the SkewBench hot band at corpus scale) that is
    * an OOM, not a slowdown. The window's per-group buffer, by contrast,
    * is an ExternalAppendOnlyUnsafeRowArray: a hot bucket SPILLS TO DISK
    * instead of dying. Why a window and not a count-aggregate + semi-join
    * back: column pruning makes the two branches' exchanges non-identical
    * so ReuseExchange cannot fire, and the whole upstream derivation
    * (e.g. the minhash signature pass) executes TWICE — plan-verified,
    * and measured 65% slower than the window shape on q_lsh_pairs.
    * Surfaced by the round-5 adversarial-skew rehearsal; A/B'd in BenchAB
    * (capped_countfirst_vs_collectfirst).
    *
    * Suppression metrics ride the windowed rows
    * ([[observeSuppressedWindow]]).
    *
    * `hotKeyPrefilter` (opt-in) changes WHERE the hot mass dies. The
    * window shape shuffles every row — including the hot bucket's — and
    * spills it before the size filter drops it: at a 10^9-copy hot key
    * that is ~10^9 rows of exchange + disk paid to learn the bucket is
    * garbage. With the prefilter, a first pass aggregates EXACT
    * per-bucket counts (map-side combine collapses a hot key to one row
    * per map partition — the count shuffle moves bucket summaries, not
    * mass), the over-cap keys come back as a broadcast, and hot rows are
    * dropped MAP-SIDE by an anti-join before any exchange — the hot mass
    * is never shuffled, spilled, or buffered. The price: the upstream
    * derivation (e.g. the minhash signature pass) runs once per pass —
    * twice total — because the count branch and the bucket branch cannot
    * share an exchange (the round-5 ReuseExchange finding). Choose by
    * cost model: cheap codegen derivations (simhash) or hostile skew →
    * prefilter on (SkewBench: the 100k-dup hot band drops from ~7-10 s
    * to the cost of its bucket summaries); expensive derivations on
    * natural corpora → window shape (default; digests/oracles pinned on
    * it). Result content and suppression metrics are IDENTICAL either
    * way (spec-pinned): exact counts mean the prefilter drops exactly
    * the buckets the window filter would. */
  private[graft] def cappedBuckets(rows: DataFrame, keys: Seq[String],
      member: Column, maxBucket: Int,
      suppressed: Option[org.apache.spark.sql.Observation],
      hotKeyPrefilter: Boolean = false): DataFrame = {
    require(!rows.columns.contains("bucket_n"),
      "cappedBuckets input must not carry a 'bucket_n' column (it would be " +
        "silently replaced by the bucket count)")
    val keyCols = keys.map(col)
    if (hotKeyPrefilter) {
      val counts = rows.groupBy(keyCols: _*).agg(count(lit(1)).as("bucket_n"))
      val countsObs = suppressed.fold(counts)(o => counts.observe(o,
        coalesce(sum(when(col("bucket_n") > maxBucket, 1L).otherwise(0L)), lit(0L))
          .as("suppressed_buckets"),
        coalesce(sum(when(col("bucket_n") > maxBucket, col("bucket_n")).otherwise(0L)), lit(0L))
          .as("suppressed_rows")))
      val hot = countsObs.where(col("bucket_n") > maxBucket).select(keyCols: _*)
      rows.join(broadcast(hot), keys, "left_anti")
        .groupBy(keyCols: _*)
        // buffers bounded by maxBucket: every surviving bucket is <= cap
        .agg(sort_array(collect_list(member)).as("members"))
        .where(size(col("members")) >= 2)
    } else {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCols: _*)
      val counted = rows.withColumn("bucket_n", count(lit(1)).over(w))
      val countedObs = suppressed.fold(counted)(
        observeSuppressedWindow(counted, "bucket_n", maxBucket, _))
      countedObs
        .where(col("bucket_n") >= 2 && col("bucket_n") <= maxBucket)
        .groupBy(keyCols: _*)
        .agg(sort_array(collect_list(member)).as("members"))
    }
  }

  /** DISTINCT specialized for the candidate-pair streams: exchange on
    * all columns, sort within partitions, drop consecutive duplicates in
    * one linear scan. The planner's `distinct()` is a two-phase hash
    * aggregate whose group count here ~equals the row count (candidate
    * pairs repeat at most `bands`/`nBlocks` times and only across
    * bands), so the partial aggregate collapses almost nothing while
    * both phases build row-count-sized hash maps — measured 2.9× slower
    * than this shape at a 50 M-pair corpus (EmbedProbe2:
    * hash-distinct 56 s vs 19.6 s; identical counts), and the two are
    * identical at gate tiers. Spill-safe: the sort is ExternalSorter.
    * Row equality is Spark's value-based [[org.apache.spark.sql.Row]]
    * equals (null-safe; binary-aware), matching distinct's grouping for
    * every atomic column type the pair streams carry. Floating columns
    * are rejected (distinct normalizes NaN and -0.0, Row equality does
    * not), and so are arrays, maps and structs. */
  private[graft] def sortedDistinct(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    val unsupported = df.schema.fields.filterNot(_.dataType match {
      case BooleanType | ByteType | ShortType | IntegerType | LongType | StringType |
          BinaryType | DateType | TimestampType | TimestampNTZType | _: DecimalType => true
      case _ => false
    })
    require(unsupported.isEmpty, "sortedDistinct needs non-floating atomic columns, got " +
      unsupported.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
    val cols = df.columns.map(col).toIndexedSeq
    val sorted = df.repartition(cols: _*).sortWithinPartitions(cols: _*)
    val enc = org.apache.spark.sql.Encoders.row(sorted.schema)
    sorted.mapPartitions { it =>
      var last: org.apache.spark.sql.Row = null
      it.filter { r =>
        val keep = last == null || r != last
        if (keep) last = r
        keep
      }
    }(enc)
  }

  /** Uncapped modes drop nothing: resolve the caller's Observation with
    * zeros so it always delivers regardless of the maxBucket setting. */
  private[ops] def observeZeros(df: DataFrame,
      o: org.apache.spark.sql.Observation): DataFrame =
    df.observe(o,
      coalesce(sum(lit(0L)), lit(0L)).as("suppressed_buckets"),
      coalesce(sum(lit(0L)), lit(0L)).as("suppressed_rows"))

  /** Exact duplicate groups: md5 text key -> representative min(doc_id).
    * (analog of the phash dedup at kind=exact; groupBy is partial-agg.) */
  def exactDupGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("fp_md5"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("representative"))
      .where(col("n_copies") > 1)

  /** Character k-shingles of the text, as an array column (map-side). */
  def shingles(text: Column, k: Int): Column =
    when(length(text) < k, array(text)).otherwise(
      transform(sequence(lit(1), length(text) - (k - 1)), i => substring(text, i, lit(k))))

  /** Word n-grams. */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = split(trim(text), "\\s+")
    when(size(toks) < n, array(concat_ws(" ", toks))).otherwise(
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** MinHash band signatures: one row per (doc, band), sig = min over
    * shingles of hash(band || shingle).
    *
    * `hashFamily` seam:
    *  - `"md5"` (default): DuckDB reproduces signatures bit-for-bit, so
    *    the oracle gate can hash-match this operator end-to-end. The
    *    price at corpus scale: a crypto hash per (shingle x band) and a
    *    32-char hex sig (~36 bytes) in every shuffled row.
    *  - `"xxhash64"`: the production family — Spark's codegen 64-bit
    *    non-crypto hash; the sig is an 8-byte long, so the one shuffle
    *    this path has (docs x bands rows) carries ~1/4 the sig bytes.
    *    MinHash only needs a uniform hash, not a cryptographic one;
    *    a 64-bit min collision merely perturbs which shingle wins,
    *    which is the estimator's normal behavior.
    * Pairs with Jaccard 1.0 (identical shingle SETS) get identical
    * signatures under EITHER family — full-overlap recall is
    * family-independent (spec-pinned); borderline pairs differ between
    * families exactly as between two random permutation seeds.
    * (Exact dedup stays md5: 64-bit birthday collisions become real at
    * 10^9+ docs and there a collision is a WRONG exact-dup group, not an
    * estimator nudge.)
    *
    * Entirely map-side: min is duplicate-insensitive (multiset min ==
    * set min), so no distinct/shuffle is needed — since r7 the per-band
    * minima fold in ONE codegen kernel call per row
    * ([[graft.functions.HashKernels]]): no exploded shingle×band rows,
    * no hash-aggregate, zero derivation exchanges. At 100 TB this stage
    * is a pure scan; the only data shuffle in the dedup path is the
    * band-bucket join of the docs × bands signature rows.
    *
    * `spread` (default true) repartitions the input before the hashing
    * pass — needed for the small-file gate inputs (a 600 KB parquet is
    * ONE split, which would serialize all the hashing on one core), but
    * at cluster scale it is a full corpus-TEXT exchange paid for
    * nothing: a well-partitioned source should pass `spread = false`.
    * Value-neutral either way (partitioning independence is
    * spec-pinned). */
  def minhashSignatures(docs: DataFrame, bands: Int = 8, shingleK: Int = 5,
      idCol: String = "doc_id", textCol: String = "text",
      hashFamily: String = "md5", spread: Boolean = true): DataFrame = {
    // HARD OPERATING LIMIT: "xxhash64" is only used up to ~5e9 distinct
    // shingle windows (64-bit birthday bound: expected colliding pairs
    // stay below one); beyond that envelope pass "md5".
    require(hashFamily == "md5" || hashFamily == "xxhash64",
      s"hashFamily must be 'md5' or 'xxhash64', got '$hashFamily'")
    // compute-heavy map stage (docs x shingles x bands hash calls): spread
    // it across the cluster even when the input is a few small files —
    // a 600 KB parquet is ONE split, which would serialize all the hashing
    val spreadDf = if (spread)
      docs.repartition(docs.sparkSession.sparkContext.defaultParallelism * 2, col(idCol))
    else docs
    // ONE in-row pass per doc ([[graft.functions.HashKernels]] codegen
    // kernel: per-band minima over the k-code-point windows, hashed
    // straight from the UTF-8 bytes) replacing the former
    // explode(shingles) × explode(bands) → groupBy(doc, band).min(...)
    // shape: the exploded form materialized ~bands × corpus-chars rows
    // through an UnsafeRow + hash-agg probe + concat/substring
    // allocation each, all to compute minima that fold in-row. Same
    // hash calls, zero intermediate rows, no aggregation exchange at
    // all (the old groupBy moved docs × bands rows). Bit-equivalence
    // with the relational form is pinned in FunctionsSpec and by the
    // oracle gates (q_minhash_sig / q_lsh_pairs hash-match md5 sigs;
    // x_minhash_xx64 digest pins the production family at two tiers).
    spreadDf
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.GraftColumns.minhashSigs(
          col(textCol), bands, shingleK, hashFamily)).as(Seq("band", "sig")))
  }

  /** LSH candidate pairs: docs sharing any band signature. Self-join on
    * (band, sig) — the classic band-bucket join; AQE splits hot buckets.
    *
    * maxBucket suppresses degenerate buckets (a bucket of n docs emits
    * n^2/2 pairs; a boilerplate-shingle bucket at corpus scale would emit
    * trillions). Standard near-dup practice: such signatures carry no
    * discriminative information, like stopwords. Int.MaxValue disables.
    * The drop is observable exactly like [[simhashPairs]]: pass an
    * Observation as `suppressed` and read `suppressed_buckets` /
    * `suppressed_rows` after the first action (same AQE empty-result
    * caveat as there: an EMPTY map means "metrics not delivered",
    * zeros mean "nothing suppressed"). */
  def lshCandidatePairs(signatures: DataFrame, maxBucket: Int = Int.MaxValue,
      suppressed: Option[org.apache.spark.sql.Observation] = None,
      hotKeyPrefilter: Boolean = false): DataFrame = {
    if (maxBucket == Int.MaxValue) {
      // uncapped: classic band-bucket self-join (AQE splits hot buckets)
      val a = signatures.as("a")
      val b = signatures.as("b")
      val joined = a.join(b, col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      suppressed.fold(joined)(observeZeros(joined, _))
    } else {
      // capped: count-first bucket materialization (see [[cappedBuckets]]
      // — collect_list buffers bounded by maxBucket, hot buckets dropped
      // before any list exists), pairs expand in-row (<= maxBucket^2) via
      // the pair_explode generator — no self-join (ReuseExchange shuffles
      // the signatures once) and no per-row duplication of the members
      // array (the old posexplode + explode(slice) shape materialized
      // O(m^2) array elements per bucket; [[graft.functions.PairExplodeExpr]]).
      val buckets = cappedBuckets(signatures, Seq("band", "sig"),
        col("doc_id"), maxBucket, suppressed, hotKeyPrefilter)
      sortedDistinct(buckets
        .select(graft.functions.GraftColumns.pairExplode(col("members"))
          .as(Seq("doc_a", "doc_b")))
        // duplicate ids in the input would otherwise pair with themselves
        // (the uncapped join's strict < excludes them)
        .where(col("doc_a") < col("doc_b")))
    }
  }

  /** Exact n-gram Jaccard for candidate pairs (verification stage after
    * LSH): |A ∩ B| / |A ∪ B| over word n-gram sets. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sets = docs.select(col(idCol).as("doc_id"),
      array_distinct(wordNgrams(col(textCol), n)).as("ngrams"))
    pairs
      .join(sets.withColumnRenamed("ngrams", "ngrams_a"), pairs("doc_a") === sets("doc_id"))
      .drop("doc_id")
      .join(sets.withColumnRenamed("ngrams", "ngrams_b"), pairs("doc_b") === sets("doc_id"))
      .drop("doc_id")
      // intersect_count == size(array_intersect(...)) without building
      // the intersection array (kernel — see IntersectCountImpl; dedup
      // and null-element semantics match, FunctionsSpec differential)
      .withColumn("inter",
        graft.functions.GraftColumns.intersectCount(col("ngrams_a"), col("ngrams_b")))
      // |A ∪ B| = |A| + |B| - |A ∩ B| exactly (both sides are
      // array_distinct sets), so the union ARRAY never needs building —
      // array_union allocated a hash set + output array per pair, the
      // per-candidate hot path of the LSH→Jaccard verifier
      .withColumn("uni", size(col("ngrams_a")) + size(col("ngrams_b")) - col("inter"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / greatest(col("uni"), lit(1)), 4).as("jaccard"))
  }

  /** 64-bit SimHash over whitespace tokens: per-bit majority of token
    * hashes. In-row loop over the token array (bounded by doc length) —
    * a pure Scala function applied per row, no shuffle. */
  def simhash64(tokens: Seq[String]): Long = {
    val acc = new Array[Int](64)
    tokens.foreach { t =>
      // deterministic 64-bit hash (FNV-1a), independent of JVM hashCode
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < t.length) { h ^= t.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1; b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** (doc_id, simhash, blk, key) block rows for SimHash bucketing —
    * pure codegen expressions end-to-end (simhash64 in-row, bit-slice
    * block keys), so this derivation is STREAMING-SAFE: it runs
    * identically on a batch DataFrame and inside a Structured Streaming
    * micro-batch (no aggregation, no state). 64 bits split as evenly as
    * possible; the first (64 % nBlocks) blocks are one bit wider
    * (nBlocks=4 gives the classic 4x16 layout). Null text hashes to 0L
    * (null keys would silently drop rows from the equi-join instead). */
  def simhashBlocks(docs: DataFrame, nBlocks: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(nBlocks >= 1 && nBlocks <= 64, s"nBlocks must be in [1, 64], got $nBlocks")
    val withSim = docs.select(col(idCol).as("doc_id"),
      coalesce(graft.functions.GraftColumns.simhash64(col(textCol)), lit(0L)).as("simhash"))
    val base = 64 / nBlocks
    val rem = 64 % nBlocks
    val widths = (0 until nBlocks).map(b => base + (if (b < rem) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    val keyCols = (0 until nBlocks).map { b =>
      val mask = if (widths(b) >= 64) -1L else (1L << widths(b)) - 1L
      struct(lit(b).as("blk"),
        shiftrightunsigned(col("simhash"), starts(b)).bitwiseAND(lit(mask)).as("key"))
    }
    withSim
      .select(col("doc_id"), col("simhash"), explode(array(keyCols: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"), col("bk.blk").as("blk"), col("bk.key").as("key"))
  }

  /** SimHash near-dup candidates: block-permutation buckets (the 64-bit
    * signature split into nBlocks near-equal bit blocks; docs sharing any
    * exact block become candidates), then exact popcount check
    * (`bit_count(a ^ b) <= maxDist`).
    *
    * RECALL CONTRACT (pigeonhole): a pair at hamming distance d differs
    * in at most d blocks, so d <= nBlocks - 1 GUARANTEES the pair shares
    * at least one exact block — full recall. For maxDist > nBlocks - 1
    * the bucket stage is PARTIAL-RECALL candidate generation: every
    * emitted pair is still exact-verified (no false positives, ever),
    * but a pair whose differing bits touch all nBlocks blocks is never
    * considered (e.g. the defaults nBlocks=4 / 16-bit blocks with
    * maxDist=16 miss pairs spreading 4+ flipped bits across all blocks
    * — measured on random corpora in SparkE2ESpec, recall stays high
    * because near-dup bit flips cluster, but it is NOT 1.0). Raising
    * nBlocks to maxDist + 1 restores the guarantee at the cost of
    * wider buckets (64 / nBlocks bits of key entropy each — at 17
    * blocks a block key has ~4 bits, so buckets hold ~N/16 docs and
    * maxBucket dominates). Choose: nBlocks = maxDist + 1 when recall
    * must be exact, default 4 when candidates may be heuristic.
    *
    * maxBucket caps degenerate block buckets exactly like
    * [[lshCandidatePairs]]: a boilerplate-dominated corpus collapses to
    * few (blk, key) buckets (e.g. millions of near-empty docs all at
    * simhash 0) and an uncapped self-join there is O(n^2) pairs — AQE
    * splits the skewed bucket's tasks but cannot reduce the pair count.
    * Over-cap buckets carry no discriminative signal and are dropped;
    * Int.MaxValue restores the classic uncapped self-join.
    *
    * Unlike [[lshCandidatePairs]] (opt-in cap), the cap here is ON by
    * default: SimHash has no per-band signature entropy to dilute
    * degenerate keys, so real boilerplate corpora concentrate mass in few
    * (blk, key) buckets — the safe default is suppression, with the
    * uncapped escape hatch explicit. Consequence: an exact-dup clique
    * larger than maxBucket reports NO pairs here (use [[exactDupGroups]]
    * for exact dups — that is its job). The drop is OBSERVABLE: pass an
    * [[org.apache.spark.sql.Observation]] as `suppressed` and read
    * `suppressed_buckets` / `suppressed_rows` after the first action —
    * a silent recall loss in production shows up as a nonzero metric
    * (both are 0 when running uncapped).
    *
    * AQE caveat (measured on Spark 4.1): when the RESULT is entirely
    * empty, AQEPropagateEmptyRelation replaces the plan with an empty
    * relation and the metrics node is dropped — the Observation then
    * resolves to an EMPTY map, never to false zeros. An empty map
    * therefore means "result empty, metrics not delivered" (input empty,
    * all pairs filtered, or everything suppressed — indistinguishable);
    * zeros mean "nothing suppressed". For guaranteed delivery in that
    * edge, exclude the rule around the first action:
    * `spark.conf.set("spark.sql.adaptive.optimizer.excludedRules",
    * "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")`
    * (runtime-settable; SparkE2ESpec pins both behaviors). */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3, maxBucket: Int = 1000,
      idCol: String = "doc_id", textCol: String = "text", nBlocks: Int = 4,
      suppressed: Option[org.apache.spark.sql.Observation] = None,
      hotKeyPrefilter: Boolean = false): DataFrame = {
    val blocks = simhashBlocks(docs, nBlocks, idCol, textCol)
    val pairs =
      if (maxBucket == Int.MaxValue) {
        // uncapped: classic block-bucket self-join (AQE splits hot buckets)
        val a = blocks.as("a"); val b = blocks.as("b")
        a.join(b, col("a.blk") === col("b.blk") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
      } else {
        // capped: count-first bucket materialization ([[cappedBuckets]] —
        // buffers bounded by maxBucket, hot buckets never collected),
        // pairs expand in-row via pair_explode — no self-join, no per-row
        // members-array duplication. sort_array orders struct members by
        // doc_id (first field), so (i, j>i) expansion preserves the
        // doc_a < doc_b contract.
        val buckets = cappedBuckets(blocks, Seq("blk", "key"),
          struct(col("doc_id"), col("simhash")), maxBucket, suppressed, hotKeyPrefilter)
        buckets
          .select(graft.functions.GraftColumns.pairExplode(col("members"))
            .as(Seq("a", "b")))
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"))
          // duplicate doc_id rows would otherwise self-pair (the uncapped
          // join's strict < excludes them)
          .where(col("doc_a") < col("doc_b"))
      }
    // hamming filter BEFORE the cross-band distinct: bit_count is one
    // codegen instruction per row, while distinct is a shuffle of every
    // candidate — filtering first shuffles only the pairs that survive
    // (a deterministic per-row predicate commutes with distinct, and
    // (sim_a, sim_b) ride every copy of a pair identically, so the
    // surviving distinct set is unchanged)
    // distinct stays keyed on (doc_a, doc_b, sim_a, sim_b) — hamming is
    // functionally determined by (sim_a, sim_b), so this 5-col distinct
    // groups exactly like the old pre-filter 4-col one (duplicate-id
    // corpora can carry one (doc_a, doc_b) at several signature combos,
    // and the old shape kept each; value-preserving)
    val result = sortedDistinct(pairs
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .where(col("hamming") <= maxDist))
      .select("doc_a", "doc_b", "hamming")
    if (maxBucket == Int.MaxValue)
      suppressed.fold(result)(observeZeros(result, _))
    else result
  }

  /** Cross-document duplicate-SPAN detection: maximal character spans
    * whose every k-window also occurs in at least one OTHER document —
    * the exact-substring dedup class (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": training corpora carry
    * long verbatim cross-document substrings that full-document and
    * near-dup detectors both miss). Where the suffix-array construction
    * of the paper is a single-machine algorithm, this is the Spark-first
    * re-expression: hash every k-character window (map-side, in-row),
    * mark a window duplicated iff its hash partition spans more than one
    * document (`min(doc) over (partition by hash) != max(doc) over ...`
    * — ONE shuffle, no join, no distinct-count), then merge runs of
    * consecutive duplicated start positions per document into maximal
    * spans (gaps-and-islands: `pos - row_number() over (doc order by
    * pos)` — second shuffle). A span [s, e] means text[s, e+k-1] is
    * covered by cross-document k-windows end to end.
    *
    * Output: (doc_id, span_start, span_end, span_len), positions
    * 1-based character (code point) indices, span_len = span_end -
    * span_start + 1 (>= k by construction). Documents shorter than k
    * have no windows and are absent. Spans are maximal in window STARTS,
    * so two spans separated by a short non-duplicated gap (< k) can
    * overlap in character coverage; a consumer cutting duplicated text
    * takes the per-doc union of [span_start, span_end] intervals (an
    * in-row pass over the handful of spans per doc). Output is LINEAR in corpus size (each position
    * emits at most once) — unlike the pair generators there is no
    * quadratic bucket expansion, so no maxBucket cap is needed; a
    * boilerplate window shared by 10^9 documents makes ONE hot hash
    * partition whose windowed min/max buffer spills
    * (ExternalAppendOnlyUnsafeRowArray), the same spill-not-OOM contract
    * as [[cappedBuckets]]. The final groupBy(doc_id, island) reuses the
    * island window's hash partition on doc_id (subset clustering — no
    * third exchange; plan-asserted in the spec).
    *
    * `hashFamily` seam, same convention as [[minhashSignatures]]:
    * `"md5"` (default) is DuckDB-reproducible for the oracle gate;
    * `"xxhash64"` is the production family (codegen, 8-byte hash in the
    * shuffle instead of a 32-char hex string). A hash collision can mark
    * a window duplicated that is not; at 64 bits the expected number of
    * colliding window PAIRS stays below one up to ~5*10^9 distinct
    * windows (birthday bound), and a rare false window either vanishes
    * (island shorter than any real span) or extends a real span by one —
    * an estimator nudge, not a wrong dup GROUP (contrast
    * [[exactDupGroups]], which stays md5 for exactly that reason).
    *
    * `spread` (default true): same contract as [[minhashSignatures]] —
    * repartition small gate inputs before the hash-per-character map
    * stage; a well-partitioned cluster-scale source passes `false` and
    * saves a full corpus-text exchange (value-neutral, spec-pinned). */
  def duplicateSpans(docs: DataFrame, k: Int = 8,
      idCol: String = "doc_id", textCol: String = "text",
      hashFamily: String = "md5", spread: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // HARD OPERATING LIMIT: "xxhash64" is only used up to ~5e9 distinct
    // k-char windows (64-bit birthday bound: expected colliding pairs
    // stay below one; past it spurious shared windows cut real text in
    // the coverage/cut consumers); beyond that envelope pass "md5".
    require(hashFamily == "md5" || hashFamily == "xxhash64",
      s"hashFamily must be 'md5' or 'xxhash64', got '$hashFamily'")
    // compute-heavy map stage (a hash per character of the corpus):
    // spread small inputs like minhashSignatures does
    val spreadDf = if (spread)
      docs.repartition(docs.sparkSession.sparkContext.defaultParallelism * 2, col(idCol))
    else docs
    // in-row: one hash per k-code-point window, computed by the
    // [[graft.functions.HashKernels]] codegen kernel in a single pass
    // over the text's UTF-8 bytes (docs shorter than k code points are
    // windowless — empty array). Replaces the interpreted
    // `transform(sequence(...), i => h(substring(text, i, k)))` HOF,
    // which paid a lambda interpretation + substring allocation (+ for
    // md5 a concat/hex round trip) per corpus character; hash values
    // are bit-identical per family, so the window/span output is
    // unchanged (oracle-gated q_dup_spans/q_dup_coverage/q_dup_cut).
    val pos = spreadDf
      .select(col(idCol).as("doc_id"),
        posexplode(graft.functions.GraftColumns.windowHashes(
          col(textCol), k, hashFamily)).as(Seq("off", "h")))
      .select(col("doc_id"), (col("off") + 1).cast("long").as("pos"), col("h"))
    import org.apache.spark.sql.expressions.Window
    val byHash = Window.partitionBy("h")
    val dup = pos
      .withColumn("d_min", min("doc_id").over(byHash))
      .withColumn("d_max", max("doc_id").over(byHash))
      .where(col("d_min") =!= col("d_max"))
      .select("doc_id", "pos")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    dup
      .withColumn("island", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("pos").as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"),
        (max(col("pos")) - min(col("pos")) + lit(k)).as("span_len"))
      .select("doc_id", "span_start", "span_end", "span_len")
  }

  /** Per-document duplicated-character coverage from
    * [[duplicateSpans]] output: the character-interval UNION of a doc's
    * (possibly overlapping) spans, as (doc_id, doc_len, dup_chars,
    * dup_ratio) — the quality signal a training-data pipeline filters
    * on ("drop docs that are >x% verbatim copies of other docs").
    *
    * Interval union is the classic gaps-and-islands second form: a span
    * starts a new island iff its start exceeds the running max end of
    * all preceding spans (`max(span_end) over (doc order by start rows
    * unbounded preceding to 1 preceding)`), islands are numbered by a
    * running sum of those flags, and covered chars = sum over islands
    * of (max end - min start + 1). All three windows and both groupBys
    * share the doc_id partition — ONE shuffle of the (small) span set
    * plus the docs join; every document appears (zero spans =>
    * dup_chars 0), so the output is exactly one row per doc. A NULL
    * text counts as empty (doc_len 0, ratio 0.0) — the trio's shared
    * convention: every doc gets defined values ([[duplicateSpans]]
    * gives a NULL text no windows, so it can never carry spans). */
  def duplicateCoverage(docs: DataFrame, spans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val covered = mergedIslands(spans)
      .groupBy(col("doc_id"))
      .agg(sum(col("e") - col("s") + lit(1)).as("dup_chars"))
    docs.select(col(idCol).as("doc_id"),
        length(coalesce(col(textCol), lit(""))).cast("long").as("doc_len"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("doc_len"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        round(coalesce(col("dup_chars"), lit(0L)).cast("double")
          / greatest(col("doc_len"), lit(1L)), 4).as("dup_ratio"))
  }

  /** Merge a doc's (possibly overlapping) [span_start, span_end]
    * intervals into disjoint maximal islands (doc_id, island, s, e) —
    * the classic gaps-and-islands second form: a span starts a new
    * island iff its start exceeds the running max end of all preceding
    * spans. All windows and the groupBy share the doc_id hash partition:
    * ONE shuffle of the span set. */
  private def mergedIslands(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy("doc_id").orderBy("span_start", "span_end")
    val prev = byDoc.rowsBetween(Window.unboundedPreceding, -1)
    val upTo = byDoc.rowsBetween(Window.unboundedPreceding, 0)
    spans
      .withColumn("pmax", max("span_end").over(prev))
      .withColumn("ni",
        when(col("pmax").isNull || col("span_start") > col("pmax"), 1L).otherwise(0L))
      .withColumn("island", sum("ni").over(upTo))
      .groupBy(col("doc_id"), col("island"))
      .agg(min("span_start").as("s"), max("span_end").as("e"))
  }

  /** The span-dedup CONSUMER: remove the duplicated character intervals
    * found by [[duplicateSpans]] from each document's text (the Lee et
    * al. 2022 treatment — cut the verbatim cross-document substrings,
    * keep the rest), as (doc_id, clean_text). Every input doc appears;
    * a doc with no spans keeps its text verbatim, a fully-covered doc
    * becomes the empty string, and a NULL text comes out as "" (the
    * trio's every-doc-defined convention, matching the oracle's
    * coalesce and [[duplicateCoverage]]'s null-as-empty doc_len).
    *
    * Shape: merge spans into disjoint islands ([[mergedIslands]], one
    * shuffle of the small span set), collect each doc's handful of
    * islands into ONE array row (same doc_id partition — no extra
    * exchange), join to docs, then build the cleaned text in a single
    * in-row `aggregate` fold over the sorted islands (kept-prefix +
    * next-uncut-position accumulator; substring/length are code-point
    * based, matching [[duplicateSpans]] positions). The per-doc island
    * count is bounded by doc_len / k, and in practice tiny — the fold
    * is O(islands) substring slices, never per-character row
    * explosion. */
  def cutDuplicateSpans(docs: DataFrame, spans: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val islands = mergedIslands(spans)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("cuts"))
    val text = col("text")
    val cut = aggregate(
      col("cuts"),
      struct(lit("").as("t"), lit(1L).as("p")),
      (acc, c) => struct(
        concat(acc("t"), substring(text, acc("p"), c("s") - acc("p"))).as("t"),
        (c("e") + lit(1L)).as("p")),
      acc => concat(acc("t"), substring(text, acc("p"), length(text))))
    docs.select(col(idCol).as("doc_id"),
        coalesce(col(textCol), lit("")).as("text"))
      .join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("cuts").isNull, text).otherwise(cut).as("clean_text"))
  }
}
