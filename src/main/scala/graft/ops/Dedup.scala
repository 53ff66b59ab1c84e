package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators (driver north star):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash. All shuffle only on
  * content-derived keys (fingerprints, shingles, band buckets) — never on
  * full text — so they scale to 100 TB by partition count alone: candidate
  * generation is O(sum of bucket sizes), not O(n^2).
  */
object Dedup {

  /** Canonical text form shared by all fingerprints: lowercase + squashed
    * whitespace. */
  def normalized(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Exact-dup fingerprint (md5 of normalized text). */
  def fingerprint(text: Column): Column = md5(normalized(text))

  /** Exact dedup: one row per duplicate group — canonical (min) id, member
    * count. `docs` must have columns (id, text). */
  def exactGroups(docs: DataFrame, id: String, text: String): DataFrame =
    docs.groupBy(fingerprint(col(text)).as("fp"))
      .agg(min(col(id)).as("canonical_id"), count(lit(1)).as("n_members"))

  /** Distinct character k-shingles of the normalized text as an array. */
  def shingles(text: Column, k: Int): Column = {
    val norm = normalized(text)
    array_distinct(transform(
      sequence(lit(1), greatest(length(norm) - (k - 1), lit(1))),
      i => substring(norm, i, lit(k))))
  }

  /** Distinct word n-gram shingles — far more selective than character
    * shingles on small-vocabulary text, and the shape SQL oracles can
    * reproduce. */
  def wordShingles(text: Column, n: Int): Column = {
    val words = split(normalized(text), " ")
    array_distinct(transform(
      sequence(lit(1), greatest(size(words) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(words, i, lit(n)))))
  }

  /** Exploded (id, shingle) rows (character k-shingles); drops texts
    * shorter than k. */
  def shingleRows(docs: DataFrame, id: String, text: String, k: Int): DataFrame =
    docs.filter(length(normalized(col(text))) >= k)
      .select(col(id), explode(shingles(col(text), k)).as("shingle"))

  /** Exploded (id, shingle) rows over word n-grams. */
  def wordShingleRows(docs: DataFrame, id: String, text: String,
      n: Int): DataFrame =
    docs.select(col(id), explode(wordShingles(col(text), n)).as("shingle"))

  /** Exploded (id, h) rows: 64-bit-hashed character shingles — joins and
    * aggregations shuffle 8-byte keys instead of strings (hash collisions
    * are negligible and deterministic). */
  def hashedShingleRows(docs: DataFrame, id: String, text: String,
      k: Int): DataFrame =
    shingleRows(docs, id, text, k)
      .select(col(id), xxhash64(col("shingle")).as("h"))

  /** Exact n-gram Jaccard over all pairs sharing at least one shingle.
    * The common-shingle equi-join IS the candidate pruning: pairs with no
    * shared shingle never materialize. Returns (id_1, id_2, jaccard).
    *
    * `maxDf` caps shingle document frequency BEFORE the self-join: one
    * boilerplate n-gram shared by m docs would otherwise fan out to m^2/2
    * candidate rows — the single all-pairs hazard in this family (the
    * MinHash path bounds its buckets the same way, `maxBucketSize`).
    * Shingles above the cap are dropped from the universe entirely (sizes
    * AND intersections), i.e. the measure is stopword-filtered Jaccard —
    * self-consistent, and the standard trade for df-capped similarity. */
  def jaccardPairs(docs: DataFrame, id: String, text: String, n: Int,
      minJaccard: Double, maxDf: Int = 100): DataFrame = {
    // One shuffle on the 8-byte hashed shingle (not the string, not a
    // self-join): group each shingle's doc list, drop hot buckets, and
    // explode the (i < j) pairs map-side. The previous a-join-b shape
    // shuffled the string shingle table twice and recomputed the explode
    // per consumer; this one materializes the bucket exchange once and
    // ReuseExchange shares it between the pair and size consumers.
    // Hashed-shingle identity (like the MinHash verify kernel) makes a
    // cross-doc collision ~2^-64 per shingle pair — negligible and
    // deterministic.
    val sh = {
      import org.apache.spark.sql.graft.{WordShingleHashes, internal}
      docs.select(col(id), explode(internal.column(WordShingleHashes(
        internal.expression(normalized(col(text))), n))).as("__h"))
    }
    // BoundedLongList caps every aggregation buffer (map-side partials
    // included) at maxDf+1 ids and yields NULL for hot shingles — the
    // document list of a boilerplate shingle shared by millions of docs is
    // never materialized, in ONE aggregation pass (no count-then-collect
    // second shuffle, no collect-then-filter memory hazard)
    val buckets = sh.groupBy(col("__h"))
      .agg(boundedIds(id, maxDf).as("__ids"))
      .filter(col("__ids").isNotNull)
    // per-doc universe size under the df cap (df = 1 shingles count too)
    val sizes = buckets.select(explode(col("__ids")).as(id))
      .groupBy(col(id)).agg(count(lit(1)).as("n_sh"))
    val common = buckets.filter(size(col("__ids")) >= 2)
      // spread the qualifying buckets BEFORE the map-side pair explode,
      // which multiplies the rows ~40x inside each task; the exchange
      // ships the pre-explosion bucket rows, the cheapest place to pay it
      .transform(Scale.spread(_, col("__h")))
      .select(explode(sortedPairs(col("__ids"))).as("__p"))
      .select(col("__p.id_1").as("id_1"), col("__p.id_2").as("id_2"))
      // duplicate input ids would make (x,x) pairs; keep the strict guard
      .filter(col("id_1") < col("id_2"))
      .groupBy(col("id_1"), col("id_2")).agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.select(col(id).as("id_1"), col("n_sh").as("n_1")), Seq("id_1"))
      .join(sizes.select(col(id).as("id_2"), col("n_sh").as("n_2")), Seq("id_2"))
      .withColumn("jaccard",
        col("n_common").cast("double") /
          (col("n_1") + col("n_2") - col("n_common")).cast("double"))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_1"), col("id_2"), col("jaccard"))
  }

  // --- MinHash + LSH ---------------------------------------------------
  // The signature is a per-row scalar expression (MinHashSig): one pass
  // over the string computes all permutation minima map-side — no shingle
  // explode, no shuffle. The only shuffles in the whole dedup are the band
  // bucket join and the final distinct, both on derived 8-byte keys.
  //
  // (numHashes, numBands) are caller knobs (defaults 16/4, the
  // oracle-gated geometry). The permutation family is seeded-prefix-stable
  // (MinHashSig derives permutation i from the same mix of i for every
  // numHashes), so widening the signature preserves the existing values.
  // The standard LSH trade: more bands -> higher recall at a given
  // signature width; fewer rows per band -> looser banding threshold
  // (~(1/b)^(1/r)).
  val NumHashes = 16
  val NumBands = 4 // 4 rows per band

  /** MinHash signature per doc as (id, sig ARRAY<LONG>[numHashes]). */
  def minhashSignatures(docs: DataFrame, id: String, text: String,
      k: Int = 5, numHashes: Int = NumHashes): DataFrame = {
    import org.apache.spark.sql.graft.{MinHashSig, internal}
    docs.select(col(id), internal.column(MinHashSig(
      internal.expression(normalized(col(text))), k, numHashes)).as("sig"))
  }

  /** LSH banding: hash each band of numHashes/numBands signature values to
    * a bucket key and emit (band, bucket, id) rows. Docs sharing any band
    * bucket become candidate pairs. `numBands` must divide the signature
    * width. */
  def lshBuckets(sigs: DataFrame, id: String,
      numHashes: Int = NumHashes, numBands: Int = NumBands): DataFrame = {
    require(numHashes % numBands == 0,
      s"numBands ($numBands) must divide numHashes ($numHashes)")
    val bandRows = numHashes / numBands
    val bands = (0 until numBands).map { b =>
      val cols = (b * bandRows until (b + 1) * bandRows)
        .map(i => element_at(col("sig"), i + 1))
      struct(lit(b).as("band"), xxhash64(cols: _*).as("bucket"))
    }
    sigs.select(col(id), explode(array(bands: _*)).as("bb"))
      .select(col(id), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** All (i < j) pairs of a sorted long array, generated inside codegen —
    * the map-side pair explosion shared by the bucketed dedup shapes. */
  private[ops] def sortedPairs(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("id_1"), y.as("id_2")))))

  /** Bounded per-group id list (NULL when the group exceeds `limit`) —
    * see org.apache.spark.sql.graft.BoundedLongList. */
  private[ops] def boundedIds(id: String, limit: Int): Column = {
    import org.apache.spark.sql.graft.{BoundedLongList, internal}
    internal.column(BoundedLongList(internal.expression(col(id)), limit)
      .toAggregateExpression())
  }

  /** Candidate near-dup pairs from LSH buckets (distinct across bands).
    * Oversized buckets (low-information band collisions — the skew that
    * turns banding into an O(m^2) blowup at scale) are dropped: a bucket
    * with more than `maxBucketSize` members carries no near-dup signal,
    * only a shared common substring. One aggregation pass: the bounded
    * aggregate caps every buffer at maxBucketSize+1 ids, and pairs explode
    * map-side from the grouped lists (no sizes join-back, no self-join). */
  def minhashCandidates(docs: DataFrame, id: String, text: String,
      k: Int = 5, maxBucketSize: Int = 64, numHashes: Int = NumHashes,
      numBands: Int = NumBands): DataFrame = {
    val buckets = lshBuckets(
      minhashSignatures(docs, id, text, k, numHashes), id,
      numHashes, numBands)
    buckets.groupBy(col("band"), col("bucket"))
      .agg(boundedIds(id, maxBucketSize).as("__ids"))
      .filter(col("__ids").isNotNull && size(col("__ids")) >= 2)
      .select(explode(sortedPairs(col("__ids"))).as("__p"))
      .select(col("__p.id_1").as("id_1"), col("__p.id_2").as("id_2"))
      // duplicate input ids would make (x,x) pairs; keep the strict guard
      .filter(col("id_1") < col("id_2"))
      // spreadPairs BELOW the distinct: the dedup aggregate rides the
      // pinned exchange (same clustering), and no coalescible
      // ENSURE_REQUIREMENTS shuffle is ever planned — a repartition
      // ABOVE the distinct is dropped as redundant (identical
      // partitioning) while AQE still coalesces the distinct's own
      // exchange to one task (measured: the d3b confirm stayed 1-task)
      .transform(spreadPairs)
      .distinct()
  }

  /** Spread candidate pairs ([[Scale.spread]]) before a per-pair CPU
    * kernel (the exact-Jaccard confirm): measured r18, d3b's 97k-pair
    * confirm (~1 MB of ids, ~40 us/pair) ran 4.2 s in ONE task when
    * AQE coalesced it. The extra exchange ships ids only. */
  private[ops] def spreadPairs(cands: DataFrame): DataFrame =
    Scale.spread(cands, col("id_1"), col("id_2"))

  /** MinHash dedup with exact-Jaccard verification of LSH candidates —
    * the standard two-stage shape: cheap banding prune, exact per-pair
    * check (ShingleJaccard kernel over the two normalized texts) only on
    * survivors. Verify cost is O(candidates x doc length); no shingle
    * tables ever materialize. */
  def minhashDedupPairs(docs: DataFrame, id: String, text: String,
      k: Int = 5, minJaccard: Double = 0.8, numHashes: Int = NumHashes,
      numBands: Int = NumBands): DataFrame = {
    import org.apache.spark.sql.graft.{ShingleJaccard, internal}
    val cands = minhashCandidates(docs, id, text, k,
      numHashes = numHashes, numBands = numBands)
    val norm = docs.select(col(id), normalized(col(text)).as("__t"))
    cands
      .join(norm.select(col(id).as("id_1"), col("__t").as("__t1")), Seq("id_1"))
      .join(norm.select(col(id).as("id_2"), col("__t").as("__t2")), Seq("id_2"))
      .withColumn("jaccard", internal.column(ShingleJaccard(
        internal.expression(col("__t1")), internal.expression(col("__t2")), k)))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_1"), col("id_2"), col("jaccard"))
  }

  /** Sketch-accuracy gate for the MinHash signature: per LSH candidate
    * pair, the agreeing-position count of the two signatures (n_agree /
    * numHashes is the unbiased Jaccard estimator banding acts on) NEXT TO
    * the exact char-shingle Jaccard — the per-pair error a geometry tuner
    * reads before picking (numHashes, numBands) for a corpus. The
    * estimate is integer (bit-deterministic); est and jaccard are each
    * one exactly-rounded IEEE divide of exact integers.
    *
    * Scale shape: candidates are bounded by the banding caps; the
    * signature join ships 8-byte ids plus numHashes longs; only the
    * audited pairs' TEXT is joined (at 100 TB the accuracy audit runs on
    * a pair sample, not the corpus — the shape is unchanged).
    * Returns (id_1, id_2, n_agree, est, jaccard). */
  def minhashAccuracy(docs: DataFrame, id: String, text: String,
      k: Int = 5, numHashes: Int = NumHashes,
      numBands: Int = NumBands): DataFrame = {
    import org.apache.spark.sql.graft.{ShingleJaccard, internal}
    val cands = minhashCandidates(docs, id, text, k,
      numHashes = numHashes, numBands = numBands)
    val sigs = minhashSignatures(docs, id, text, k, numHashes)
    val norm = docs.select(col(id), normalized(col(text)).as("__t"))
    cands
      .join(sigs.select(col(id).as("id_1"), col("sig").as("__s1")), Seq("id_1"))
      .join(sigs.select(col(id).as("id_2"), col("sig").as("__s2")), Seq("id_2"))
      .join(norm.select(col(id).as("id_1"), col("__t").as("__t1")), Seq("id_1"))
      .join(norm.select(col(id).as("id_2"), col("__t").as("__t2")), Seq("id_2"))
      .withColumn("n_agree",
        aggregate(zip_with(col("__s1"), col("__s2"),
          (a, b) => when(a === b, 1L).otherwise(0L)), lit(0L), _ + _))
      .withColumn("est",
        col("n_agree").cast("double") / lit(numHashes.toDouble))
      .withColumn("jaccard", internal.column(ShingleJaccard(
        internal.expression(col("__t1")), internal.expression(col("__t2")), k)))
      .select(col("id_1"), col("id_2"), col("n_agree"), col("est"),
        col("jaccard"))
  }

  // --- Benchmark decontamination --------------------------------------

  /** Training-data decontamination: per corpus doc, how many of its
    * distinct word n-grams also occur anywhere in a benchmark/eval set
    * (the overlap test LLM pipelines run before training so evaluation
    * examples are not memorized; production settings use n in 8-13 — n is
    * a caller knob here because the test corpus needs the denser n=3 for
    * signal). Returns (id, n_grams, n_hits, contaminated).
    *
    * Scale shape: the benchmark side is small by nature (benchmarks are
    * MBs against a 100 TB corpus), so its distinct hashed-gram set is
    * broadcast and the corpus side never shuffles text — each doc is
    * scanned and shingle-hashed exactly ONCE (gram count and gram
    * explosion derive from one projection; `explode_outer` keeps
    * zero-gram docs), the broadcast LEFT join marks benchmark hits
    * map-side, and the only shuffle is the per-(id, n_grams) hit count,
    * partially aggregated map-side to one row per doc per task. Gram
    * identity is by 64-bit hash (collisions ~2^-64, deterministic),
    * exactly the d2/d3 convention. */
  def contaminationHits(corpus: DataFrame, benchmark: DataFrame, id: String,
      text: String, n: Int, minHits: Int = 1): DataFrame = {
    import org.apache.spark.sql.graft.{WordShingleHashes, internal}
    def grams(of: Column) = internal.column(
      WordShingleHashes(internal.expression(normalized(of)), n))
    val benchGrams = benchmark
      .select(explode(grams(col(text))).as("__h")).distinct()
    corpus
      .select(col(id), grams(col(text)).as("__g"))
      .select(col(id), size(col("__g")).as("n_grams"),
        explode_outer(col("__g")).as("__h"))
      .join(broadcast(benchGrams.withColumn("__hit", lit(1))),
        Seq("__h"), "left")
      .groupBy(col(id), col("n_grams"))
      .agg(count(col("__hit")).as("n_hits"))
      .withColumn("contaminated", col("n_hits") >= minHits)
      .select(col(id), col("n_grams"), col("n_hits"), col("contaminated"))
  }

  // --- Corpus-level span dedup (C4-style) ------------------------------

  /** Fixed-width word spans of a text as an ordered array — the span
    * grain for corpus-level exact span removal. C4 dedups THREE-SENTENCE
    * spans (ref: the C4 paper's "we discard all but one of any
    * three-sentence span occurring more than once"); the synthetic corpus
    * has no sentence marks, so the grain here is a fixed `spanWords`-word
    * window and the operator is generic over the splitter. The last span
    * may be shorter (slice clamps). */
  def wordSpans(text: Column, spanWords: Int): Column = {
    val words = split(text, " ")
    val n = floor((size(words) + lit(spanWords - 1)).cast("double") /
      lit(spanWords.toDouble)).cast("int")
    transform(sequence(lit(0), n - 1), i =>
      array_join(slice(words, i * spanWords + 1, lit(spanWords)), " "))
  }

  /** Corpus-level exact span dedup, keep-first: every occurrence of a
    * span except the globally first (minimal (id, span index)) is
    * removed, and each document is reassembled from its surviving spans
    * in order. Returns (id, clean_text, n_spans, n_kept) for every input
    * document (a doc whose every span was seen earlier keeps '').
    *
    * Scale shape: the dedup decision never shuffles text. Spans hash to
    * 8 bytes map-side (the d2/d3 hashed-identity convention: collisions
    * ~2^-64, deterministic); the keep-first winner per span is one
    * min(struct) aggregation on the hash (map-side partials), and its
    * output IS the kept (id, index) set — no join-back against the span
    * table. Kept indexes regroup per doc (ints, not strings), and the
    * only text movement in the whole plan is the final 8-byte-keyed join
    * of that index list back to the corpus scan, where each doc
    * re-slices ITS OWN words locally. A reassembly that instead grouped
    * surviving span STRINGS would shuffle the entire corpus twice. */
  def spanDedupKeepFirst(docs: DataFrame, id: String, text: String,
      spanWords: Int = 10): DataFrame = {
    require(spanWords > 0, s"spanWords must be positive, got $spanWords")
    val spans = docs.select(col(id),
      posexplode(wordSpans(col(text), spanWords)).as(Seq("__i", "__s")))
      .select(col(id), col("__i"), xxhash64(col("__s")).as("__h"))
    // first occurrence per distinct span: the aggregation output is the
    // kept set itself (each distinct span keeps exactly its minimum)
    val kept = spans.groupBy(col("__h"))
      .agg(min(struct(col(id), col("__i"))).as("__f"))
      .select(col(s"__f.$id").as(id), col("__f.__i").as("__i"))
    val keptIdx = kept.groupBy(col(id))
      .agg(sort_array(collect_list(col("__i"))).as("__ks"))
    docs.select(col(id), split(col(text), " ").as("__w"))
      .join(keptIdx, Seq(id), "left")
      .select(col(id),
        coalesce(array_join(transform(col("__ks"), i =>
          array_join(slice(col("__w"), i * spanWords + 1, lit(spanWords)), " ")),
          " "), lit("")).as("clean_text"),
        floor((size(col("__w")) + lit(spanWords - 1)).cast("double") /
          lit(spanWords.toDouble)).cast("long").as("n_spans"),
        coalesce(size(col("__ks")), lit(0)).cast("long").as("n_kept"))
  }

  // --- SimHash ---------------------------------------------------------

  /** 64-bit SimHash of the normalized text (custom expression). */
  def simhash(text: Column): Column =
    graft.GraftFunctions.simhash64(normalized(text))

  /** SimHash near-dup candidates: band the 64-bit hash into four 16-bit
    * blocks; pairs agreeing on any block are candidates (catches all pairs
    * within Hamming distance 3 by pigeonhole), then verify with bit_count
    * on the XOR. Returns (id_1, id_2, hamming).
    *
    * Bucket generation is the same bounded one-pass shape as the Jaccard
    * and MinHash paths: the 16-bit band-bucket space is only 65,536 values
    * per band, so at n docs a bucket averages n/65536 members and a naive
    * band self-join materializes Θ(n²/2^16) candidate rows — quadratic at
    * scale. Instead each (band, bucket) group is aggregated through
    * `BoundedLongList` (every buffer, map-side partials included, holds at
    * most `maxBucketSize`+1 ids; hot buckets collapse to NULL and are
    * dropped — a band block shared by thousands of docs carries no
    * near-dup signal, only a common 16-bit coincidence) and the (i < j)
    * pairs explode map-side from the grouped lists. The only joins left
    * are the two 8-byte-key hash-lookups of the verified pairs' SimHash
    * values, sized by the candidate count, not n². */
  def simhashPairs(docs: DataFrame, id: String, text: String,
      maxHamming: Int = 3, maxBucketSize: Int = 64): DataFrame =
    hammingPairs(docs.select(col(id), simhash(col(text)).as("sh")),
      id, "sh", maxHamming, maxBucketSize)

  /** The banding+verify stage of [[simhashPairs]] over ANY 64-bit
    * fingerprint column (SimHash, image dHash, audio fingerprint):
    * pigeonhole-exact for maxHamming <= 3 under the 4x16-bit banding,
    * bounded buckets, exact bit_count confirm. */
  /** CROSS-frame Hamming match (ingest batch vs persisted fingerprint
    * store): both sides band 4x16 bits, candidates join on (band,
    * bucket) — an 8-byte-key equi-join whose left side is the batch —
    * and survive the exact popcount confirm. Pigeonhole-EXACT for
    * maxHamming <= 3: any pair within distance 3 agrees on >= 1 of the
    * 4 bands, so unlike the capped self-join path no candidate is ever
    * dropped and the result equals the all-pairs filter (which is what
    * the oracle computes). A band bucket shared by many store rows
    * multiplies candidates — the store side of a production ingest
    * would carry the [[hammingPairs]]-style hot-bucket cap as a
    * recall-vs-skew dial; the exact variant is the gateable one.
    * Returns (idL, idR, hamming) distinct pairs. */
  def hammingJoin(left: DataFrame, leftId: String,
      right: DataFrame, rightId: String, hashCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 3,
      s"4x16 banding is only pigeonhole-exact to Hamming 3, got $maxHamming")
    def banded(df: DataFrame, id: String, sh: String) = {
      val blocks = (0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col(sh), b * 16).bitwiseAND(0xFFFFL).as("bucket")))
      df.select(col(id), col(hashCol).as(sh))
        .select(col(id), col(sh), explode(array(blocks: _*)).as("bb"))
        .select(col(id), col(sh), col("bb.band").as("band"),
          col("bb.bucket").as("bucket"))
    }
    banded(left, leftId, "sh_l")
      .join(banded(right, rightId, "sh_r"), Seq("band", "bucket"))
      .select(col(leftId), col(rightId),
        bit_count(col("sh_l").bitwiseXOR(col("sh_r"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact Hamming k-NN: for every query fingerprint the k closest
    * target fingerprints (ties broken by target id — a total order, so
    * the result is engine-independent). The query side broadcasts (the
    * [[graft.ops.Similarity.knnBruteForce]] convention — an ingest
    * batch probing a big at-rest store ships the SMALL side), the
    * popcount scan is map-stage over the store, and the per-query
    * top-k is a bounded window. Banding can't serve ranks beyond
    * Hamming 3, so the exact scan IS the retrieval baseline here, as
    * knn_brute is for cosine. Returns (qid, rank, tid, hamming). */
  def hammingKnn(queries: DataFrame, qid: String,
      targets: DataFrame, tid: String, hashCol: String, k: Int): DataFrame = {
    val q = queries.select(col(qid), col(hashCol).as("qh"))
    val t = targets.select(col(tid), col(hashCol).as("th"))
    val scored = broadcast(q).join(t)
      .select(col(qid), col(tid),
        bit_count(col("qh").bitwiseXOR(col("th"))).as("hamming"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(qid)).orderBy(col("hamming").asc, col(tid).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(qid), col("rank"), col(tid), col("hamming"))
  }

  /** Banded Hamming near-dup pairs over a 64-bit fingerprint: 4 x
    * 16-bit bands (pigeonhole-EXACT for maxHamming <= 3 — any pair
    * within distance 3 agrees on at least one full band, and 4 is the
    * minimum band count with that guarantee, so the bands cannot be
    * widened without losing exactness), per-band bucket grouping with
    * a hard [[BoundedLongList]] cap, then the exact popcount verify.
    *
    * COLLISION-TAIL POSTURE: band buckets also collect RANDOM 16-bit
    * collisions between unrelated fingerprints — expected candidate
    * pairs from that tail are ~4 x C(n/65536-per-bucket) ~ n^2/2^15
    * for uniform hashes, so candidate growth is mildly super-linear in
    * n (the r14 20x curve measured 28.5x pairs at 20x data for the
    * image family — collisions, not a fixture quadratic). Those are
    * CANDIDATES, never output: the verify stage is one codegen'd
    * popcount per candidate and drops them, `maxBucketSize` bounds any
    * skewed bucket, and at 100 TB the same geometry holds because the
    * bucket key space is fixed and per-bucket population — not pair
    * volume — is what shuffles. */
  def hammingPairs(input: DataFrame, id: String, hashCol: String,
      maxHamming: Int, maxBucketSize: Int): DataFrame = {
    val hashed = input.select(col(id), col(hashCol).as("sh"))
    val blocks = (0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftright(col("sh"), b * 16).bitwiseAND(0xFFFFL).as("bucket")))
    val banded = hashed.select(col(id),
      explode(array(blocks: _*)).as("bb"))
      .select(col(id), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
    val cands = banded.groupBy(col("band"), col("bucket"))
      .agg(boundedIds(id, maxBucketSize).as("__ids"))
      .filter(col("__ids").isNotNull && size(col("__ids")) >= 2)
      // spread the qualifying buckets before the map-side pair explode
      // (the jaccardPairs discipline; it multiplies the rows ~50-100x)
      .transform(Scale.spread(_, col("band"), col("bucket")))
      .select(explode(sortedPairs(col("__ids"))).as("__p"))
      .select(col("__p.id_1").as("id_1"), col("__p.id_2").as("id_2"))
      // duplicate input ids would make (x,x) pairs; keep the strict guard
      .filter(col("id_1") < col("id_2"))
      .distinct()
    cands
      .join(hashed.select(col(id).as("id_1"), col("sh").as("sh_1")), Seq("id_1"))
      .join(hashed.select(col(id).as("id_2"), col("sh").as("sh_2")), Seq("id_2"))
      .select(col("id_1"), col("id_2"),
        bit_count(col("sh_1").bitwiseXOR(col("sh_2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
