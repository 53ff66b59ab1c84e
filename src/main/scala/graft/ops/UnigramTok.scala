package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ScopedPlanning

/** UNIGRAM-LM tokenizer (the SentencePiece family — Kudo 2018,
  * arXiv:1804.10959): a piece vocabulary scored by corpus frequency and a
  * VITERBI segmentation that picks, per word, the piece sequence with
  * maximal total score (ties: fewest pieces). The complement of the BPE
  * family ([[BpeImpl]]/[[BpeTrain]]): BPE builds words bottom-up by
  * learned merges; unigram segments top-down against a scored vocabulary.
  * This is the inference half of SentencePiece with the count-based
  * initial vocabulary (Kudo's starting point), plus ONE round of the EM
  * vocabulary-pruning loop ([[segmentsWithPieces]] /
  * [[pieceUsage]] / [[emPrune]]): E-step = Viterbi segmentation under
  * the current vocabulary (hard EM, as in Kudo's practical variant),
  * M-step = re-count each piece's usage over those segmentations, drop
  * the bottom quartile of multi-char pieces by usage, re-score the
  * survivors from usage counts, and re-segment.
  *
  * Exact cross-engine arithmetic throughout: piece scores are the
  * floor-log2 integer surrogate (length(bin(count)) — the
  * ta_unigram_logfreq convention), the DP value is an integer pair
  * (total score, piece count) under lexicographic max, so both engines
  * replay segmentation bit-for-bit with no float log anywhere.
  *
  * Scale shape: piece counting is one explode + one 8-byte-key groupBy
  * over the DISTINCT word table (the two-pass vocabulary trick — corpus
  * text is scanned once to build word counts; everything after runs on
  * the Zipf-bounded vocabulary). The Viterbi DP is relational: one level
  * per character position (<= [[MaxWordLen]]), each level a broadcast
  * join of the previous <= [[MaxPiece]] levels against the tiny piece
  * table plus a per-word argmax aggregation (min_by on the integer pair
  * — no windows). Levels are localCheckpoint'ed on the Components
  * cadence so plan depth stays O(checkpoint interval).
  */
object UnigramTok {

  /** Longest piece considered (chars). */
  val MaxPiece = 4

  /** Words longer than this are excluded from segmentation (and from the
    * token counts) — the documented domain cap that bounds the DP unroll
    * in both engines. The gated corpora max out at 8. */
  val MaxWordLen = 16

  /** Multi-char pieces kept (top by count desc, piece asc); ALL single
    * chars are always kept so every word stays segmentable. */
  val MultiPieces = 48

  /** The DP runs with Catalyst constraint propagation OFF, in a child
    * session ([[ScopedPlanning]]) so the caller's conf is never written
    * (r19, guide §4 "codegen-friendly expressions"): LogicalRDD
    * PRESERVES its origin Dataset's constraints across localCheckpoint,
    * so the Viterbi DP's per-level `length(w) >= i` filters compound
    * through each level's 4-way union of prior levels into an
    * exponentially nested inferred predicate — the final `eligible JOIN
    * all ON w` then pushes a >64 KB boolean cascade onto the word-table
    * scan. Measured per staging build: one janino "Code grows beyond
    * 64 KB" compile failure (codegen falls back to INTERPRETED
    * evaluation of the giant, semantically redundant filter) plus ~2 MiB
    * broadcast task binaries. The inferred filter can only drop rows the
    * join itself would drop, so disabling inference here changes no
    * result — it just keeps the DP plans linear in MaxWordLen. Every
    * frame the DP returns is eagerly checkpointed inside the scope. */
  private val NoConstraintPropagation =
    Map("spark.sql.constraintPropagation.enabled" -> "false")

  /** Distinct corpus words with occurrence counts: (w, c). */
  def words(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(Dedup.normalized(col(textCol)), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).cast("long").as("c"))

  /** The scored piece vocabulary: every substring of length
    * 1..[[MaxPiece]] weighted by word count; all single chars plus the
    * top [[MultiPieces]] multi-char pieces. Score is the exact-integer
    * LOG-PROBABILITY surrogate floor(log2 cnt) - floor(log2 Ntot)
    * (bin-length difference, Ntot = total count over the selected
    * vocabulary) — NEGATIVE, so each extra piece costs ~log2(Ntot) and
    * Viterbi genuinely trades piece frequency against piece count, as in
    * the real unigram LM. Returns (p, cnt, sc). */
  def pieceVocab(w: DataFrame): DataFrame = {
    val cand = w.select(col("w"), col("c"), explode(expr(
        s"flatten(transform(sequence(1, length(w)), st -> " +
          s"transform(sequence(1, least($MaxPiece, length(w) - st + 1)), " +
          s"pl -> substring(w, st, pl))))")).as("p"))
      .groupBy(col("p")).agg(sum(col("c")).as("cnt"))
    val singles = cand.filter(length(col("p")) === 1)
    val multi = cand.filter(length(col("p")) > 1)
      .orderBy(col("cnt").desc, col("p")).limit(MultiPieces)
    val sel = singles.unionByName(multi)
    sel.crossJoin(broadcast(sel.agg(sum(col("cnt")).as("ntot"))))
      .withColumn("sc",
        (length(bin(col("cnt"))) - length(bin(col("ntot")))).cast("long"))
      .drop("ntot")
  }

  /** Viterbi segmentation of every word of length <= [[MaxWordLen]]:
    * (w, n_pieces, total_score). The DP state at position i is the best
    * (score desc, pieces asc) integer pair over all segmentations of the
    * first i chars; level i draws from levels i-MaxPiece..i-1 through
    * the piece join and reduces with a max-of-struct aggregation. */
  def segments(w: DataFrame, pieces: DataFrame): DataFrame =
      ScopedPlanning.run(w.sparkSession, NoConstraintPropagation) { adopt =>
    // checkpoint the DP inputs once: every level references them, and an
    // unmaterialized piece plan would otherwise be re-planned into every
    // level's tree
    val eligible =
      adopt(w).filter(length(col("w")) <= MaxWordLen).localCheckpoint()
    val p = broadcast(
      adopt(pieces).select(col("p"), col("sc")).localCheckpoint())
    // dp levels; levels(i) holds rows (w, pos=i, best, np). EVERY level
    // is checkpointed: each references up to MaxPiece prior levels, so
    // un-materialized levels would branch the plan MaxPiece-ways per
    // position (exponential analysis cost); per-level rows are bounded
    // by the word table, so the checkpoints are cheap.
    val v0 = eligible.select(col("w"), lit(0).as("pos"),
      lit(0L).as("best"), lit(0).as("np")).localCheckpoint()
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](v0)
    (1 to MaxWordLen).foreach { i =>
      val from = ((i - MaxPiece) max 0) until i
      val prev = from.map(levels(_)).reduce(_ unionByName _)
      val cands = prev.filter(length(col("w")) >= i)
        .withColumn("p", expr(s"substring(w, pos + 1, $i - pos)"))
        .join(p, "p")
        .select(col("w"), (col("best") + col("sc")).as("b2"),
          (col("np") + 1).as("np2"))
      // argmax of (b2 desc, np2 asc) as a hash aggregation: max of the
      // struct (b2, -np2, np2) — lexicographic, deterministic, window-free
      val lvl = cands.groupBy(col("w"))
        .agg(max(struct(col("b2"), (-col("np2")).as("nn"), col("np2")))
          .as("s"))
        .select(col("w"), lit(i).as("pos"), col("s.b2").as("best"),
          col("s.np2").as("np"))
      levels += lvl.localCheckpoint()
    }
    val all = levels.drop(1).reduce(_ unionByName _)
    val out = eligible.join(all, Seq("w"))
      .filter(col("pos") === length(col("w")))
      .select(col("w"), col("c"), col("np").as("n_pieces"),
        col("best").as("total_score"))
      .localCheckpoint()   // materialize before the levels are released
    levels.foreach(_.unpersist())
    eligible.unpersist()
    out
  }

  /** Viterbi segmentation that also CARRIES the winning piece sequence —
    * the E-step of the EM pruning round, which needs to know WHICH
    * pieces each word's best segmentation uses, not just how many. Same
    * DP as [[segments]] with the state extended by the piece array and
    * the argmax made a TOTAL order by adding the array as the final
    * tiebreak key (arrays compare lexicographically element-wise in both
    * engines, and ties only arise between equal-length sequences because
    * piece count is the preceding key) — so the recovered segmentation
    * is deterministic and cross-engine replayable. Rows stay bounded by
    * the word table; the carried array is <= MaxWordLen strings.
    * Returns (w, c, n_pieces, total_score, ps). */
  def segmentsWithPieces(w: DataFrame, pieces: DataFrame): DataFrame =
      ScopedPlanning.run(w.sparkSession, NoConstraintPropagation) { adopt =>
    val eligible =
      adopt(w).filter(length(col("w")) <= MaxWordLen).localCheckpoint()
    val p = broadcast(
      adopt(pieces).select(col("p"), col("sc")).localCheckpoint())
    val v0 = eligible.select(col("w"), lit(0).as("pos"),
      lit(0L).as("best"), lit(0).as("np"),
      array().cast("array<string>").as("ps")).localCheckpoint()
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](v0)
    (1 to MaxWordLen).foreach { i =>
      val from = ((i - MaxPiece) max 0) until i
      val prev = from.map(levels(_)).reduce(_ unionByName _)
      val cands = prev.filter(length(col("w")) >= i)
        .withColumn("p", expr(s"substring(w, pos + 1, $i - pos)"))
        .join(p, "p")
        .select(col("w"), (col("best") + col("sc")).as("b2"),
          (col("np") + 1).as("np2"),
          concat(col("ps"), array(col("p"))).as("ps2"))
      val lvl = cands.groupBy(col("w"))
        .agg(max(struct(col("b2"), (-col("np2")).as("nn"), col("np2"),
          col("ps2"))).as("s"))
        .select(col("w"), lit(i).as("pos"), col("s.b2").as("best"),
          col("s.np2").as("np"), col("s.ps2").as("ps"))
      levels += lvl.localCheckpoint()
    }
    val all = levels.drop(1).reduce(_ unionByName _)
    val out = eligible.join(all, Seq("w"))
      .filter(col("pos") === length(col("w")))
      .select(col("w"), col("c"), col("np").as("n_pieces"),
        col("best").as("total_score"), col("ps"))
      .localCheckpoint()
    levels.foreach(_.unpersist())
    eligible.unpersist()
    out
  }

  /** M-step usage counts: how often each piece appears in the Viterbi
    * segmentations, weighted by word occurrence count. One explode + one
    * groupBy over the segmented vocabulary (Zipf-bounded, never the
    * corpus). Returns (p, uc). */
  def pieceUsage(segsP: DataFrame): DataFrame =
    segsP.select(col("c"), explode(col("ps")).as("p"))
      .groupBy(col("p")).agg(sum(col("c")).as("uc"))

  /** One EM pruning round's M-step on the vocabulary: drop the
    * [[MultiPieces]]/4 least-used multi-char pieces (usage asc, piece
    * asc — zero-usage pieces drop first), keep ALL single chars
    * (segmentability), and re-score the survivors from their USAGE
    * counts (floor-log2 of greatest(uc, 1) minus floor-log2 of the
    * total — the greatest() guard keeps a zero-usage survivor scorable;
    * it can only matter when more than a quartile of pieces go unused).
    * The drop count is the fixed constant MultiPieces/4 in BOTH engines,
    * so the builder REQUIREs the vocabulary to be dense (exactly
    * MultiPieces multi-char pieces) rather than letting a sparse corpus
    * silently shift the quartile. Returns (p, uc, sc). */
  def emPrune(vocab: DataFrame, usage: DataFrame): DataFrame = {
    val nMulti = vocab.filter(length(col("p")) > 1).count()
    require(nMulti == MultiPieces,
      s"emPrune expects a dense vocabulary of $MultiPieces multi-char " +
        s"pieces, got $nMulti — quartile constant would silently shift")
    emPruneBy(vocab, usage, MultiPieces / 4)
  }

  /** The M-step with an explicit drop count — the building block
    * [[emPrune]] (fixed quartile) and [[emLoop]] (fixed per-round step)
    * both instantiate; the caller owns the drop-schedule determinism. */
  def emPruneBy(vocab: DataFrame, usage: DataFrame, dropN: Int): DataFrame = {
    val withUse = vocab.select(col("p"))
      .join(usage, Seq("p"), "left")
      .withColumn("uc", coalesce(col("uc"), lit(0L)))
    val multi = withUse.filter(length(col("p")) > 1)
    // bounded collect: the drop set is dropN pieces by (uc, p)
    val dropSet = multi.orderBy(col("uc").asc, col("p").asc)
      .limit(dropN).select(col("p"))
      .collect().map(_.getString(0)).toSeq
    require(dropSet.length == dropN,
      s"emPruneBy asked to drop $dropN multi-char pieces but the " +
        s"vocabulary only holds ${dropSet.length}")
    val kept = withUse.filter(length(col("p")) === 1 ||
      !col("p").isInCollection(dropSet))
    kept.crossJoin(broadcast(
        kept.agg(sum(greatest(col("uc"), lit(1L))).as("ntot"))))
      .withColumn("sc",
        (length(bin(greatest(col("uc"), lit(1L)))) -
          length(bin(col("ntot")))).cast("long"))
      .drop("ntot")
  }

  /** THE EM LOOP (Kudo 2018 §3.2's outer iteration, hard-EM variant —
    * the round-10 single round made iterative): repeat E-step
    * ([[segmentsWithPieces]] under the current vocabulary) and M-step
    * ([[pieceUsage]] -> [[emPruneBy]] -> usage-re-score) until the
    * multi-char vocabulary shrinks to `targetMulti`. The drop schedule
    * is the fixed arithmetic both engines replay — `dropPerRound`
    * pieces per round, with the (initial - target) divisibility
    * REQUIREd up front so a sparse corpus can never silently shift a
    * round's drop count against the unrolled SQL twin. Every round's
    * vocabulary is localCheckpointed (the [[segments]] level
    * discipline, one lineage cut per round instead of a plan that
    * re-derives round r-1's Viterbi inside round r — the iterative-DP
    * pitfall documented on [[segments]]); per-round driver state is
    * one bounded drop-set collect. Returns (final vocab (p, uc, sc),
    * rounds run). */
  def emLoop(w: DataFrame, targetMulti: Int,
      dropPerRound: Int = MultiPieces / 8): (DataFrame, Int) = {
    val wc = w.localCheckpoint()
    var vocab = pieceVocab(wc).localCheckpoint()
    val nMulti = vocab.filter(length(col("p")) > 1).count()
    require(nMulti == MultiPieces,
      s"emLoop expects the dense initial vocabulary of $MultiPieces " +
        s"multi-char pieces, got $nMulti")
    require(targetMulti < MultiPieces && dropPerRound > 0 &&
      (MultiPieces - targetMulti) % dropPerRound == 0,
      s"drop schedule $MultiPieces -> $targetMulti by $dropPerRound " +
        "must divide evenly (the unrolled twin replays fixed rounds)")
    val rounds = (MultiPieces - targetMulti) / dropPerRound
    (1 to rounds).foreach { _ =>
      val segsP = segmentsWithPieces(wc, vocab)
      val usage = pieceUsage(segsP)
      val next = emPruneBy(vocab, usage, dropPerRound).localCheckpoint()
      segsP.unpersist()
      vocab.unpersist()
      vocab = next
    }
    wc.unpersist()
    (vocab, rounds)
  }

  /** Per-doc token counts under the unigram segmentation — the two-pass
    * trick: doc words inner-join the segmented vocabulary `segs` (from
    * [[segments]], possibly reloaded from rest; words past the
    * [[MaxWordLen]] cap drop out, the documented domain). Returns
    * (id, n_words, n_tokens). */
  def tokenCounts(docs: DataFrame, id: String, textCol: String,
      segs: DataFrame): DataFrame =
    docs.select(col(id),
        explode(split(Dedup.normalized(col(textCol)), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(segs.select(col("w"), col("n_pieces"))), "w")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_pieces")).cast("long").as("n_tokens"))

  // --- DuckDB twins -----------------------------------------------------

  /** Shared CTEs: word counts, piece candidates, the selected scored
    * vocabulary `usel`, and the unrolled Viterbi levels v0..v[[MaxWordLen]]
    * with final per-word rows in `usegs`. */
  def sqlCtes: String = {
    val levels = (1 to MaxWordLen).map { i =>
      val from = ((i - MaxPiece) max 0) until i
      val prev = from.map(j => s"SELECT * FROM v$j").mkString("\n    UNION ALL ")
      s"""c$i AS (
         |  SELECT v.w, v.best + s.sc AS b2, v.np + 1 AS np2
         |  FROM ($prev) v
         |  JOIN usel s ON s.p = substr(v.w, v.pos + 1, $i - v.pos)
         |  WHERE length(v.w) >= $i),
         |v$i AS MATERIALIZED (
         |  SELECT w, $i AS pos, b2 AS best, np2 AS np FROM (
         |    SELECT w, b2, np2,
         |      row_number() OVER (PARTITION BY w ORDER BY b2 DESC, np2)
         |        AS rn
         |    FROM c$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val allV = (1 to MaxWordLen).map(i => s"SELECT * FROM v$i")
      .mkString("\n  UNION ALL ")
    s"""uwords AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(string_split(
       |          regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' '))
       |          AS w
       |        FROM documents)
       |  WHERE w <> '' GROUP BY w),
       |ucand AS (
       |  SELECT substr(w, CAST(st AS INT), CAST(pl AS INT)) AS p,
       |    CAST(SUM(c) AS BIGINT) AS cnt
       |  FROM (SELECT w, c, st,
       |          unnest(range(1, least($MaxPiece, length(w) - st + 1) + 1))
       |            AS pl
       |        FROM (SELECT w, c, unnest(range(1, length(w) + 1)) AS st
       |              FROM uwords))
       |  GROUP BY 1),
       |umulti AS (SELECT p, cnt FROM ucand WHERE length(p) > 1
       |           ORDER BY cnt DESC, p LIMIT $MultiPieces),
       |upick AS (SELECT p, cnt FROM ucand WHERE length(p) = 1
       |          UNION ALL SELECT p, cnt FROM umulti),
       |usel AS MATERIALIZED (
       |  SELECT p, cnt,
       |    CAST(length(bin(cnt)) - length(bin(ntot)) AS BIGINT) AS sc
       |  FROM upick CROSS JOIN
       |    (SELECT CAST(SUM(cnt) AS BIGINT) AS ntot FROM upick)),
       |v0 AS (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS best, 0 AS np
       |       FROM uwords WHERE length(w) <= $MaxWordLen),
       |$levels,
       |usegs AS MATERIALIZED (
       |  SELECT u.w, u.c, v.np AS n_pieces, v.best AS total_score
       |  FROM uwords u JOIN ($allV) v
       |    ON v.w = u.w AND v.pos = length(u.w))""".stripMargin
  }

  /** EM-round CTEs on top of [[sqlCtes]]: the list-carrying Viterbi
    * (`vp*`, tiebreak ORDER BY b2 DESC, np2, ps2 DESC — the exact mirror
    * of the Spark struct-max total order), usage counts `uusage`, the
    * quartile drop set `udrop`, the re-scored pruned vocabulary `usel2`,
    * and the re-segmentation `w1..` under it ending in `usegs2`. */
  def sqlCtesPruned: String = {
    val lvlP = (1 to MaxWordLen).map { i =>
      val from = ((i - MaxPiece) max 0) until i
      val prev = from.map(j => s"SELECT * FROM vp$j").mkString("\n    UNION ALL ")
      s"""cp$i AS (
         |  SELECT v.w, v.best + s.sc AS b2, v.np + 1 AS np2,
         |    list_append(v.ps, s.p) AS ps2
         |  FROM ($prev) v
         |  JOIN usel s ON s.p = substr(v.w, v.pos + 1, $i - v.pos)
         |  WHERE length(v.w) >= $i),
         |vp$i AS MATERIALIZED (
         |  SELECT w, $i AS pos, b2 AS best, np2 AS np, ps2 AS ps FROM (
         |    SELECT w, b2, np2, ps2,
         |      row_number() OVER (PARTITION BY w
         |        ORDER BY b2 DESC, np2, ps2 DESC) AS rn
         |    FROM cp$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val allVp = (1 to MaxWordLen).map(i => s"SELECT * FROM vp$i")
      .mkString("\n  UNION ALL ")
    val lvl2 = (1 to MaxWordLen).map { i =>
      val from = ((i - MaxPiece) max 0) until i
      val prev = from.map(j => s"SELECT * FROM w$j").mkString("\n    UNION ALL ")
      s"""cw$i AS (
         |  SELECT v.w, v.best + s.sc AS b2, v.np + 1 AS np2
         |  FROM ($prev) v
         |  JOIN usel2 s ON s.p = substr(v.w, v.pos + 1, $i - v.pos)
         |  WHERE length(v.w) >= $i),
         |w$i AS MATERIALIZED (
         |  SELECT w, $i AS pos, b2 AS best, np2 AS np FROM (
         |    SELECT w, b2, np2,
         |      row_number() OVER (PARTITION BY w ORDER BY b2 DESC, np2)
         |        AS rn
         |    FROM cw$i)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val allW = (1 to MaxWordLen).map(i => s"SELECT * FROM w$i")
      .mkString("\n  UNION ALL ")
    s"""$sqlCtes,
       |vp0 AS (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS best, 0 AS np,
       |          CAST([] AS VARCHAR[]) AS ps
       |        FROM uwords WHERE length(w) <= $MaxWordLen),
       |$lvlP,
       |usegsp AS MATERIALIZED (
       |  SELECT u.w, u.c, v.ps
       |  FROM uwords u JOIN ($allVp) v
       |    ON v.w = u.w AND v.pos = length(u.w)),
       |uusage AS MATERIALIZED (
       |  SELECT p, CAST(SUM(c) AS BIGINT) AS uc
       |  FROM (SELECT c, unnest(ps) AS p FROM usegsp)
       |  GROUP BY p),
       |uwithuse AS (
       |  SELECT s.p, COALESCE(u.uc, 0) AS uc
       |  FROM usel s LEFT JOIN uusage u ON s.p = u.p),
       |udrop AS (
       |  SELECT p FROM uwithuse WHERE length(p) > 1
       |  ORDER BY uc ASC, p ASC LIMIT ${MultiPieces / 4}),
       |ukept AS (
       |  SELECT p, uc FROM uwithuse
       |  WHERE length(p) = 1 OR p NOT IN (SELECT p FROM udrop)),
       |usel2 AS MATERIALIZED (
       |  SELECT p, uc,
       |    CAST(length(bin(greatest(uc, 1)))
       |         - length(bin(ntot)) AS BIGINT) AS sc
       |  FROM ukept CROSS JOIN
       |    (SELECT CAST(SUM(greatest(uc, 1)) AS BIGINT) AS ntot
       |     FROM ukept)),
       |w0 AS (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS best, 0 AS np
       |       FROM uwords WHERE length(w) <= $MaxWordLen),
       |$lvl2,
       |usegs2 AS MATERIALIZED (
       |  SELECT u.w, u.c, v.np AS n_pieces, v.best AS total_score
       |  FROM uwords u JOIN ($allW) v
       |    ON v.w = u.w AND v.pos = length(u.w))""".stripMargin
  }

  /** EM-LOOP CTEs on top of [[sqlCtes]]: `rounds` unrolled iterations,
    * each a list-carrying Viterbi chain (the vp tiebreak total order)
    * under the PREVIOUS round's vocabulary `usel<r-1>`, usage counts,
    * a fixed `dropPerRound` drop set, and the usage-re-scored
    * `usel<r>`. `usel0` aliases the initial count-scored vocabulary so
    * every round has a uniform shape. */
  def sqlCtesEmLoop(rounds: Int, dropPerRound: Int): String = {
    def chain(r: Int): String = {
      val lvl = (1 to MaxWordLen).map { i =>
        val from = ((i - MaxPiece) max 0) until i
        val prev = from.map(j => s"SELECT * FROM e${r}_$j")
          .mkString("\n    UNION ALL ")
        s"""ce${r}_$i AS (
           |  SELECT v.w, v.best + s.sc AS b2, v.np + 1 AS np2,
           |    list_append(v.ps, s.p) AS ps2
           |  FROM ($prev) v
           |  JOIN usel${r - 1} s ON s.p = substr(v.w, v.pos + 1, $i - v.pos)
           |  WHERE length(v.w) >= $i),
           |e${r}_$i AS MATERIALIZED (
           |  SELECT w, $i AS pos, b2 AS best, np2 AS np, ps2 AS ps FROM (
           |    SELECT w, b2, np2, ps2,
           |      row_number() OVER (PARTITION BY w
           |        ORDER BY b2 DESC, np2, ps2 DESC) AS rn
           |    FROM ce${r}_$i)
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val allE = (1 to MaxWordLen).map(i => s"SELECT * FROM e${r}_$i")
        .mkString("\n  UNION ALL ")
      s"""e${r}_0 AS (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS best,
         |  0 AS np, CAST([] AS VARCHAR[]) AS ps
         |  FROM uwords WHERE length(w) <= $MaxWordLen),
         |$lvl,
         |segv$r AS MATERIALIZED (
         |  SELECT u.w, u.c, v.ps
         |  FROM uwords u JOIN ($allE) v
         |    ON v.w = u.w AND v.pos = length(u.w)),
         |usage$r AS MATERIALIZED (
         |  SELECT p, CAST(SUM(c) AS BIGINT) AS uc
         |  FROM (SELECT c, unnest(ps) AS p FROM segv$r)
         |  GROUP BY p),
         |wu$r AS (
         |  SELECT s.p, COALESCE(u.uc, 0) AS uc
         |  FROM usel${r - 1} s LEFT JOIN usage$r u ON s.p = u.p),
         |dr$r AS (
         |  SELECT p FROM wu$r WHERE length(p) > 1
         |  ORDER BY uc ASC, p ASC LIMIT $dropPerRound),
         |kp$r AS (
         |  SELECT p, uc FROM wu$r
         |  WHERE length(p) = 1 OR p NOT IN (SELECT p FROM dr$r)),
         |usel$r AS MATERIALIZED (
         |  SELECT p, uc,
         |    CAST(length(bin(greatest(uc, 1)))
         |         - length(bin(ntot)) AS BIGINT) AS sc
         |  FROM kp$r CROSS JOIN
         |    (SELECT CAST(SUM(greatest(uc, 1)) AS BIGINT) AS ntot
         |     FROM kp$r))""".stripMargin
    }
    s"""$sqlCtes,
       |usel0 AS (SELECT p, cnt AS uc, sc FROM usel),
       |${(1 to rounds).map(chain).mkString(",\n")}""".stripMargin
  }

  /** unigram_vocab_em twin. */
  def vocabEmSql(rounds: Int, dropPerRound: Int): String =
    s"""WITH ${sqlCtesEmLoop(rounds, dropPerRound)}
       |SELECT p AS piece, uc AS usage_cnt, sc AS score FROM usel$rounds
       |ORDER BY piece""".stripMargin

  /** unigram_vocab_pruned twin. */
  def vocabPrunedSql: String =
    s"""WITH $sqlCtesPruned
       |SELECT p AS piece, uc AS usage_cnt, sc AS score FROM usel2
       |ORDER BY piece""".stripMargin

  /** ta_tokens_unigram_pruned twin. */
  def tokenCountsPrunedSql: String =
    s"""WITH $sqlCtesPruned,
       |dw2 AS (
       |  SELECT doc_id, unnest(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
       |  FROM documents)
       |SELECT doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(n_pieces) AS BIGINT) AS n_tokens
       |FROM dw2 JOIN usegs2 USING (w)
       |WHERE w <> ''
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** unigram_vocab twin. */
  def vocabSql: String =
    s"""WITH $sqlCtes
       |SELECT p AS piece, cnt, sc AS score FROM usel
       |ORDER BY piece""".stripMargin

  /** unigram_segments twin. */
  def segmentsSql: String =
    s"""WITH $sqlCtes
       |SELECT w, c AS word_count, CAST(n_pieces AS INT) AS n_pieces,
       |  total_score
       |FROM usegs
       |ORDER BY w""".stripMargin

  /** ta_tokens_unigram twin. */
  def tokenCountsSql: String =
    s"""WITH $sqlCtes,
       |dw AS (
       |  SELECT doc_id, unnest(string_split(
       |    regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS w
       |  FROM documents)
       |SELECT doc_id, COUNT(*) AS n_words,
       |  CAST(SUM(n_pieces) AS BIGINT) AS n_tokens
       |FROM dw JOIN usegs USING (w)
       |WHERE w <> ''
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
}
