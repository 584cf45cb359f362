package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Checkpoints, Fixpoint}

/** Distributed BPE VOCABULARY LEARNING (Sennrich et al. 2016 —
  * public): the training loop that produces the ordered merges table
  * [[graft.functions.BpeEncode]] applies. Per round: count every
  * adjacent token pair POSITION over the corpus (weighted by word
  * frequency — "aaa" holds two (a,a) positions), pick the single best
  * pair by the (count DESC, pair ASC) total order, merge all its
  * non-overlapping occurrences left-to-right, repeat. The total order makes the whole vocabulary a deterministic
  * function of the corpus, which is what lets few-merge runs replay
  * as an unrolled recursive-CTE chain in DuckDB (q_bpe_learn) and the
  * full 40-merge run reproduce [[graft.functions.BpeFixture.Merges]]
  * bit for bit (BpeSpec).
  *
  * Corpus-pass economics: the classic trainer optimization is that
  * pair statistics only depend on the DISTINCT-WORD multiset, so the
  * corpus is touched ONCE (explode + groupBy word → (word, freq));
  * every round after that is a pass over the vocabulary table — at
  * 100 TB the corpus pass is the big shuffle (word-keyed, partial-
  * agg'd) and the loop state is vocab-sized (~10⁷ rows for web text),
  * never corpus-sized. Words fully merged to one token stop producing
  * pairs forever and are dropped, so the loop table shrinks
  * monotonically.
  *
  * Loop mechanics follow the repo's iterative-operator discipline
  * ([[Graph]] power iteration): a [[graft.core.Fixpoint]] scope —
  * static plan with a vocab-sized partition count decided once,
  * rotating local
  * checkpoints at an ADAPTIVE cadence ([[cadenceFor]]): every round
  * while the vocab table is floor-sized (the per-round cost there is
  * Catalyst reanalysis, which a fused apply-lambda chain inflates),
  * fused 8-rounds-per-checkpoint past 1M rows (where per-round
  * materialization churn is the cost and pending merges ride the
  * argmax plan as cheap per-row folds). The per-round argmax is a
  * 1-row collect — the same bounded-collect shape as the repo's
  * other argmax loops.
  *
  * Scale ceiling, documented honestly: rounds are inherently
  * SEQUENTIAL (Sennrich semantics — each merge depends on the last),
  * so a 50k-merge production vocabulary costs 50k rounds whatever the
  * per-round cost. [[learnMerges]] recounts every pair every round —
  * the reference semantics, cheapest locally (one job per round, no
  * second state). [[learnMergesIncremental]] is the corpus-scale
  * face: it maintains the pair-count table as a SECOND loop state
  * updated by the delta of only the words CONTAINING the merged
  * pair, and rewrites ONLY those words (a lazily-branching update
  * projection over a materialized pair column), so ALL per-round
  * recomputation —
  * merge fold, pair rebuild, delta explode — is O(affected words ×
  * word_len); what remains per round is linear SCANS of stored state
  * (the affected filter over the vocab pair column, the argmax and
  * merge over the live pair counts) — the honest floor of the
  * formulation. The realistic tail is where this wins: most merges
  * touch a sliver of the vocabulary. Identical total order,
  * identical output (BpeSpec pins the two faces equal, merge for
  * merge and count for count) — the collected-walk/join-walk duality
  * the rank sketch already set: one face per floor regime.
  */
object Bpe {

  /** A learned merge: the "left right" pair string (tokens never
    * contain spaces — words are whitespace-split — so the encoding is
    * bijective) plus the corpus-wide weighted position count that won
    * its round. Counts are non-increasing across ranks: an old pair
    * only loses positions to a merge, and every position of a NEWLY
    * creatable pair contains a merged token, so its count is bounded
    * by the number of merges just applied ≤ the count just merged. */
  final case class Merge(pair: String, cnt: Long)

  /** Adjacent pairs of a token array as "a b" strings: pair i joins
    * toks[i] and toks[i+1] (1-based element_at; transform's lambda
    * index is 0-based). Empty for single-token words. */
  private def adjacentPairs(toks: Column): Column =
    transform(slice(toks, lit(1), size(toks) - 1),
      (x, i) => concat(x, lit(" "), element_at(toks, i + lit(2))))

  /** One merge applied to a token array: all NON-OVERLAPPING
    * occurrences, left to right, as a single left fold — if the
    * accumulator's last token is `a` and the incoming token is `b`,
    * replace the last with `a+b`, else append. Overlap resolution
    * falls out of the fold: a token just produced by a merge can
    * never be the left side of the SAME pair again (that would need
    * a = a+b, i.e. an empty b). `get` (0-based, null on out-of-range)
    * keeps the empty-accumulator probe ANSI-safe. */
  private[ops] def applyMerge(toks: Column, a: String, b: String)
      : Column =
    aggregate(toks, array().cast("array<string>"),
      (acc, x) =>
        when(get(acc, size(acc) - 1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(x))))

  /** The distinct-word frequency table seeded to code-point tokens —
    * the ONLY corpus-sized pass of the trainer. Words are whitespace
    * tokens; seed tokens are `regexp_extract_all(word, '[\s\S]')`
    * (one per code point, the oracle's identical spelling).
    * `[\s\S]` rather than `.`: Java's `.` excludes \r, U+0085,
    * U+2028, U+2029 on top of \n while RE2's excludes only \n, so a
    * word carrying a stray control separator would seed DIFFERENT
    * token arrays engine-vs-oracle under `.`; the explicit class
    * matches every code point identically in both regex dialects
    * (and matches [[graft.functions.BpeEncode]]'s codePointAt loop,
    * which never skips anything). Single-token words can never merge
    * and are dropped at seed. */
  private def seedWords(docs: DataFrame, textCol: String): DataFrame =
    seedWordsKeyed(docs, textCol).select(col("toks"), col("freq"))

  /** [[seedWords]] keeping the WORD as a stable row key plus the
    * adjacent-pair array as a materialized column — the incremental
    * face's loop-state shape. The word never changes under merges
    * (token arrays always concatenate back to it), so it keys the
    * affected-row update join for the whole run. */
  private def seedWordsKeyed(docs: DataFrame,
      textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"),
        regexp_extract_all(col("word"), lit("[\\s\\S]"), lit(0))
          .as("toks"), col("freq"))
      .filter(size(col("toks")) >= 2)
      .withColumn("pairs", adjacentPairs(col("toks")))

  /** The word-table checkpoint cadence is a two-regime knob, decided
    * ADAPTIVELY off the materialized vocab size (the walk's fuse
    * discipline): while the table is floor-sized (≤ 1M rows) each
    * round checkpoints — the per-round cost there is CATALYST
    * reanalysis of the argmax/delta plan, which grows with the fused
    * apply-lambda chain (measured at the catalog cell: cadence 1 vs 8
    * reads 4.0 vs 4.6 s recount, 6.1 vs 8.9 s incremental — the
    * difference is driver gap, not job time). Past 1M rows the
    * per-round vocab MATERIALIZATION is the cost that matters (a
    * 50k-round production vocabulary would rewrite a 10⁷-row table
    * every round — checkpoint churn), so the loop fuses 8 rounds per
    * checkpoint and the constant reanalysis cost amortizes into
    * multi-second jobs. */
  private def cadenceFor(vocabRows: Long, fused: Int): Int =
    if (vocabRows <= 1000000L) 1 else fused

  /** Learn up to `maxMerges` merges from the corpus; stops early when
    * the best remaining pair's weighted count falls below `minCount`
    * (the standard "stop below 2" rule) or no pair remains.
    *
    * @param checkpointEvery rounds between rotating local checkpoints
    *        (plan depth bound between materializations); ≥ 1, or 0 =
    *        adaptive ([[cadenceFor]]: 1 while the vocab table is
    *        floor-sized, 8 past it)
    * @return the ordered merges — rank = 1-based position, exactly
    *         the table [[graft.functions.BpeEncode]] consumes */
  def learnMerges(docs: DataFrame, textCol: String, maxMerges: Int,
      minCount: Long = 2L, checkpointEvery: Int = 0): Seq[Merge] = {
    require(maxMerges >= 0, s"learnMerges: bad maxMerges $maxMerges")
    require(checkpointEvery >= 0,
      s"learnMerges: bad checkpointEvery $checkpointEvery")
    val spark = docs.sparkSession
    val merges = ArrayBuffer.empty[Merge]
    if (maxMerges == 0) return merges.toSeq
    // one corpus pass; the checkpoint job also counts the rows that
    // size loopPartitionsOf, without re-running the corpus aggregation
    val (seed, vocabRows) = Checkpoints.counted(seedWords(docs, textCol))
    val p = Fixpoint.loopPartitionsOf(math.max(1L, vocabRows))
    val cpEvery =
      if (checkpointEvery > 0) checkpointEvery
      else cadenceFor(vocabRows, 8)
    Fixpoint.scope(spark, p) { loop =>
      val rot = loop.rotating()
      recountRounds(rot.adopt(seed), rot, merges, maxMerges, minCount,
        cpEvery)
    }
    merges.toSeq
  }

  /** The recount face's round loop from a prepared (toks, freq)
    * state, appending to `merges` — shared by [[learnMerges]] and the
    * recount arm of [[learnMergesAuto]]. Runs inside the caller's
    * [[Fixpoint.scope]]; `rot` owns the state checkpoints (including
    * the caller's seed, which the first rotation releases). */
  private def recountRounds(cur0: DataFrame, rot: Checkpoints.Rotating,
      merges: ArrayBuffer[Merge], maxMerges: Int, minCount: Long,
      cpEvery: Int): Unit = {
    var cur = cur0
    var sinceCp = 0
    var done = false
    while (!done && merges.size < maxMerges) {
      val best = cur
        .select(explode(adjacentPairs(col("toks"))).as("pair"),
          col("freq"))
        .groupBy("pair").agg(sum("freq").as("cnt"))
        .agg(min(struct((-col("cnt")).as("nc"), col("pair").as("p")))
          .as("b"))
        .select(col("b.p").as("pair"), (-col("b.nc")).as("cnt"))
        .collect()(0)
      if (best.isNullAt(0) || best.getLong(1) < minCount) done = true
      else {
        val pair = best.getString(0)
        merges += Merge(pair, best.getLong(1))
        val sp = pair.indexOf(' ')
        val (a, b) = (pair.substring(0, sp), pair.substring(sp + 1))
        // fully-merged-word drop BEFORE the rewrite, on stored
        // columns (same reasoning as updateProjection: a post-
        // rewrite size filter gets the merge fold SUBSTITUTED into
        // it by PushDownPredicates — the fold would run twice per
        // word per round): a word vanishes iff it is exactly one
        // occurrence of the pair
        val applied = cur
          .filter(!(size(col("toks")) === 2 &&
            element_at(col("toks"), 1) === a &&
            element_at(col("toks"), 2) === b))
          .select(applyMerge(col("toks"), a, b).as("toks"),
            col("freq"))
        sinceCp += 1
        cur =
          if (sinceCp >= cpEvery && merges.size < maxMerges) {
            sinceCp = 0; rot(applied)
          } else applied
      }
    }
  }

  /** [[learnMerges]] with INCREMENTAL pair-count maintenance — the
    * corpus-scale face (see the object scaladoc). Two loop states,
    * both rotating-checkpointed: the word table — here keyed by the
    * WORD (merge-invariant) and carrying its adjacent-pair array as
    * a MATERIALIZED column — and the pair-count table. Per round:
    * 1-row argmax off the materialized count table (no recount);
    * affected words found by `array_contains` on the materialized
    * pair column (an O(vocab) scan, but of stored data — no
    * per-round lambda re-evaluation); [[applyMerge]] and the new
    * pair arrays EXECUTE for affected words only — the update is a
    * single narrow `when(hit, new).otherwise(stored)` projection
    * whose branches CaseWhen evaluates lazily per row, so unaffected
    * rows pass their stored columns through — making the expensive
    * per-round work (merge fold, pair rebuild, delta explode)
    * O(affected words × word_len) while the word chain stays LINEAR
    * (a keyed self-join update would put `cur` on both sides and
    * double the plan every un-checkpointed round — 2^cadence
    * analysis blow-up, measured as a hang at explicit cadence 8).
    * The delta — affected pairs before minus after, freq-weighted —
    * folds into the counts via a full-outer join on `pair`.
    *
    * Honest per-round floor: two linear-scan terms remain that no
    * formulation of this loop removes — the affected FILTER reads
    * the vocab table (cheap columnar scan), and the argmax plus the
    * counts merge read the pair-count table (finding the max of P
    * live counters is O(P) without a driver-side heap, which cannot
    * hold 10⁸ pairs). What the incremental face retires is all
    * per-round RECOMPUTATION: no corpus pass, no vocab-wide merge
    * fold, no vocab-wide pair explode.
    *
    * Plumbing: the seed is re-checkpointed at the loop partition
    * count inside the [[Fixpoint.scope]], so the checkpoints keep
    * their partitioning (see [[Fixpoint.Scope.layout]]; the
    * word chain itself is join-free, so its hash keys are only row
    * balance, but the counts checkpoint's `pair` partitioning is
    * load-bearing: the merge join is exchange-free on the counts
    * side and only the delta — affected-sized — shuffles).
    * Counts at zero are dropped, so that state never grows past the
    * live pair vocabulary. Both cadences resolve adaptively
    * ([[cadenceFor]]: every round while floor-sized — the per-round
    * cost there is Catalyst reanalysis of the deepening chain —
    * fused 8/4 past 1M rows, where per-round state materialization
    * is the cost that matters). */
  /** The incremental face's per-round word-table update as ONE
    * narrow lazily-branching rewrite, spelled as TWO stacked
    * projections so the merge fold runs ONCE per affected row: the
    * first materializes the merged token array, the second rebuilds
    * the pair column FROM it (a single projection would evaluate
    * `applyMerge` twice — once for toks, once inside adjacentPairs —
    * and Catalyst subexpression elimination across CaseWhen branches
    * is not guaranteed for higher-order array expressions, the r19
    * advice). CollapseProject must not re-inline the fold; it
    * declines because `toks` is consumed twice downstream and its
    * producing expression is non-cheap — BpeSpec pins the optimized
    * plan's fold count at exactly 1. CaseWhen evaluates branches
    * lazily per row, so unaffected rows pass their stored columns
    * through — the O(affected) contract — and the chain stays LINEAR
    * (no self-join; see the loop comment). */
  private[graft] def updateProjection(cur: DataFrame, pair: String,
      a: String, b: String): DataFrame = {
    val hit = array_contains(col("pairs"), lit(pair))
    // the fully-merged-word drop runs BEFORE the rewrite, on STORED
    // columns only: given the loop invariant size(toks) ≥ 2, a word
    // merges down to one token exactly when it IS one occurrence of
    // the pair — size 2 and hit (any longer word keeps ≥ ⌈size/2⌉ ≥ 2
    // tokens, since a merge removes one token per non-overlapping
    // occurrence ≤ ⌊size/2⌋). Filtering post-rewrite on size(toks)
    // reads the same, but PushDownPredicates SUBSTITUTES the merge
    // fold into the pushed-down predicate — a second whole-fold
    // evaluation per row (visible in the optimized plan; codegen does
    // not eliminate subexpressions across Filter/Project operators).
    cur
      .filter(!(size(col("toks")) === 2 && hit))
      .select(col("word"),
        when(hit, applyMerge(col("toks"), a, b))
          .otherwise(col("toks")).as("toks"),
        col("freq"), hit.as("_hit"), col("pairs"))
      .select(col("word"), col("toks"), col("freq"),
        when(col("_hit"), adjacentPairs(col("toks")))
          .otherwise(col("pairs")).as("pairs"))
  }

  def learnMergesIncremental(docs: DataFrame, textCol: String,
      maxMerges: Int, minCount: Long = 2L, checkpointEvery: Int = 0,
      countsCheckpointEvery: Int = 0): Seq[Merge] = {
    require(maxMerges >= 0,
      s"learnMergesIncremental: bad maxMerges $maxMerges")
    require(checkpointEvery >= 0,
      s"learnMergesIncremental: bad checkpointEvery $checkpointEvery")
    require(countsCheckpointEvery >= 0,
      "learnMergesIncremental: bad countsCheckpointEvery " +
        countsCheckpointEvery)
    // a words checkpoint RELEASES its predecessor; any counts-chain
    // delta still lazy at that moment was built on the released
    // frame and would fail to re-execute. Aligning the cadences puts
    // a counts materialization (which runs before the words rotation
    // in the round body) at every words-checkpoint round, so no
    // pending delta outlives the words frame it reads. Two EXPLICIT
    // cadences that violate the alignment are a caller error — loud
    // HERE, before the seed is checkpointed, so the failure path
    // cannot leak the seed's blocks; when either cadence resolves
    // adaptively the resolved counts cadence is instead rounded DOWN
    // to a divisor of the words cadence (below), so adaptive
    // resolution can never reach a failure path at all.
    if (checkpointEvery > 0 && countsCheckpointEvery > 0)
      require(checkpointEvery % countsCheckpointEvery == 0,
        "learnMergesIncremental: the words cadence must be a " +
          "multiple of the counts cadence " +
          s"($checkpointEvery % $countsCheckpointEvery != 0)")
    val spark = docs.sparkSession
    val merges = ArrayBuffer.empty[Merge]
    if (maxMerges == 0) return merges.toSeq
    // seed once under AQE, counted by the checkpoint job; the
    // loop-state copy is re-checkpointed word-partitioned under the
    // static planner below
    val (seed0, vocabRows) =
      Checkpoints.counted(seedWordsKeyed(docs, textCol))
    val p = Fixpoint.loopPartitionsOf(math.max(1L, vocabRows))
    val cpW =
      if (checkpointEvery > 0) checkpointEvery
      else cadenceFor(vocabRows, 8)
    val cpC = {
      val asked =
        if (countsCheckpointEvery > 0) countsCheckpointEvery
        else cadenceFor(vocabRows, 4)
      // largest divisor of cpW not exceeding the asked cadence (1
      // always qualifies); checkpoints only ever land MORE often
      // than asked, which is safe — the alignment invariant holds
      (math.min(asked, cpW) to 1 by -1).find(cpW % _ == 0).get
    }
    // an EXPLICIT counts cadence can be silently rounded down here
    // when the words cadence resolved adaptively (the explicit-
    // explicit mismatch fails loudly above) — stamp it, so a cadence
    // experiment can't unknowingly measure a different cadence
    if (countsCheckpointEvery > 0 && cpC != countsCheckpointEvery)
      System.err.println("learnMergesIncremental: " +
        s"countsCheckpointEvery=$countsCheckpointEvery rounded to " +
        s"$cpC (largest divisor of the adaptive words cadence $cpW)")
    Fixpoint.scope(spark, p) { loop =>
      val rotW = loop.rotating()
      val rotC = loop.rotating()
      val cur = rotW(seed0.repartition(p, col("word")))
      Checkpoints.release(seed0)
      // seed counts: the one full pair explode of this face — off
      // the MATERIALIZED pair column
      val counts = rotC(cur
        .select(explode(col("pairs")).as("pair"), col("freq"))
        .groupBy("pair").agg(sum("freq").as("cnt"))
        .repartition(p, col("pair")))
      incrementalRounds(cur, counts, rotW, rotC, merges, maxMerges,
        minCount, cpW, cpC, p, probe = 0, onAffected = null): Unit
    }
    merges.toSeq
  }

  /** The incremental face's round loop from prepared (word table,
    * pair-count table) states, appending to `merges` — shared by
    * [[learnMergesIncremental]] and [[learnMergesAuto]]. Runs inside
    * the caller's [[Fixpoint.scope]]; the rotators own the state
    * checkpoints. For the first `probe` rounds of THIS call the
    * affected-row count is materialized (one extra count job per
    * probed round — the statistic both faces' duality turns on) and
    * fed to `onAffected`.
    * @return (word state, counts state, exhausted) at exit —
    *         `exhausted` = the pair supply ended (best below
    *         minCount), as opposed to reaching maxMerges; the
    *         returned states may be LAZY plans over the rotators'
    *         last checkpoints. */
  private def incrementalRounds(cur0: DataFrame, counts0: DataFrame,
      rotW: Checkpoints.Rotating, rotC: Checkpoints.Rotating,
      merges: ArrayBuffer[Merge], maxMerges: Int, minCount: Long,
      cpW: Int, cpC: Int, p: Int, probe: Int,
      onAffected: Long => Unit): (DataFrame, DataFrame, Boolean) = {
    var cur = cur0
    var counts = counts0
    val start = merges.size
    var sinceCp = 0
    var sinceCpC = 0
    var done = false
    var exhausted = false
    while (!done && merges.size < maxMerges) {
      val best = counts
        .agg(min(struct((-col("cnt")).as("nc"), col("pair").as("p")))
          .as("b"))
        .select(col("b.p").as("pair"), (-col("b.nc")).as("cnt"))
        .collect()(0)
      if (best.isNullAt(0) || best.getLong(1) < minCount) {
        done = true; exhausted = true
      } else {
        val pair = best.getString(0)
        merges += Merge(pair, best.getLong(1))
        val sp = pair.indexOf(' ')
        val (a, b) = (pair.substring(0, sp), pair.substring(sp + 1))
        // affected = words containing the pair, found on the
        // STORED pair column; merge fold + pair rebuild run for
        // these rows only
        val affected = cur
          .filter(array_contains(col("pairs"), lit(pair)))
        if (merges.size - start <= probe && onAffected != null)
          onAffected(affected.count())
        // delta: affected pre-merge pairs leave the counts,
        // post-merge pairs enter (a word merged to one token has
        // an empty new-pair array — contributes nothing, and the
        // update projection below drops it from the word table)
        val delta = affected
          .select(explode(col("pairs")).as("pair"),
            (-col("freq")).as("d"))
          .unionAll(affected
            .select(explode(adjacentPairs(
              applyMerge(col("toks"), a, b))).as("pair"),
              col("freq").as("d")))
          .groupBy("pair").agg(sum("d").as("d"))
          .repartition(p, col("pair"))
        val merged = counts.join(delta, Seq("pair"), "full_outer")
          .select(col("pair"),
            (coalesce(col("cnt"), lit(0L)) +
              coalesce(col("d"), lit(0L))).as("cnt"))
          .filter(col("cnt") > 0)
        // mirror the words-side `merges.size < maxMerges` guard:
        // the final round needs no counts checkpoint — nothing
        // lazy survives the loop exit (the scope releases it), so a
        // cadence-boundary landing on the last merge would pay one
        // materialization only to immediately free it
        sinceCpC += 1
        counts =
          if (sinceCpC >= cpC && merges.size < maxMerges) {
            sinceCpC = 0; rotC(merged)
          } else merged
        // the O(affected) word-table rewrite (see updateProjection;
        // a word-keyed update join was the first spelling, refuted:
        // cur on both sides DOUBLES the plan every un-checkpointed
        // round — 2^cadence analysis blow-up at explicit cadences;
        // the projection keeps the chain linear like the recount
        // face and never touches the checkpoint partitioning)
        val applied = updateProjection(cur, pair, a, b)
        sinceCp += 1
        cur =
          if (sinceCp >= cpW && merges.size < maxMerges) {
            sinceCp = 0; rotW(applied)
          } else applied
      }
    }
    (cur, counts, exhausted)
  }

  /** [[learnMergesAuto]]'s result: the merges (identical to either
    * fixed face — the total order is a corpus function, not a face
    * function), the face that ran the post-probe rounds, and the
    * measured mean affected fraction the choice turned on. */
  final case class AutoLearn(merges: Seq[Merge], face: String,
      affectedFrac: Double)

  /** MEASURED face selection for the trainer — closes the duality the
    * two fixed faces left manual (the r19 two-fixture ramp proved
    * each wins its regime; callers had to know theirs). Seeds the
    * incremental face's keyed state (its corpus pass subsumes the
    * recount face's), runs `probeRounds` incremental rounds
    * MEASURING the affected-row fraction (the statistic the duality
    * turns on — the affected filter's count, one extra bounded job
    * per probed round), then commits the remaining rounds to the
    * measured winner:
    *
    *  - mean affected/vocab ≥ `switchFrac` — the SUFFIX regime: most
    *    rounds rewrite most of the vocabulary, so the incremental
    *    face pays its second loop state and delta shuffles on top of
    *    recount-sized rewrites. The word state drops its key/pair
    *    columns and the recount loop finishes the run.
    *  - below `switchFrac` — the PRODUCTION-TAIL regime: merges touch
    *    a sliver of the vocabulary; the incremental face continues
    *    from the probe-end states (counts checkpointed BEFORE the
    *    word table — the alignment invariant).
    *
    * Output is bit-identical to both fixed faces by construction
    * (BpeSpec pins it; the ramp cells pin that each fixture picks its
    * measured winner). `switchFrac` defaults to 0.05: measured at the
    * catalog cell, the suffix fixture reads 0.27, the plain sf0.01
    * corpus 0.12, the disjoint-tail fixture 0.0006 — better than an
    * order of magnitude of slack on each side of the bar. */
  def learnMergesAuto(docs: DataFrame, textCol: String,
      maxMerges: Int, minCount: Long = 2L, probeRounds: Int = 3,
      switchFrac: Double = 0.05): AutoLearn = {
    require(maxMerges >= 0, s"learnMergesAuto: bad maxMerges $maxMerges")
    require(probeRounds >= 1,
      s"learnMergesAuto: bad probeRounds $probeRounds")
    require(switchFrac > 0 && switchFrac < 1,
      s"learnMergesAuto: bad switchFrac $switchFrac")
    val spark = docs.sparkSession
    val merges = ArrayBuffer.empty[Merge]
    if (maxMerges == 0) return AutoLearn(Nil, "incremental", 0.0)
    val (seed0, vocabRows) =
      Checkpoints.counted(seedWordsKeyed(docs, textCol))
    val p = Fixpoint.loopPartitionsOf(math.max(1L, vocabRows))
    var affectedSum = 0L
    var probed = 0
    var face = "incremental"
    val frac = Fixpoint.scope(spark, p) { loop =>
      val rotW = loop.rotating()
      val rotC = loop.rotating()
      val cur = rotW(seed0.repartition(p, col("word")))
      Checkpoints.release(seed0)
      val counts = rotC(cur
        .select(explode(col("pairs")).as("pair"), col("freq"))
        .groupBy("pair").agg(sum("freq").as("cnt"))
        .repartition(p, col("pair")))
      // probe phase: cadence 1 (probeRounds is small and every-round
      // checkpoints keep the probe states materialized)
      val (c1, k1, exhausted) = incrementalRounds(cur, counts, rotW,
        rotC, merges, math.min(probeRounds, maxMerges), minCount,
        1, 1, p, probe = probeRounds,
        onAffected = a => { affectedSum += a; probed += 1 })
      val fr =
        if (probed == 0 || vocabRows == 0) 0.0
        else affectedSum.toDouble / probed / vocabRows
      if (!exhausted && merges.size < maxMerges) {
        if (fr >= switchFrac) {
          // SUFFIX regime — finish on the recount face: the word
          // state sheds its key and pair columns; the pending counts
          // delta is discarded unexecuted (nothing references it)
          face = "recount"
          val cur2 = rotW(c1.select(col("toks"), col("freq")))
          rotC.releaseLast()
          recountRounds(cur2, rotW, merges, maxMerges, minCount,
            cadenceFor(vocabRows, 8))
        } else {
          // TAIL regime — continue incrementally at the adaptive
          // cadences; counts materialize BEFORE the word rotation
          // releases the frame their pending delta reads (the
          // alignment invariant)
          val k2 = rotC(k1)
          val c2 = rotW(c1)
          val cpW = cadenceFor(vocabRows, 8)
          val cpC = {
            val asked = cadenceFor(vocabRows, 4)
            (math.min(asked, cpW) to 1 by -1).find(cpW % _ == 0).get
          }
          incrementalRounds(c2, k2, rotW, rotC, merges, maxMerges,
            minCount, cpW, cpC, p, probe = 0, onAffected = null): Unit
        }
      }
      fr
    }
    AutoLearn(merges.toSeq, face, frac)
  }
}
