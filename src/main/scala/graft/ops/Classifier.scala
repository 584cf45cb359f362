package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.{Checkpoints, Fixpoint}

/** Distributed QUALITY-CLASSIFIER training — the second LEARNED
  * artifact of the curation pipeline (after [[Bpe]]'s vocabulary):
  * the CCNet/DCLM-shaped gate that scores every document with a
  * linear model over hashed n-gram features, trained in-engine by
  * batch gradient descent (Weinberger et al. 2009 "Feature Hashing
  * for Large Scale Multitask Learning" for the feature map;
  * fastText-style text classification for the model shape — both
  * public).
  *
  * Model: binary logistic regression over hashed unigram+bigram
  * COUNTS (bucket = Spark Murmur3 `hash(gram) mod buckets` — a power
  * of two, so the bucket is the hash's low bits in both engines) plus
  * a bias, with the logistic sigmoid replaced by its fixed-point
  * HARD variant `p = clamp(z/4 + 1/2, 0, 1)` (the standard quantized
  *-training surrogate — slope 1/4 matches the logistic at 0). Every
  * quantity is an INTEGER at scale `Config.scale`: z = Σ w·x + b is
  * a long dot product of long weights with count features, the
  * per-doc error `p − y` is a long in [−scale, scale], the gradient
  * is a long sum of error×count products (associative — any
  * aggregation order lands the same bits), and the update divides by
  * `lrDen·n` with truncation spelled `(g − g mod d) div d` — exact
  * in both engines because the subtraction makes the dividend
  * divisible. The whole trajectory is therefore a deterministic
  * integer function of the corpus, which is what lets the full
  * 8-epoch training run replay in DuckDB as an unrolled CTE chain
  * (q_classifier_train) — the [[Bpe.learnMerges]] discipline applied
  * to gradient descent.
  *
  * Distribution shape, and why it holds at 100 TB: the corpus is
  * touched ONCE to build the sparse feature table (ONE scan: the
  * bias pseudo-bucket rides the same gram explode → map-side bucket
  * hash → (doc, bucket, cnt) groupBy — the only corpus-keyed
  * shuffle), which is then localCheckpoint'd partitioned BY DOCUMENT
  * and sorted by document within partitions. Each epoch is ONE pass
  * over that table: weights (buckets+1 longs — model-sized, never
  * corpus-sized) broadcast in as a literal table, the per-doc dot
  * product attached by a whole-partition WINDOW that rides the
  * checkpoint's partitioning+ordering (no exchange, no sort, no
  * join-back), and the gradient comes back through a
  * map-side-combined bucket aggregation whose post-shuffle size is
  * ≤ buckets+1 rows — the per-epoch driver collect is model-sized
  * (the BPE argmax discipline), so executors never see the weights
  * as state and the driver never sees the corpus. Epochs are
  * inherently sequential (each update feeds the next epoch's
  * broadcast); the per-epoch cost is one feature-table scan — flat
  * in epochs, linear in corpus.
  */
object Classifier {

  /** Bias pseudo-bucket: rides the feature table as bucket −1 with
    * count 1 per document, so the dot product, the gradient, and the
    * update treat it uniformly (its gradient is Σ error — exactly
    * the bias gradient). */
  val Bias: Int = -1

  /** Fixed-point training configuration. `buckets` must be a power
    * of two (bucket = hash low bits — the identical spelling in
    * Spark's `pmod(hash, B)` and the oracle's `u % B`); `scale` even
    * (the hard sigmoid adds scale/2); learning rate = lrNum/(lrDen·n)
    * with n the labeled-doc count, so the update is an average
    * gradient step whatever the corpus size. */
  final case class Config(
      buckets: Int = 4096,
      epochs: Int = 8,
      lrNum: Long = 1L,
      lrDen: Long = 200L,
      scale: Long = 1000000L,
      slope: Long = 4L) {
    require(buckets >= 2 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two >= 2: $buckets")
    require(epochs >= 0, s"epochs must be >= 0: $epochs")
    require(lrNum >= 1 && lrDen >= 1, s"bad learning rate $lrNum/$lrDen")
    require(scale >= 2 && scale % 2 == 0, s"scale must be even: $scale")
    require(slope >= 1, s"slope must be >= 1: $slope")
  }

  private[ops] def words(text: Column): Column =
    filter(split(text, " "), w => w =!= lit(""))

  /** Unigram + bigram occurrences of the whitespace-split text (the
    * [[Bpe]] adjacent-pairs idiom over words instead of tokens). */
  private[ops] def gramsOf(text: Column): Column =
    gramsOfWords(words(text))

  /** [[gramsOf]] over an ALREADY-SPLIT word array — for call sites
    * that also need the word array itself (token counts, multi-model
    * scoring) and must not pay the split twice (guide §2.3: project
    * once, reuse). */
  private[ops] def gramsOfWords(t: Column): Column = {
    // greatest(…, 0): slice rejects a negative length, and an EMPTY
    // word array (text of only separators) must yield zero grams,
    // not an error — the oracle's generate_series(1, greatest(n−1,0))
    // has the same guard
    concat(t, transform(
      slice(t, lit(1), greatest(size(t) - 1, lit(0))),
      (x, i) => concat(x, lit(" "), element_at(t, i + lit(2)))))
  }

  /** The per-row BUCKET array: every gram hashed to its model bucket
    * (plus the [[Bias]] pseudo-bucket prepended when `withBias`) —
    * the shared projection the feature build explodes and the
    * multi-model scorer folds over. Hashing happens ONCE per gram
    * here; everything downstream moves ints, not gram strings. */
  private[ops] def bucketsOfWords(t: Column, buckets: Int,
      withBias: Boolean): Column = {
    val bs = transform(gramsOfWords(t),
      g => pmod(hash(g), lit(buckets)).cast("int"))
    if (withBias) concat(array(lit(Bias)), bs) else bs
  }

  // NOTE: there is deliberately no shared "hashedGramFeatures"
  // helper: the trainer's feature build carries the label column and
  // the scorer deliberately SKIPS the (id, bucket) count pre-agg
  // (its scaladoc) — a parameterized third spelling would serve no
  // caller and could drift against both (r19 advice).

  /** Train on (id, text, label∈{0,1}); returns the full weight table
    * ordered by bucket — [[Bias]] first, then 0..buckets−1 — in
    * `scale` fixed-point units. Deterministic: same corpus, same
    * bits, both engines. */
  def train(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, cfg: Config = Config())
      : IndexedSeq[(Int, Long)] =
    trainImpl(labeled, idCol, textCol, labelCol, cfg)((w, _) => w)

  /** INCREMENTAL retrain: warm-start gradient descent from a stored
    * weight table on an APPENDED batch — the daily-ingest shape for a
    * deployed gate (the incremental-triple discipline — exact dedup,
    * near-dup, ANN ingest — applied to the trainer): the full corpus
    * is never re-touched, only the delta builds a feature table, and
    * each epoch's update steps the STORED model. Deterministic like
    * [[train]] (the learning rate divides by the DELTA's doc count —
    * an average-gradient step over the batch), so the warm-started
    * trajectory replays in SQL as the same unrolled CTE chain
    * parameterized by nonzero initial weights. An EMPTY delta is a
    * fixed point: zero feature rows ⇒ zero gradient ⇒ the stored
    * weights return unchanged (no epoch jobs run). */
  def retrain(labeled: DataFrame, idCol: String, textCol: String,
      labelCol: String, init: Seq[(Int, Long)],
      cfg: Config = Config()): IndexedSeq[(Int, Long)] =
    trainImpl(labeled, idCol, textCol, labelCol, cfg, init)((w, _) => w)

  /** [[train]] plus the FINAL model's per-doc scores, computed off
    * the SAME feature table the loop just used (no second corpus
    * pass — the feature build is the trainer's one corpus-sized
    * cost, and the post-training evaluation/selection every gate
    * deployment runs next should not pay it twice). Returns
    * (weights, scores) where scores = (id, _y, score) — the label
    * rides along for confusion matrices — localCheckpoint'd
    * (docs-sized) so it survives the feature table's release;
    * callers let it context-clean when unreachable (the
    * selectUnderBudget precedent). */
  def trainWithScores(labeled: DataFrame, idCol: String,
      textCol: String, labelCol: String, cfg: Config = Config())
      : (IndexedSeq[(Int, Long)], DataFrame) =
    trainImpl(labeled, idCol, textCol, labelCol, cfg) { (w, feats) =>
      val spark = feats.sparkSession
      val wDf = broadcast(
        spark.createDataFrame(w).toDF("bucket", "w"))
      (w, feats.join(wDf, Seq("bucket"))
        .groupBy(col(idCol), col("_y"))
        .agg(sum(col("w") * col("cnt")).as("score"))
        .localCheckpoint())
    }

  private def trainImpl[T](labeled: DataFrame, idCol: String,
      textCol: String, labelCol: String, cfg: Config,
      init: Seq[(Int, Long)] = Nil)(
      finish: (IndexedSeq[(Int, Long)], DataFrame) => T): T = {
    val spark = labeled.sparkSession
    // the label rides the gram explode (one more byte-ish per row
    // through the feature groupBy) instead of joining back on id —
    // one corpus-keyed shuffle at seed time, not two. The BIAS
    // pseudo-bucket rides the SAME explode (prepended to the per-doc
    // bucket array, −1 occurs exactly once per doc so its count
    // aggregates to 1) instead of a separate union branch — the
    // union spelling scanned the corpus twice at seed time (guide
    // §2.4: remove the second pass outright); rows are bit-identical.
    val base = labeled.filter(col(textCol).isNotNull)
      .select(col(idCol), col(labelCol).cast("long").as("_y"),
        col(textCol))
    val cp0 = base
      .select(col(idCol), col("_y"),
        explode(bucketsOfWords(words(col(textCol)), cfg.buckets,
          withBias = true)).as("bucket"))
      .groupBy(col(idCol), col("_y"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    // ONE stats job over the materialized checkpoint: row count (the
    // partition sizing input) and labeled-doc count (the learning-
    // rate denominator — exactly one bias row per doc) together,
    // instead of a count job now plus a bias-filter count job later.
    // The same job also enforces train's id-UNIQUENESS contract
    // (r21, advisor): the per-doc dot-product window partitions by id
    // alone, so duplicate ids would silently pool their features into
    // one z (the pre-r20 id-keyed error join was just as ill-defined
    // for dup ids, only differently) — fail loudly instead.
    val stats = cp0.agg(count(lit(1)),
      count(when(col("bucket") === Bias, lit(1))),
      countDistinct(when(col("bucket") === Bias, col(idCol))))
      .collect()(0)
    val featRows = stats.getLong(0)
    val nDocs = stats.getLong(1)
    require(nDocs == stats.getLong(2),
      s"train: $idCol must be unique across labeled docs " +
        s"($nDocs labeled rows, ${stats.getLong(2)} distinct ids)")
    // each epoch is a CPU-dense pass over the feature table
    val p = Fixpoint.densePartitionsOf(spark, featRows)
    val w = new Array[Long](cfg.buckets)
    var b0 = 0L
    init.foreach { case (b, v) =>
      require(b >= Bias && b < cfg.buckets,
        s"init bucket $b outside [$Bias, ${cfg.buckets})")
      if (b == Bias) b0 = v else w(b) = v
    }
    // broadcast OFF session-wide, ON by explicit hint for the weights
    // only: the error frame is doc-sized (never broadcastable at
    // corpus scale — its intermediate stats estimate must not tempt
    // the planner), the weights are model-sized always
    Fixpoint.scope(spark, p, allowBroadcast = false) { loop =>
      // laid out BY DOCUMENT: the per-doc dot product runs as a WINDOW
      // over the layout — no per-epoch join back on id, no per-epoch
      // sort (the join spelling scanned the feature table twice per
      // epoch and sort-merged it against the error frame)
      val feats = loop.layout(cp0, idCol)
      Checkpoints.release(cp0)
      val n = nDocs
      // a cold-start train with nothing to learn from is a caller
      // error; an empty RETRAIN delta is the documented fixed point —
      // the epoch loop is skipped (n = 0 ⇒ zero gradient anyway, but
      // dividing the learning rate by 0 must never be reached)
      require(n > 0 || init.nonEmpty,
        "train: no labeled documents with text")
      val den = cfg.lrDen * math.max(n, 1L)
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol))
      var ep = 0
      while (ep < cfg.epochs && n > 0) {
        val wDf = broadcast(spark.createDataFrame(
          (Bias until cfg.buckets).map(b =>
            (b, if (b == Bias) b0 else w(b)))).toDF("bucket", "w"))
        // ONE feature-table pass per epoch: broadcast weight lookup →
        // whole-partition window sum (the per-doc dot product z,
        // attached to every feature row — long addition commutes, so
        // the window's sum is bit-equal to the old groupBy+join's) →
        // per-row hard-sigmoid error → model-sized bucket gradient.
        // Plan: scan → BHJ → Window (no exchange, no sort — the
        // layout) → partial agg → ONE ≤buckets+1-row exchange.
        val err =
          greatest(lit(0L), least(lit(cfg.scale),
            expr(s"(z - z % ${cfg.slope}) div ${cfg.slope}")
              + lit(cfg.scale / 2))) - col("_y") * cfg.scale
        val grad = feats.join(wDf, Seq("bucket"))
          .select(col(idCol), col("_y"), col("bucket"), col("cnt"),
            sum(col("w") * col("cnt")).over(win).as("z"))
          .groupBy(col("bucket"))
          .agg(sum(err * col("cnt")).as("g"))
          .collect()
        grad.foreach { r =>
          val b = r.getInt(0)
          val g = cfg.lrNum * r.getLong(1)
          // (g - g mod den) / den is exact truncation toward zero —
          // Scala long division agrees, spelled this way to mirror
          // the oracle bit for bit
          val upd = (g - g % den) / den
          if (b == Bias) b0 -= upd else w(b) -= upd
        }
        ep += 1
      }
      val weights = (Bias until cfg.buckets).map(b =>
        b -> (if (b == Bias) b0 else w(b)))
      finish(weights, feats)
    }
  }

  /** Score (id, text) docs with a trained weight table: grams map
    * straight through the broadcast weight lookup into ONE doc-keyed
    * aggregation — the 100 TB INFERENCE path. No (id, bucket) count
    * pre-aggregation: that intermediate earns its shuffle only in
    * the training loop, where it is scanned once per epoch; scoring
    * reads each gram once, and a doc's grams arrive co-located in
    * its input partition, so the map-side partial agg collapses them
    * before the single exchange (measured: the two-shuffle spelling
    * cost q_classifier_eval ~2 s extra at the catalog cell). Returns
    * (id, score), score = z in `scale` fixed-point units (decision
    * boundary z > 0); gram-less docs still score (bias row). */
  def score(docs: DataFrame, idCol: String, textCol: String,
      weights: Seq[(Int, Long)], buckets: Int): DataFrame = {
    val spark = docs.sparkSession
    val wDf = broadcast(
      spark.createDataFrame(weights).toDF("bucket", "w"))
    val base = docs.filter(col(textCol).isNotNull)
    base.select(col(idCol), explode(gramsOf(col(textCol))).as("_g"))
      .select(col(idCol),
        pmod(hash(col("_g")), lit(buckets)).cast("int").as("bucket"))
      .unionByName(base.select(col(idCol), lit(Bias).as("bucket")))
      .join(wDf, Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("w")).as("score"))
  }

  /** The trained gate as a PER-ROW EXPRESSION: the non-zero weights
    * ride as a literal map and the score folds over the row's own
    * grams — `bias + Σ coalesce(wMap[hash(g) mod B], 0)`. No join,
    * no aggregation, no shuffle, no state: this is the deployed
    * inference shape (a streaming ingest gate scores each micro-batch
    * map-only, and a 100 TB batch gate is one projection over the
    * corpus scan). Integer addition commutes, so the fold equals
    * [[score]]'s aggregated dot product bit for bit; docs with no
    * grams score the bias, matching the feature table's bias row. */
  def scoreExpr(text: Column, weights: Seq[(Int, Long)],
      buckets: Int): Column =
    scoreExprOverBuckets(
      bucketsOfWords(words(text), buckets, withBias = false), weights)

  /** The whitespace word array the gate splits on — public with
    * [[bucketsExpr]] so a call site that needs BOTH the score and the
    * token count (or several models' scores) can materialize the
    * split once instead of re-splitting per expression. */
  def wordsExpr(text: Column): Column = words(text)

  /** The hashed bucket array of a word array's unigram+bigram grams —
    * the input [[scoreExprOverBuckets]] folds over. */
  def bucketsExpr(wordArr: Column, buckets: Int): Column =
    bucketsOfWords(wordArr, buckets, withBias = false)

  /** [[scoreExpr]]'s fold over an ALREADY-HASHED bucket array (no
    * [[Bias]] element — [[bucketsOfWords]] with `withBias = false`):
    * for call sites scoring each row with SEVERAL models (the drift
    * report scores old and new weights off one scan), the gram
    * split+concat+hash runs ONCE into a materialized int-array
    * column and every model folds over it — the old spelling
    * re-built the gram strings and re-hashed them per model (guide
    * §2.3: compute the proxy once, reuse it). Fold order and
    * arithmetic are unchanged, so the score is bit-equal. */
  def scoreExprOverBuckets(bucketArr: Column,
      weights: Seq[(Int, Long)]): Column = {
    val bias = weights.collectFirst { case (Bias, v) => v }
      .getOrElse(0L)
    val wMap = typedLit(weights
      .filter { case (b, v) => b != Bias && v != 0L }.toMap)
    aggregate(bucketArr, lit(bias),
      (acc, b) => acc + coalesce(element_at(wMap, b), lit(0L)))
  }

  /** The labeled training set the catalog trains on, built
    * deterministically from the corpus itself: every document is a
    * POSITIVE, and its word-sorted twin — same unigram multiset,
    * bigram structure destroyed — is the NEGATIVE (the fastText/DCLM
    * construction: curated text vs degenerate text; here the
    * degenerate class is synthesized so the label is exact and the
    * classes perfectly balanced). Twin ids interleave (2·id, 2·id+1)
    * to stay unique. The classifier must learn to separate natural
    * word order from sorted order out of bigram buckets alone — the
    * unigram features are identical within every pair, so any signal
    * it finds is genuinely the n-gram structure. */
  def realVsShuffled(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val base = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as(idCol), col(textCol))
    base.select((col(idCol) * 2).as(idCol), col(textCol),
        lit(1L).as("y"))
      .unionByName(base.select((col(idCol) * 2 + 1).as(idCol),
        concat_ws(" ", sort_array(words(col(textCol))))
          .as(textCol),
        lit(0L).as("y")))
  }
}
