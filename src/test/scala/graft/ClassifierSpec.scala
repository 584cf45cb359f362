package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Tables
import graft.ops.Classifier

/** Quality-classifier trainer (graft.ops.Classifier): fixed-point GD
  * semantics on corpora small enough to verify by hand, determinism,
  * guards, and the learning claim on the catalog construction. The
  * corpus-level differential (8 epochs, 4097 weights vs the unrolled
  * SQL replay) is q_classifier_train/_eval/_select in the driver's
  * oracle gate. */
class ClassifierSpec extends AnyFunSuite {
  import TestSession._

  private val S = 1000000L

  private def bucketOf(g: String, buckets: Int = 4096): Int = {
    import spark.implicits._
    Seq(g).toDF("g")
      .select(pmod(hash(col("g")), lit(buckets)).cast("int"))
      .collect()(0).getInt(0)
  }

  test("one epoch on one real/twin pair is hand-computable: unigram " +
      "gradients cancel within the pair, bigram buckets move " +
      "±S/2 · lr, bias stays zero") {
    import spark.implicits._
    // real "b a" (y=1), twin = sorted "a b" (y=0): unigrams {a, b}
    // identical, bigrams disjoint ("b a" real-only, "a b" twin-only)
    val bs = Seq("a", "b", "b a", "a b").map(bucketOf(_))
    assume(bs.distinct.size == 4, "hash collision in the tiny fixture")
    val labeled = Classifier.realVsShuffled(
      Seq((7L, "b a")).toDF("doc_id", "text"), "doc_id", "text")
    // epoch 1 from zero weights: z = 0 → p = S/2 → err = ±S/2;
    // n = 2, den = 200·2 = 400 → |update| = tdiv(S/2, 400) = 1250
    val w = Classifier.train(labeled, "doc_id", "text", "y",
      Classifier.Config(epochs = 1)).toMap
    assert(w(bucketOf("b a")) === 1250L)
    assert(w(bucketOf("a b")) === -1250L)
    assert(w(bucketOf("a")) === 0L && w(bucketOf("b")) === 0L)
    assert(w(Classifier.Bias) === 0L)
    // the 1-epoch model already separates the pair, and score()
    // reproduces the dot product: real z = +1250, twin z = −1250
    val sc = Classifier.score(labeled, "doc_id", "text",
        w.toSeq, 4096)
      .as[(Long, Long)].collect().toMap
    assert(sc(14L) === 1250L && sc(15L) === -1250L)
  }

  test("retrain warm-started from a 1-epoch model equals the 2-epoch " +
      "training; an empty delta is a fixed point") {
    import spark.implicits._
    val labeled = Classifier.realVsShuffled(
      Seq((7L, "b a")).toDF("doc_id", "text"), "doc_id", "text")
    // warm-starting the NEXT epoch from the stored weights must walk
    // the identical trajectory: retrain(1 epoch, init = 1-epoch
    // model) on the same batch IS the cold training's second epoch
    val w1 = Classifier.train(labeled, "doc_id", "text", "y",
      Classifier.Config(epochs = 1))
    val w2 = Classifier.retrain(labeled, "doc_id", "text", "y", w1,
      Classifier.Config(epochs = 1))
    assert(w2 === Classifier.train(labeled, "doc_id", "text", "y",
      Classifier.Config(epochs = 2)))
    // an empty delta (no rows, or rows with no text) contributes zero
    // gradient: the stored weights come back unchanged, epochs run 0
    val empty = Seq.empty[(Long, String, Long)]
      .toDF("doc_id", "text", "y")
    assert(Classifier.retrain(empty, "doc_id", "text", "y", w2,
      Classifier.Config(epochs = 3)) === w2)
    val nulls = Seq((1L, null: String, 1L)).toDF("doc_id", "text", "y")
    assert(Classifier.retrain(nulls, "doc_id", "text", "y", w2,
      Classifier.Config(epochs = 3)) === w2)
    // a COLD train on an empty corpus is still a caller error
    intercept[IllegalArgumentException](
      Classifier.train(empty, "doc_id", "text", "y",
        Classifier.Config(epochs = 1)))
    // init buckets outside [-1, buckets) are rejected
    intercept[IllegalArgumentException](
      Classifier.retrain(empty, "doc_id", "text", "y",
        Seq(4096 -> 1L), Classifier.Config()))
  }

  test("epochs = 0 returns the zero model; guards reject bad configs") {
    import spark.implicits._
    val labeled = Classifier.realVsShuffled(
      Seq((1L, "x y")).toDF("doc_id", "text"), "doc_id", "text")
    val w0 = Classifier.train(labeled, "doc_id", "text", "y",
      Classifier.Config(epochs = 0))
    assert(w0.size === 4097 && w0.forall(_._2 == 0L))
    intercept[IllegalArgumentException](Classifier.Config(buckets = 100))
    intercept[IllegalArgumentException](Classifier.Config(scale = 7L))
    intercept[IllegalArgumentException](
      Classifier.Config(lrNum = 0L))
  }

  test("training is deterministic and learns the catalog gate: two " +
      "runs bit-equal, accuracy >= 0.95 on a corpus slice") {
    val docs = Tables.df(spark, "/root/testdata/sf0.001", "documents")
      .limit(120).localCheckpoint()
    val labeled = Classifier.realVsShuffled(docs, "doc_id", "text")
    val cfg = Classifier.Config()
    val w1 = Classifier.train(labeled, "doc_id", "text", "y", cfg)
    val w2 = Classifier.train(labeled, "doc_id", "text", "y", cfg)
    assert(w1 === w2)
    val preds = Classifier.score(labeled, "doc_id", "text", w1, 4096)
      .join(labeled.select(col("doc_id"), col("y")), Seq("doc_id"))
      .select(sum(when((col("score") > 0) === (col("y") === 1L), 1L)
        .otherwise(0L)), count(lit(1)))
      .collect()(0)
    val acc = preds.getLong(0).toDouble / preds.getLong(1)
    assert(acc >= 0.95, s"train accuracy $acc")
    graft.core.Checkpoints.release(docs)
  }

  test("scoreExpr (the map-only deployed gate) equals the aggregated " +
      "scorer bit for bit, including the gram-less bias-only edge") {
    import spark.implicits._
    val docs = Tables.df(spark, "/root/testdata/sf0.001", "documents")
      .limit(60)
    val labeled = Classifier.realVsShuffled(docs, "doc_id", "text")
    val w = Classifier.train(labeled, "doc_id", "text", "y",
      Classifier.Config(epochs = 2))
    val viaAgg = Classifier.score(docs, "doc_id", "text", w, 4096)
      .as[(Long, Long)].collect().toMap
    val viaExpr = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        Classifier.scoreExpr(col("text"), w, 4096).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(viaAgg === viaExpr)
    // a doc with no grams scores exactly the bias on both paths
    val empty = Seq((99L, "")).toDF("doc_id", "text")
    val bias = w.collectFirst {
      case (Classifier.Bias, v) => v }.get
    assert(Classifier.score(empty, "doc_id", "text", w, 4096)
      .as[(Long, Long)].collect().toMap.apply(99L) === bias)
    assert(empty.select(
        Classifier.scoreExpr(col("text"), w, 4096))
      .collect()(0).getLong(0) === bias)
  }

  test("r20 single-pass epoch: every epoch plan windows over the " +
      "checkpoint's own layout — no sort, no doc-keyed exchange, " +
      "exactly one (model-sized) shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    val labeled = Classifier.realVsShuffled(
      (1L to 40L).map(i => (i, s"w$i x y z${i % 7} q${i % 3}"))
        .toDF("doc_id", "text"),
      "doc_id", "text")
    val (_, r) = graft.obs.Watch(spark)(Classifier.train(labeled,
      "doc_id", "text", "y", Classifier.Config(epochs = 3)))
    // the three epoch plans are the only WindowExec plans train emits
    val eps = r.actions.map(_.qe.executedPlan)
      .filter(_.collect { case w: WindowExec => w }.nonEmpty)
    assert(eps.size === 3, s"expected 3 epoch plans, got ${eps.size}")
    eps.foreach { p =>
      val sorts = p.collect { case s: SortExec => s }
      val exchanges = p.collect { case e: ShuffleExchangeExec => e }
      assert(sorts.isEmpty,
        s"epoch plan re-sorts (checkpoint ordering lost):\n$p")
      // at most ONE shuffle (the model-sized gradient agg); at
      // fixture scale the loop sizes p = 1 and even that exchange
      // vanishes (SinglePartition satisfies any distribution)
      assert(exchanges.size <= 1,
        s"epoch plan carries ${exchanges.size} shuffles " +
          s"(expected <=1, the model-sized gradient agg):\n$p")
    }
  }

  test("hard sigmoid clamps symmetrically: a saturated-correct doc " +
      "contributes zero gradient (weights stop moving once separated)") {
    import spark.implicits._
    // one pair, lrNum sized so epoch 1's update lands EXACTLY at the
    // saturation boundary ±2S (update = 1600·(S/2)/(200·2) = 2S):
    // from epoch 2 on both docs sit saturated-correct, the error is
    // exactly 0, and every later epoch is a no-op — the trained
    // weights are a fixed point
    assume(bucketOf("q p") != bucketOf("p q"),
      "hash collision in the tiny fixture")
    val labeled = Classifier.realVsShuffled(
      Seq((3L, "q p")).toDF("doc_id", "text"), "doc_id", "text")
    val w1 = Classifier.train(labeled, "doc_id", "text", "y",
      Classifier.Config(epochs = 1, lrNum = 1600L))
    assert(w1.toMap.apply(bucketOf("q p")) === 2 * S)
    val w5 = Classifier.train(labeled, "doc_id", "text", "y",
      Classifier.Config(epochs = 5, lrNum = 1600L))
    assert(w1 === w5)
  }
}
