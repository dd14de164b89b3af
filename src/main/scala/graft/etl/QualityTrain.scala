package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.QualityKernelFunctions.bagDotF

/** IN-ENGINE quality-classifier TRAINING (round 16, VERDICT r15 item
  * 3): [[TextAnalysis.qualityClassifier]] applies fixed hash-derived
  * weights; this is the train step a training-data pipeline runs to
  * GET such weights — distilling the gopher rule gate into a linear
  * scorer over hashed bag-of-words features (the fasttext-quality-
  * classifier pattern from the C4/RefinedWeb pipelines, where a cheap
  * model is trained to imitate expensive gates).
  *
  * The trainer is two-stage, and every stage decision below is a
  * MEASURED one (sf0.01, BASELINE.md round 16):
  *
  *  1. WARM START — integer-quantized multinomial Naive Bayes
  *     (McCallum & Nigam 1998): w_b = round(10⁴·(ln θ⁺_b − ln θ⁻_b))
  *     with Laplace smoothing, bias = the quantized log prior ratio.
  *     Closed form, ONE aggregation pass, damped by construction.
  *     ln-of-a-rational is irrational, so the round() falls under the
  *     repo's irrational-rounding rule (the char_entropy precedent —
  *     both engines evaluate the identical double expression).
  *  2. REFINEMENT — [[Rounds]] batch-perceptron rounds (integer lr=1,
  *     mistake rule y·score <= 0), producing candidate vectors
  *     w₀..w_R.
  *  3. POCKET SELECTION on the VALID split (Gallant 1990's pocket
  *     rule, selection split per the lm_heldout discipline): ship the
  *     candidate with fewest valid mistakes, ties to the earliest
  *     round. The consumers select in-plan over the artifact:
  *     `quality_train` joins a 1-row argmin broadcast against it, the
  *     eval reads the argmin row itself.
  *
  * Why not plain perceptron: the synthetic corpus's doc vectors are
  * nearly parallel (labels differ mostly in length and stopword
  * presence), so full-batch perceptron — which is invariant to any
  * constant learning rate — oscillates between the two constant
  * verdicts (measured: mistakes 407→223→184→223→223; held-out
  * accuracy = the 56.8% base rate, and harmonic-decay and mini-batch
  * variants measured no better). The damped NB estimator separates
  * (held-out 72.7% vs a measured 84% float-logistic ceiling), and the
  * pocket keeps refinement from shipping an overfit dip (train-pocket
  * measured 59.1% held-out; valid-pocket 72.7%).
  *
  * Split discipline: NB counts and perceptron updates read bucket
  * < 80 only ([[Splits.trainTestSplit]]); pocket reads the 80-89
  * valid slice; [[qualityTrainEval]] reports the confusion row on the
  * disjoint >= 90 test slice.
  *
  * Plan shape at 100 TB (PlanSpec-pinned): the feature frame is ONE
  * in-row pass per document, staged once (every round and the final
  * scoring pass re-read it). The weight vector is a BOUNDED model
  * parameter — [[Buckets]]+1 numbers whatever the corpus size — so it
  * lives on the driver between rounds, the Spark MLlib linear-learner
  * shape: each round ships it into the plan as an array literal, scores
  * every train document in-row, and collects the ≤ 257-group delta
  * aggregate of the mistakes; the driver adds it. No executed plan of
  * the build joins anything, and only aggregates of at most 257 rows
  * reach the driver — never a document row.
  */
object QualityTrain {

  /** Hashed-feature dimensionality — 256 measured better than 64
    * (held-out 72.7% vs 61.4%: the 8-stopword signal survives hashing
    * only when collisions are rare); the weight vector stays a
    * trivially small [[Buckets]]+1 numbers. The extra bucket id
    * [[Buckets]] is the constant bias feature (cnt 1 on every doc).
    * One home, interpolated into the DuckDB oracle.
    */
  val Buckets = 256

  /** Bounded refinement unroll (the bpe_train bounded-round
    * precedent); candidates w₀..w_Rounds enter the pocket.
    */
  val Rounds = 6

  /** A weight vector on the driver: position b holds the weight of
    * bucket b, the bias at [[Buckets]]. None is a NULL weight — the
    * warm start's value when the train slice has no token features
    * (or, for the bias, no documents); it stays NULL through every
    * update, and [[graft.functions.QualityKernelOps.bagDot]] reads it as 0.
    */
  private type Weights = Vector[Option[Long]]

  private def txt(c: Column): Column = coalesce(c, lit(""))

  /** (doc_id, y, bucket, bs) labeled feature rows for EVERY split
    * — ONE corpus scan, ZERO shuffles (round 18 optimization): the
    * hashed bag-of-words counts complete in-row
    * ([[graft.functions.QualityKernelOps.hashedBagCounts]] — identical (b, cnt) multiset
    * to the old explode + md5 + (doc_id, b) groupBy, bias slot
    * included), the gopher label is the compiled per-row verdict
    * ([[graft.functions.QualityKernelOps.gopherPass]] — identical to the relational
    * `gopherRules` verdict, the streaming-twin semantics), and the
    * split bucket is the same salted doc-hash as
    * [[Splits.trainTestSplit]].
    */
  private def docFeatures(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(graft.functions.QualityKernelFunctions
            .gopherPassF(txt(col("text"))), 1L)
          .otherwise(-1L).as("y"),
        Splits.hashBucket(col("doc_id"), "split:").as("bucket"),
        graft.functions.QualityKernelFunctions
          .hashedBagCountsF(txt(col("text")), Buckets).as("bs"))

  private val isTrain: Column = col("bucket") < 80
  private val isValid: Column = col("bucket") >= 80 && col("bucket") < 90
  private val isTest: Column = col("bucket") >= 90

  /** (b, cnt) rows of a doc-feature slice — the exploded form the NB
    * counts and the delta aggregation consume.
    */
  private def exploded(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("y"), explode(col("bs")).as("bc"))
      .select(col("doc_id"), col("y"),
        col("bc.b").as("b"), col("bc.cnt").as("cnt"))

  /** ⟨w, bag⟩ of each document's bag-of-words, `w` riding the plan as
    * an array<bigint> literal.
    */
  private def score(w: Weights): Column = bagDotF(col("bs"), typedLit(w))

  /** Quantized multinomial-NB warm start. ONE aggregate collects the
    * per-bucket class counts of the train slice; the bias bucket's
    * counts are the class priors (every bag holds the bias slot with
    * cnt 1). The quantized log ratios are then evaluated as Spark
    * expressions over a local relation of those counts: operand order
    * and double promotions mirror the oracle text exactly, so the
    * double arithmetic matches it bit for bit. A count sum over no
    * rows is NULL, as the aggregates it replaces were.
    */
  private def nbInit(tr: DataFrame): Weights = {
    val counts = exploded(tr).groupBy(col("b"))
      .agg(sum(when(col("y") === 1, col("cnt")).otherwise(0L)).as("np"),
        sum(when(col("y") === -1, col("cnt")).otherwise(0L)).as("nn"))
      .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2)))
      .toMap
    val tokens = counts.toSeq.collect { case (b, c) if b < Buckets => c }
    def total(f: ((Long, Long)) => Long): Option[Long] =
      if (tokens.isEmpty) None else Some(tokens.map(f).sum)
    val (tp, tn) = (total(_._1), total(_._2))
    val prior = counts.get(Buckets)
    val rows = (0 to Buckets).map { b =>
      val c = counts.get(b)
      (b.toLong, c.map(_._1), c.map(_._2), tp, tn,
        prior.map(_._1), prior.map(_._2))
    }
    tr.sparkSession.createDataFrame(rows)
      .toDF("b", "np", "nn", "tp", "tn", "dp", "dn")
      .select(
        when(col("b") < Buckets,
          round((log((coalesce(col("np"), lit(0L)) + lit(1.0))
              / (col("tp") + lit(Buckets.toDouble)))
            - log((coalesce(col("nn"), lit(0L)) + lit(1.0))
              / (col("tn") + lit(Buckets.toDouble)))) * 10000)
            .cast("bigint"))
          .otherwise(
            // Laplace-smoothed prior, like the per-bucket ratios above
            // (ADVICE r16): a single-class train split would make the
            // unsmoothed log(0) a NULL bias in Spark but an error/-inf
            // in DuckDB — the smoothed form is finite in both engines
            // and identical double arithmetic where both classes exist
            round((log(col("dp") + lit(1.0)) - log(col("dn") + lit(1.0)))
              * 10000).cast("bigint"))
          .as("w"))
      .collect().iterator
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).toVector
  }

  /** One perceptron round's (b, dw) delta frame: the mistakes of `w` on
    * the staged train slice, filtered in-row, and the ≤ 257-group delta
    * sum of their bags. Factored out so the loop and the PlanDump
    * loop-body view share one definition.
    */
  private def roundBody(tr: DataFrame, w: Weights): DataFrame =
    exploded(tr.filter(col("y") * score(w) <= 0))
      .groupBy(col("b"))
      .agg(sum(col("y") * col("cnt")).as("dw"))

  /** `w` plus the collected round delta; a NULL weight stays NULL. */
  private def step(tr: DataFrame, w: Weights): Weights = {
    val dw = roundBody(tr, w).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
    w.zipWithIndex.map { case (wb, b) => wb.map(_ + dw.getOrElse(b, 0L)) }
  }

  /** Lazy loop-body twin for plan evidence (VERDICT r18 item 5 — the
    * PlanDump --plan-only view shows only the artifact scan): the first
    * round's delta frame over the staged features, with the warm
    * start's literal — exactly the tree each round executes. Under
    * [[Fixpoint.planOnly]] the staged blocks outlive the scope.
    */
  private[graft] def loopBodyForPlan(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.scoped { scope =>
      val tr = scope.local(docFeatures(spark, dir)).filter(isTrain)
      roundBody(tr, nbInit(tr))
    }

  /** Per-candidate mistake curve and held-out confusion counts. */
  private final case class RoundStats(trainMistakes: Long,
      validMistakes: Long, nPredPass: Option[Long], nTp: Option[Long],
      nTn: Option[Long])

  /** EVERY candidate scored in ONE pass over the staged features: each
    * document computes all [[Rounds]]+1 scores in-row, and one global
    * aggregate yields, per round, the train and valid mistake counts
    * and the test slice's confusion counts, plus the round-independent
    * (n_heldout, n_truth_pass). Mistake counts read 0 on an empty slice
    * (DuckDB's `count(*) FILTER`); the confusion sums read NULL there,
    * as the eval's sums over the test slice always have.
    */
  private def scoreAll(lf: DataFrame, cands: Seq[Weights])
      : (Seq[RoundStats], Long, Option[Long]) = {
    val rs = cands.indices
    val scored = lf.select(col("y") +: col("bucket") +:
      rs.map(r => score(cands(r)).as(s"s$r")): _*)
    def onTest(c: Column): Column = sum(when(isTest, c))
    val perRound = rs.flatMap { r =>
      val s = col(s"s$r")
      val mistake = col("y") * s <= 0
      val p = when(s > 0, 1L).otherwise(0L)
      Seq(count(when(isTrain && mistake, 1)), count(when(isValid && mistake, 1)),
        onTest(p), onTest(when(col("y") === 1, p).otherwise(0L)),
        onTest(when(col("y") === -1 && p === 0, 1L).otherwise(0L)))
    }
    val row = scored.agg(count(when(isTest, 1)),
      (onTest(when(col("y") === 1, 1L).otherwise(0L)) +: perRound): _*).head()
    def opt(i: Int): Option[Long] = if (row.isNullAt(i)) None else Some(row.getLong(i))
    val stats = rs.map { r =>
      val o = 2 + 5 * r
      RoundStats(row.getLong(o), row.getLong(o + 1), opt(o + 2), opt(o + 3), opt(o + 4))
    }
    (stats, row.getLong(0), opt(1))
  }

  /** Session-shared TRAIN ARTIFACT — the standing-memo rule
    * ([[Dedup.componentsFrame]]'s fan-out precedent) applied to the
    * trainer family (VERDICT r16 next-round item 1): `quality_train`,
    * `quality_train_curve` and `quality_train_eval` all read the SAME
    * NB warm start + [[Rounds]]-round perceptron fixpoint, and a
    * production pipeline computing weights, curve and eval pays it
    * once, not three times. One frame carries everything downstream of
    * the fixpoint: (round, b, w, train_mistakes, valid_mistakes,
    * n_heldout, n_truth_pass, n_pred_pass, n_tp, n_tn) —
    * ([[Rounds]]+1)·([[Buckets]]+1) rows, trivially small; the counts
    * repeat on every bucket row of their round. It ends in a reliable
    * checkpoint, so the memoized frame is an immutable file scan;
    * identity/eviction/locking discipline live in [[SessionMemo]]
    * (data-fingerprint keys, dead-session sweep, harness clear,
    * planOnly bypass).
    */
  def trainArtifact(spark: SparkSession, dir: String): DataFrame =
    trainMemo.get(spark, dir)(buildArtifact(spark, dir))

  private val trainMemo = new SessionMemo

  private def buildArtifact(spark: SparkSession, dir: String): DataFrame =
    Fixpoint.scoped { scope =>
      // ONE staging of the per-document features for every slice: the
      // warm start and each round read the train slice, the scoring
      // pass reads all three
      val lf = scope.local(docFeatures(spark, dir))
      val tr = lf.filter(isTrain)
      val cands = (1 to Rounds).scanLeft(nbInit(tr))((w, _) => step(tr, w))
      val (stats, nHeldout, nTruthPass) = scoreAll(lf, cands)
      val rows = for {
        (w, r) <- cands.zipWithIndex
        st = stats(r)
        (wb, b) <- w.zipWithIndex
      } yield (r.toLong, b.toLong, wb, st.trainMistakes, st.validMistakes,
        nHeldout, nTruthPass, st.nPredPass, st.nTp, st.nTn)
      Fixpoint.reliably(spark.createDataFrame(rows).toDF("round", "b", "w",
        "train_mistakes", "valid_mistakes", "n_heldout", "n_truth_pass",
        "n_pred_pass", "n_tp", "n_tn"))
    }

  /** One row per candidate round: its bias-bucket row (the round's
    * counts repeat on every bucket row).
    */
  private def perRound(art: DataFrame): DataFrame =
    art.filter(col("b") === Buckets)

  /** The pocket's row: fewest valid mistakes, ties to the earliest
    * round.
    */
  private def chosen(art: DataFrame): DataFrame =
    perRound(art).orderBy(col("valid_mistakes").asc, col("round").asc).limit(1)

  /** `quality_train` — the shipped weight vector: the pocket-selected
    * candidate, one row per hashed bucket plus the bias row. A
    * bucket's sign says which class its tokens vote for. Downstream of
    * [[trainArtifact]]: warm-memo cost is a 1799-row scan + broadcast
    * argmin, not the fixpoint.
    */
  def qualityTrain(spark: SparkSession, dir: String): DataFrame = {
    val art = trainArtifact(spark, dir)
    art.as("a").join(broadcast(chosen(art).select(col("round"))).as("p"), Seq("round"))
      .select(col("b").as("bucket"), col("w").as("weight"))
      .orderBy("bucket")
  }

  /** `quality_train_curve` — the measured trajectory the pocket chose
    * from: per candidate round (0 = the NB warm start), train and
    * valid mistake counts. This is the instrument that SHOWS the
    * perceptron oscillation instead of asserting it.
    */
  def qualityTrainCurve(spark: SparkSession, dir: String): DataFrame =
    perRound(trainArtifact(spark, dir))
      .select(col("round"), col("train_mistakes"), col("valid_mistakes"))
      .orderBy("round")

  /** `quality_train_eval` — the held-out confusion row (selection on
    * valid, report on the disjoint test slice; the lm_heldout rule):
    * predicted pass = chosen score > 0 vs the gopher-gate truth. All
    * rates exact integer basis points; `chosen_round` records the
    * pocket's pick (0 = the NB warm start). The confusion counts were
    * taken for every candidate in the artifact's scoring pass, so this
    * reads the chosen round's row and never rescans the corpus.
    */
  def qualityTrainEval(spark: SparkSession, dir: String): DataFrame =
    chosen(trainArtifact(spark, dir))
      // empty-test-slice guard (ADVICE r16): div by n_heldout=0 would
      // throw under ANSI mode; precision/recall already guard this way
      .withColumn("accuracy_bp", when(col("n_heldout") === 0, 0L)
        .otherwise(expr("(10000 * (n_tp + n_tn)) div n_heldout")))
      .withColumn("precision_bp", when(col("n_pred_pass") === 0, 0L)
        .otherwise(expr("(10000 * n_tp) div n_pred_pass")))
      .withColumn("recall_bp", when(col("n_truth_pass") === 0, 0L)
        .otherwise(expr("(10000 * n_tp) div n_truth_pass")))
      .select(col("round").as("chosen_round"), col("n_heldout"),
        col("n_truth_pass"), col("n_pred_pass"), col("n_tp"), col("n_tn"),
        col("accuracy_bp"), col("precision_bp"), col("recall_bp"))
}
