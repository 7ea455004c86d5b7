package embench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Cols, EmParams, EntityMatcher, EntityMatching, EntityMatchingModel}
import graft.features.VocabularyModel
import graft.ml.{SupervisedLayer, SupervisedModel}

/** What one run of a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val acct: SparkAccounting, val tracer: Tracer) {
  val traced = new Traced(tracer)

  def time[T](body: => T): (T, Took) = {
    val c0 = Jvm.cpuNs
    val t0 = System.nanoTime()
    val r = body
    (r, Took((System.nanoTime() - t0) / 1e9, (Jvm.cpuNs - c0) / 1e9))
  }

  def gtFrame(names: Array[String]): DataFrame = {
    import spark.implicits._
    names.toSeq.zipWithIndex.map { case (n, i) => (i.toLong, n, i.toLong) }
      .toDF(Cols.Uid, Cols.Name, Cols.EntityId)
      .repartition(spark.sparkContext.defaultParallelism).localCheckpoint()
  }

  def namesFrame(rows: Array[NameRow]): DataFrame = {
    import spark.implicits._
    rows.toSeq.map(r => (r.uid, r.name, r.entityId, r.account, r.freq))
      .toDF(Cols.Uid, Cols.Name, Cols.EntityId, Cols.Account, Cols.Freq)
      .repartition(spark.sparkContext.defaultParallelism).localCheckpoint()
  }
}

/** Wall and process CPU seconds of one call. CPU time counts every JVM
  * thread and, on a virtual machine, leaves out the time the host ran other
  * guests (steal), which wall time includes.
  */
final case class Took(wall: Double, cpu: Double) {
  def +(o: Took): Took = Took(wall + o.wall, cpu + o.cpu)
}

/** One timed op. `transform` is the transform-plus-materialization part that
  * the names-per-second metrics divide `names` by; `observed` holds the
  * output aggregates (row count, digest, hits) the checks compare.
  */
final case class OpResult(took: Took, fit: Option[Took], transform: Took,
                          names: Int, observed: Map[String, Any])

/** The matcher fit and the classifier fit `prepare` made. */
final case class Prepared(fit: Option[Took], train: Option[Took]) {
  def total: Took = (fit ++ train).foldLeft(Took(0, 0))(_ + _)
}

/** What the warm-up op established: match quality, failed invariants, and
  * the observed values every timed op must reproduce.
  */
final case class Warm(quality: Map[String, Double], problems: Seq[String],
                      expected: Map[String, Any])

/** A workload: seeded inputs and fitted state (set-up), a warm-up op whose
  * output is kept and checked in full, and the timed op.
  */
trait Workload {
  def name: String
  /** Generates the inputs from the seed and materializes them. */
  def setup(ctx: Ctx, seed: Long): Unit
  /** Once, after the last set-up: fits the state the op needs (matcher,
    * classifier). `traced` calls the pipeline layer by layer.
    */
  def prepare(ctx: Ctx, traced: Boolean): Prepared = Prepared(None, None)
  /** Releases the fitted state's broadcasts. */
  def teardown(): Unit = ()
  def warmup(ctx: Ctx): Warm
  def op(ctx: Ctx, traced: Boolean): OpResult
  /** Timed ops a run makes at least. */
  def minOps: Int = 2
  /** Quality read off a timed op's observed values. */
  def opQuality(r: OpResult): Map[String, Double] = Map.empty
  /** `.count()`-timed transform, for comparison with the noop sink. */
  def countTimedTransform(ctx: Ctx): Double
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "large_gt"     => new LargeGt()
    case "scored_names" => new ScoredNames()
    case "train"        => new Train()
    case other          => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Order-independent digest of the given columns over all rows. */
  def digest(cols: Seq[String]): Column =
    sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")).as("digest")

  def candidateCols(nIndexers: Int): Seq[String] =
    Seq(Cols.Uid, Cols.GtUid) ++ (0 until nIndexers).flatMap(i => Seq(Cols.score(i), Cols.rank(i)))

  /** A true candidate: the GT row of the name's own entity. */
  val hit: Column = coalesce(col(Cols.GtEntityId) === col(Cols.EntityId), lit(false))

  /** `observed` aggregated over a kept DataFrame, by name. */
  def observeNow(df: DataFrame, observed: Seq[Column]): Map[String, Any] = {
    val r = df.agg(observed.head, observed.tail: _*).head()
    r.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> r.get(i) }.toMap
  }

  /** Problems of a timed op: any observed value that differs from the
    * warm-up's expectation or from the first passing op's (`first`).
    */
  def check(r: OpResult, expected: Map[String, Any], first: Option[OpResult]): Seq[String] =
    expected.toSeq.collect { case (k, v) if r.observed(k) != v => s"$k ${r.observed(k)} != expected $v" } ++
      first.toSeq.flatMap(f => Seq("rows", "digest").collect {
        case k if r.observed(k) != f.observed(k) => s"$k ${r.observed(k)} != first op's ${f.observed(k)}"
      })

  def countIf(c: Column, as: String): Column = sum(when(c, 1L).otherwise(0L)).as(as)

  def long(o: Map[String, Any], k: String): Long = o(k) match {
    case l: Long => l
    case null    => 0L
    case x       => x.toString.toDouble.toLong
  }

  /** Candidate-set checks on a scored, unaggregated output: one best_rank 1
    * per name, every name present. Returns (problems, precision, recall) of
    * the best match, a name's best_rank 1 row with nm_score above 0.5.
    */
  def scoredChecks(out: DataFrame, nNames: Long, nPositive: Long): (Seq[String], Double, Double) = {
    val perName = out.groupBy(Cols.Uid).agg(
      countIf(col(Cols.BestRank) === 1, "best"),
      max(when(col(Cols.BestRank) === 1 && col(Cols.NmScore) > 0.5, 1).otherwise(0)).as("pred"),
      max(when(col(Cols.BestRank) === 1 && col(Cols.NmScore) > 0.5 && hit, 1).otherwise(0)).as("ok"))
    val r = perName.agg(count(lit(1)), countIf(col("best") =!= 1, "bad"),
      sum("pred"), sum("ok")).head()
    val problems =
      (if (r.getLong(0) != nNames) Seq(s"${r.getLong(0)} names in output, expected $nNames") else Nil) ++
      (if (r.getLong(1) != 0) Seq(s"${r.getLong(1)} names without exactly one best_rank 1") else Nil)
    val pred = r.getLong(2).toDouble
    val ok = r.getLong(3).toDouble
    (problems, if (pred > 0) ok / pred else 0.0, ok / nPositive)
  }
}

import Workloads._

/** Index build against a large GT: `fit` then `transform`, default indexers,
  * no supervised layer, no aggregation.
  */
final class LargeGt extends Workload {
  val name = "large_gt"
  private val nGt = 6000
  private val nNames = 400
  private var gt: DataFrame = _
  private var names: DataFrame = _
  private var nPositive = 0L
  private val matcher = EntityMatching(EmParams())

  def setup(ctx: Ctx, seed: Long): Unit = {
    val gen = new DataGen(seed)
    val gtNames = gen.groundTruth(nGt)
    val rows = gen.names(nNames, 0.8, gtNames, 0 until nGt, 1000000000L, 0L)
    nPositive = rows.count(_.positive).toLong
    gt = ctx.gtFrame(gtNames)
    names = ctx.namesFrame(rows)
  }

  private def observed = Seq(count(lit(1)).as("rows"), digest(candidateCols(3)), countIf(hit, "hits"))

  def op(ctx: Ctx, traced: Boolean): OpResult = {
    val (model, fit) = ctx.time(
      if (traced) ctx.traced.fit(matcher, gt) else matcher.fit(gt))
    try {
      val (o, tr) = ctx.time(
        if (traced) ctx.traced.transform(model, names, observed)
        else Materialize(model.transform(names), observed))
      OpResult(fit + tr, Some(fit), tr, nNames, o)
    } finally model.release()
  }

  def warmup(ctx: Ctx): Warm = {
    val model = matcher.fit(gt)
    try {
      val out = model.transform(names).localCheckpoint()
      val expected = observeNow(out, observed)
      val n = out.agg(countDistinct(Cols.Uid)).head().getLong(0)
      out.unpersist()
      Warm(Map("candidate_recall" -> long(expected, "hits").toDouble / nPositive),
        if (n != nNames) Seq(s"$n names in output, expected $nNames") else Nil, expected)
    } finally model.release()
  }

  def countTimedTransform(ctx: Ctx): Double = {
    val model = matcher.fit(gt)
    try ctx.time(model.transform(names).count())._2.wall finally model.release()
  }
}

/** Scoring: candidates, pair features, GBT scores and account aggregation for
  * names in accounts, with the matcher and classifier fitted in set-up.
  */
final class ScoredNames extends Workload {
  val name = "scored_names"
  private val nGt = 4000
  private val nNames = 120
  private val nTrain = 30
  private val params = EmParams(aggregationMethod = Some("max_frequency_nm_score"))
  private var names: DataFrame = _
  private var model: EntityMatchingModel = _
  private var nPositive = 0L
  private var nPositiveAccounts = 0L
  private var gt: DataFrame = _
  private var train: DataFrame = _

  /** GT, names to score and training names; training and scored names
    * come from disjoint entity halves.
    */
  private def inputs(ctx: Ctx, seed: Long): (DataFrame, Array[NameRow], DataFrame) = {
    val gen = new DataGen(seed)
    val gtNames = gen.groundTruth(nGt)
    val (trainPool, scorePool) = gen.shuffledEntities(nGt).splitAt(nGt / 2)
    val trainRows = gen.names(nTrain, 1.0, gtNames, trainPool, 2000000000L, 1000000L)
    val rows = gen.names(nNames, 0.8, gtNames, scorePool, 1000000000L, 0L)
    (ctx.gtFrame(gtNames), rows, ctx.namesFrame(trainRows))
  }

  def setup(ctx: Ctx, seed: Long): Unit = {
    val (g, rows, t) = inputs(ctx, seed)
    nPositive = rows.count(_.positive).toLong
    nPositiveAccounts = rows.filter(_.positive).map(_.account).distinct.length.toLong
    gt = g
    names = ctx.namesFrame(rows)
    train = t
  }

  private val NegativeFraction = 0.5

  private def newLayer(scoreCols: Seq[String]) =
    new SupervisedLayer(scoreCols, maxIter = 3, maxDepth = 3)

  /** The matcher fit (after an untimed warm-up fit), then the classifier:
    * `fitClassifier` with a smaller GBT, since this workload times scoring.
    * An untraced run loads the classifier [[cachedClassifier]] keeps; a
    * traced run trains its own on the run's training names, traced, so the
    * training layers are measured.
    */
  override def prepare(ctx: Ctx, traced: Boolean): Prepared = {
    val matcher = EntityMatching(params)
    // the first fit in the JVM is mostly JIT warm-up: fit once untimed
    matcher.fit(gt).release()
    val (m, fit) = ctx.time(if (traced) ctx.traced.fit(matcher, gt) else matcher.fit(gt))
    model = m
    val trained = ctx.time(
      if (traced) ctx.traced.fitClassifier(model, train, NegativeFraction, newLayer)
      else model.addSupervisedModel(cachedClassifier(ctx)))._2
    Prepared(Some(fit), Some(trained))
  }

  /** A classifier is trained once and applied many times: it is trained on
    * seed-0 inputs the first time a build needs it, saved under the
    * `embench.cache` directory, and loaded from there afterwards.
    */
  private def cachedClassifier(ctx: Ctx): SupervisedModel = {
    val dir = Paths.get(sys.props.getOrElse("embench.cache", "embench-cache"), "classifier")
    val scoreCols = EntityMatching.defaultIndexers.indices.map(Cols.score)
    if (!Files.exists(dir.resolve("done"))) {
      val (g, _, t) = inputs(ctx, 0L)
      val m = EntityMatching(params).fit(g)
      try {
        val sm = newLayer(scoreCols).fit(m.createTrainingPairs(t, NegativeFraction))
        sm.pipeline.write.overwrite().save(dir.resolve("pipeline").toString)
        val v = sm.vocabulary
        Files.write(dir.resolve("vocabulary.tsv"),
          (v.veryCommon.toSeq.sorted.map(_ + "\tvery_common") ++
            v.common.toSeq.sorted.map(_ + "\tcommon")).asJava)
        Files.createFile(dir.resolve("done"))
      } finally m.release()
    }
    val tiers = Files.readAllLines(dir.resolve("vocabulary.tsv")).asScala.map(_.split("\t"))
    new SupervisedModel(newLayer(scoreCols),
      PipelineModel.load(dir.resolve("pipeline").toString),
      VocabularyModel(tiers.collect { case Array(w, "very_common") => w }.toSet,
        tiers.collect { case Array(w, "common") => w }.toSet))
  }
  override def teardown(): Unit = model.release()

  private def observed = Seq(count(lit(1)).as("rows"),
    digest(Seq(Cols.Account, Cols.EntityId, Cols.GtUid, Cols.AggScore)), countIf(hit, "hits"))

  def op(ctx: Ctx, traced: Boolean): OpResult = {
    val (o, s) = ctx.time(
      if (traced) ctx.traced.transform(model, names, observed)
      else Materialize(model.transform(names), observed))
    OpResult(s, None, s, nNames, o)
  }

  /** Runs the fitted model without its aggregation step and checks the
    * scored candidates; a timed op's aggregated output must then hold one
    * row per account with candidates.
    */
  def warmup(ctx: Ctx): Warm = {
    val unaggregated = new EntityMatchingModel(
      new EntityMatcher(params.copy(aggregationMethod = None), model.matcher.indexers),
      model.gt, model.candidateModel, model.supervised)
    val out = unaggregated.transform(names).localCheckpoint()
    try {
      val (problems, precision, recall) = scoredChecks(out, nNames, nPositive)
      val r = out.agg(countIf(hit, "hits"),
        countDistinct(when(col(Cols.GtUid).isNotNull, col(Cols.Account)))).head()
      Warm(Map("candidate_recall" -> r.getLong(0).toDouble / nPositive,
               "best_match_precision" -> precision, "best_match_recall" -> recall),
        problems, Map("rows" -> r.getLong(1)))
    } finally out.unpersist()
  }

  override def opQuality(r: OpResult): Map[String, Double] =
    Map("account_accuracy" -> long(r.observed, "hits").toDouble / nPositiveAccounts)

  def countTimedTransform(ctx: Ctx): Double = ctx.time(model.transform(names).count())._2.wall
}

/** Classifier training: `fitClassifier` with negative sampling on labeled
  * names; the trained model is then scored on held-out names outside the op.
  */
final class Train extends Workload {
  val name = "train"
  // one op takes about 35 s: a second one would not fit in a run
  override val minOps = 1
  private val nGt = 8000
  private val nTrain = 150
  private val nHeldOut = 400
  private val params = EmParams()
  private var train: DataFrame = _
  private var heldOut: DataFrame = _
  private var gt: DataFrame = _
  private var model: EntityMatchingModel = _
  private var nPositive = 0L

  def setup(ctx: Ctx, seed: Long): Unit = {
    val gen = new DataGen(seed)
    val gtNames = gen.groundTruth(nGt)
    val (trainPool, evalPool) = gen.shuffledEntities(nGt).splitAt(nGt / 2)
    val trainRows = gen.names(nTrain, 1.0, gtNames, trainPool, 2000000000L, 1000000L)
    val evalRows = gen.names(nHeldOut, 0.8, gtNames, evalPool, 1000000000L, 0L)
    nPositive = evalRows.count(_.positive).toLong
    gt = ctx.gtFrame(gtNames)
    train = ctx.namesFrame(trainRows)
    heldOut = ctx.namesFrame(evalRows)
  }

  override def prepare(ctx: Ctx, traced: Boolean): Prepared = {
    val matcher = EntityMatching(params)
    val (m, fit) = ctx.time(if (traced) ctx.traced.fit(matcher, gt) else matcher.fit(gt))
    model = m
    Prepared(Some(fit), None)
  }
  override def teardown(): Unit = model.release()

  private def observed = Seq(count(lit(1)).as("rows"), digest(candidateCols(3)),
    countIf(hit, "hits"), countIf(col(Cols.BestRank) === 1, "best"))

  def op(ctx: Ctx, traced: Boolean): OpResult = {
    val took = ctx.time(
      if (traced) ctx.traced.fitClassifier(model, train, 0.5)
      else model.fitClassifier(train, createNegativeSampleFraction = 0.5))._2
    // held-out scoring: outside the op's time, and billed to its own tag
    val (o, s) = ctx.acct.tagged("eval")(ctx.time(
      if (traced) ctx.traced.transform(model, heldOut, observed)
      else Materialize(model.transform(heldOut), observed)))
    OpResult(took, None, s, nHeldOut, o)
  }

  def warmup(ctx: Ctx): Warm = {
    model.fitClassifier(train, createNegativeSampleFraction = 0.5)
    val out = model.transform(heldOut).localCheckpoint()
    try {
      val (problems, precision, recall) = scoredChecks(out, nHeldOut, nPositive)
      val expected = observeNow(out, observed)
      Warm(Map("candidate_recall" -> long(expected, "hits").toDouble / nPositive,
               "best_match_precision" -> precision, "best_match_recall" -> recall),
        problems, expected)
    } finally out.unpersist()
  }

  def countTimedTransform(ctx: Ctx): Double = ctx.time(model.transform(heldOut).count())._2.wall
}
