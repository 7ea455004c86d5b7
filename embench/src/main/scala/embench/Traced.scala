package embench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.{Cols, EntityMatcher, EntityMatchingModel}
import graft.agg.EntityAggregation
import graft.idx._
import graft.ml.{SupervisedLayer, SupervisedModel}
import graft.preprocess.Preprocessor

/** The pipeline's public API called layer by layer, with a span around each
  * call. Each function returns what its API counterpart returns
  * (`EntityMatcher.fit`, `EntityMatchingModel.transform`, `fitClassifier`),
  * so a traced op must pass the same output check as an untraced one.
  *
  * A layer's input is frozen (localCheckpoint) before the next layer runs, so
  * a layer's `.run` span times that layer and not its upstream. Freezing is
  * tracing overhead, timed as `trace.freeze`. Composite layers re-execute
  * their children lazily; their self time is their span minus their
  * children's spans.
  */
final class Traced(tr: Tracer) {

  private def freeze(df: DataFrame): DataFrame = tr.span("trace.freeze")(df.localCheckpoint())

  private def preprocess(name: String, df: DataFrame, pipeline: String): DataFrame =
    freeze(tr.layer(name)(Preprocessor(df, pipeline, Cols.Name, Cols.Preprocessed))._1)

  private def kind(ix: Any): String = ix match {
    case c: CosSimIndexer      => if (c.tokenizer == "words") "cossim_word" else "cossim_char"
    case c: CosSimIndexerModel => kind(c.indexer)
    case _                     => "sni"
  }

  /** `EntityMatcher.fit`, with the TF-IDF fit each cos-sim indexer makes
    * internally also timed by a separate call on the same input.
    */
  def fit(matcher: EntityMatcher, gtRaw: DataFrame): EntityMatchingModel = tr.span("em.fit") {
    val gt = preprocess("preprocess.gt", gtRaw, matcher.params.preprocessPipeline)
    var maxBlockRows = 0
    val models = matcher.indexers.map {
      case c: CosSimIndexer =>
        val k = kind(c).stripPrefix("cossim_")
        tr.span(s"idx.tfidf_${k}_fit") {
          new TfidfVectorizer(c.tokenizer, c.ngram, c.binary, c.vocabSize, c.inputCol).fit(gt)
        }.release()
        val m = tr.span(s"idx.cossim_${k}_fit")(c.fit(gt))
        val blocks = m.gtBc.value.values
        val bytes = blocks.map(p => 4L * (p.indptr.length + p.indices.length) +
          8L * (p.data.length + p.gtUids.length)).sum + 8L * m.tfidf.idf.length
        tr.count("idx.gt_index_mb", bytes / 1e6)
        maxBlockRows = math.max(maxBlockRows, blocks.map(_.nRows).max)
        m
      case s: SniIndexer =>
        tr.span("idx.sni_fit") {
          val m = s.fit(gt)
          tr.span("idx.sni_fit.run")(Materialize(m.gt, Nil))
          m
        }
      case other => other.fit(gt)
    }
    tr.count("idx.gt_block_max_rows", maxBlockRows)
    val p = matcher.params
    new EntityMatchingModel(matcher, gt,
      new CandidateSelectionModel(models, gt, p.carryOnCols, p.withNoMatches))
  }

  /** Candidate selection: each indexer on its own, then the merged model. */
  private def candidates(cs: CandidateSelectionModel, names: DataFrame): DataFrame =
    tr.span("idx.candidates") {
      var perIndexer = 0.0
      cs.models.foreach { m =>
        val (_, o) = tr.layer(s"idx.${kind(m)}_transform", Seq(count(lit(1)).as("n")))(m.transform(names))
        val n = o("n").asInstanceOf[Long].toDouble
        tr.count(s"idx.${kind(m)}_pairs", n)
        perIndexer += n
      }
      val (merged, o) = tr.layer("idx.merge", Seq(
          count(col(Cols.GtUid)).as("pairs"),
          sum(when(col(Cols.GtUid).isNull, 1).otherwise(0)).as("none")))(cs.transform(names))
      tr.count("idx.candidate_pairs", o("pairs").asInstanceOf[Long].toDouble)
      tr.count("idx.names_no_candidate", o("none").asInstanceOf[Long].toDouble)
      tr.count("idx.indexer_pairs", perIndexer)
      freeze(merged)
    }

  private def score(sm: SupervisedModel, cands: DataFrame): DataFrame = tr.span("ml.score") {
    val matched = cands.filter(col(Cols.GtUid).isNotNull)
    val (_, o) = tr.layer("features.pair", Seq(count(lit(1)).as("n")))(
      sm.layer.addFeatures(matched, sm.vocabulary))
    tr.count("features.pairs", o("n").asInstanceOf[Long].toDouble)
    freeze(tr.layer("ml.score.transform")(sm.transform(cands))._1)
  }

  /** The caller's columns, `preprocessed` and the match outputs: the output
    * contract of `EntityMatchingModel.transform` without keepAllCols.
    */
  private def prune(df: DataFrame, inputCols: Seq[String]): DataFrame =
    df.select(df.columns.filter { c =>
      inputCols.contains(c) || c == Cols.Preprocessed ||
        Seq("gt_", "score_", "rank_", "best_").exists(c.startsWith) || c.endsWith("_score")
    }.toIndexedSeq.map(col): _*)

  /** `EntityMatchingModel.transform` (no topN, no keepAllCols); the final
    * layer's write gathers `observed` on the output.
    */
  def transform(model: EntityMatchingModel, namesRaw: DataFrame,
                observed: Seq[Column]): Map[String, Any] = tr.span("em.transform") {
    val p = model.matcher.params
    val names = preprocess("preprocess.names", namesRaw, p.preprocessPipeline)
    val cands = candidates(model.candidateModel, names)
    val scored = model.supervised.fold(cands)(score(_, cands))
    val pruned = prune(scored, names.columns.toSeq)
    model.effectiveAggregationMethod match {
      case Some(method) if pruned.columns.contains(p.accountCol) =>
        val (_, o) = tr.layer("agg", observed :+ count(lit(1)).as("__agg_rows"))(
          EntityAggregation.aggregate(pruned, method, p.accountCol, p.freqCol,
            if (pruned.columns.contains(Cols.NmScore)) Cols.NmScore else Cols.score(0)))
        tr.count("agg.accounts", o("__agg_rows").asInstanceOf[Long].toDouble)
        o
      case _ => tr.span("em.output")(Materialize(pruned, observed))
    }
  }

  /** `EntityMatchingModel.fitClassifier` (no carry-on columns): training
    * pairs, then the fit of the layer `newLayer` builds (fitClassifier's by
    * default). The candidate set is also materialized on its own, to give
    * the share of candidate rows the negative re-rank keeps.
    */
  def fitClassifier(model: EntityMatchingModel, trainRaw: DataFrame,
                    negativeFraction: Double,
                    newLayer: Seq[String] => SupervisedLayer = new SupervisedLayer(_))
      : Unit = tr.span("em.fit_classifier") {
    val p = model.matcher.params
    val names = preprocess("preprocess.names", trainRaw, p.preprocessPipeline)
    // createTrainingPairs widens the indexers only when it samples negatives
    val cs = if (negativeFraction > 0) model.candidateModel.widened else model.candidateModel
    val widened = candidates(cs, names)
    val before = widened.count().toDouble
    val (pairs, o) = tr.layer("ml.train_pairs", Seq(count(lit(1)).as("n")))(
      model.createTrainingPairs(names, negativeFraction))
    val n = o("n").asInstanceOf[Long].toDouble
    tr.count("ml.train_pairs", n)
    tr.count("ml.train_rows_before_rerank", before)
    val scoreCols = model.candidateModel.models.indices.map(Cols.score)
    val sm = tr.span("ml.gbt_fit")(newLayer(scoreCols).fit(pairs))
    model.addSupervisedModel(sm)
  }
}
