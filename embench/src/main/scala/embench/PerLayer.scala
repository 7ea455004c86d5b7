package embench

/** Per-layer metrics of a traced run.
  *
  * Span metrics are per round (an op, or a set-up rep): a layer's time is the
  * sum of its spans in the round, counts are summed the same way, and the
  * metric is the median over the op rounds that have the layer (over the
  * set-up rounds when only set-up runs it, as for the fits of
  * `scored_names`). A layer the workload bypasses reads 0.
  */
object PerLayer {
  private val indexerTransforms = Seq("idx.cossim_word_transform", "idx.cossim_char_transform",
    "idx.sni_transform")

  private val times: Seq[(String, Map[String, Double] => Option[Double])] = {
    def span(n: String): Map[String, Double] => Option[Double] = _.get(n)
    def self(n: String, children: Seq[String]): Map[String, Double] => Option[Double] =
      r => r.get(n).map(_ - children.flatMap(r.get).sum)
    Seq(
      "preprocess.gt_s" -> span("preprocess.gt"),
      "preprocess.names_s" -> span("preprocess.names"),
      "idx.tfidf_word_fit_s" -> span("idx.tfidf_word_fit"),
      "idx.tfidf_char_fit_s" -> span("idx.tfidf_char_fit"),
      "idx.cossim_word_fit_s" -> span("idx.cossim_word_fit"),
      "idx.cossim_char_fit_s" -> span("idx.cossim_char_fit"),
      "idx.sni_fit_s" -> span("idx.sni_fit"),
      "idx.sni_transform_eager_s" -> span("idx.sni_transform.plan"),
      "idx.sni_transform_s" -> span("idx.sni_transform"),
      "idx.cossim_word_transform_s" -> span("idx.cossim_word_transform"),
      "idx.cossim_char_transform_s" -> span("idx.cossim_char_transform"),
      // the merged model re-executes every indexer
      "idx.merge_self_s" -> self("idx.merge", indexerTransforms),
      "features.pair_s" -> span("features.pair"),
      // SupervisedModel.transform computes the pair features itself
      "ml.score_self_s" -> self("ml.score.transform", Seq("features.pair")),
      "ml.train_pairs_s" -> span("ml.train_pairs"),
      "ml.gbt_fit_s" -> span("ml.gbt_fit"),
      "agg.s" -> span("agg"),
      "trace.freeze_s" -> span("trace.freeze"))
  }

  private val counts: Seq[(String, String, Map[String, Double] => Option[Double])] = {
    def c(n: String): Map[String, Double] => Option[Double] = _.get(n)
    def ratio(a: String, b: String): Map[String, Double] => Option[Double] =
      r => for (x <- r.get(a); y <- r.get(b) if y > 0) yield x / y
    Seq(
      ("idx.gt_index_mb", "MB", c("idx.gt_index_mb")),
      ("idx.gt_block_max_rows", "count", c("idx.gt_block_max_rows")),
      ("idx.sni_pairs", "count", c("idx.sni_pairs")),
      ("idx.cossim_word_pairs", "count", c("idx.cossim_word_pairs")),
      ("idx.cossim_char_pairs", "count", c("idx.cossim_char_pairs")),
      ("idx.candidate_pairs", "count", c("idx.candidate_pairs")),
      ("idx.names_no_candidate", "count", c("idx.names_no_candidate")),
      ("idx.merge_dedup_ratio", "ratio", ratio("idx.candidate_pairs", "idx.indexer_pairs")),
      ("features.pairs", "count", c("features.pairs")),
      ("ml.train_pairs", "count", c("ml.train_pairs")),
      ("ml.train_keep_ratio", "ratio", ratio("ml.train_pairs", "ml.train_rows_before_rerank")),
      ("agg.accounts", "count", c("agg.accounts")))
  }

  private def pick(rounds: Map[String, Map[String, Double]],
                   f: Map[String, Double] => Option[Double]): Double = {
    val (ops, setups) = rounds.toSeq.partition(_._1.startsWith("op"))
    val fromOps = ops.flatMap(r => f(r._2))
    val vs = if (fromOps.nonEmpty) fromOps else setups.flatMap(r => f(r._2))
    if (vs.isEmpty) 0.0 else Main.median(vs)
  }

  def fromSpans(tr: Tracer, out: Metrics): Unit = {
    val secs = tr.secondsByRound
    times.foreach { case (name, f) => out.add(name, pick(secs, f), "s") }
    val sums = tr.counts.groupBy(_._1).map { case (r, xs) =>
      r -> xs.groupBy(_._2).map { case (n, ys) => n -> ys.map(_._3).sum }
    }
    counts.foreach { case (name, unit, f) => out.add(name, pick(sums, f), unit) }
  }

  /** Spark and JVM metrics of the untraced ops, each the median over ops.
    * `ops` holds (tag, start ms, op seconds, GC ms, peak heap bytes).
    */
  def fromSpark(acct: SparkAccounting, ops: Seq[(String, Long, Double, Long, Long)],
                cpus: Int, out: Metrics): Unit = {
    def med(f: ((String, Long, Double, Long, Long), TagStats) => Double): Double =
      Main.median(ops.map(o => f(o, acct.get(o._1))))
    out.add("spark.jobs", med((_, s) => s.jobs), "count")
    out.add("spark.stages", med((_, s) => s.stages), "count")
    out.add("spark.tasks", med((_, s) => s.tasks), "count")
    out.add("spark.failed_tasks", med((_, s) => s.failedTasks), "count")
    out.add("spark.task_busy_s", med((_, s) => s.busyMs / 1e3), "s")
    // op wall time during which no task of the op ran: driver-side work
    out.add("spark.driver_only_s", med { case ((_, ms0, wallS, _, _), s) =>
      val ms1 = ms0 + (wallS * 1e3).toLong
      (ms1 - ms0 - SparkAccounting.covered(s.taskIntervals.toSeq, ms0, ms1)) / 1e3
    }, "s")
    out.add("spark.core_idle_frac", med { case ((_, _, wallS, _, _), s) =>
      1.0 - s.busyMs / 1e3 / (cpus * wallS)
    }, "frac")
    out.add("spark.shuffle_read_mb", med((_, s) => s.shuffleReadBytes / 1e6), "MB")
    out.add("spark.shuffle_write_mb", med((_, s) => s.shuffleWriteBytes / 1e6), "MB")
    out.add("spark.gc_s", med((o, _) => o._4 / 1e3), "s")
    out.add("jvm.heap_peak_mb", med((o, _) => o._5 / 1e6), "MB")
  }
}
