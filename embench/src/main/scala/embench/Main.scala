package embench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.BroadcastLifecycle

/** Entity-matching benchmark main.
  *
  *   embench.Main --workload <large_gt|scored_names|train> --seed <n>
  *                --seconds <s> --trace <0|1> [--spans <file>]
  *
  * One process, one caller, a closed loop: each op starts when the previous
  * one has finished and been checked. A run makes its inputs `SetupReps`
  * times, fits what the op needs once (`setup_s` is the inputs' median plus
  * the fits), runs one warm-up op whose output is kept and checked for
  * invariants and match quality, then repeats the op until `--seconds` have
  * passed, at least `minOps` times. Every op's output is materialized by a
  * noop write and compared with the warm-up's expectation and the first
  * op's; an op that throws or differs counts as failed and enters no median.
  *
  * With `--trace 1` untraced and traced ops alternate: traced ops call the
  * pipeline layer by layer (see [[Traced]]), and the result carries the
  * per-layer metrics and the tracing overhead instead of the end-to-end ones.
  * The last line of standard output is one JSON object.
  */
object Main {
  val SetupReps = 3
  // stop starting ops after this much wall time, whatever --seconds says
  val WallCapS = 130.0

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        spans: Option[String])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m.get("spans"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Highest percentile with at least ten samples above it, if any. */
  def highPercentile(xs: Seq[Double]): Option[(Int, Double)] = {
    val s = xs.sorted
    val n = s.length
    (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10)
      .map(p => p -> s(math.max(math.ceil(p / 100.0 * n).toInt - 1, 0)))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("UTC"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val acct = new SparkAccounting(spark.sparkContext)
    spark.sparkContext.addSparkListener(acct)
    val tracer = new Tracer(opts.trace)
    val ctx = new Ctx(spark, acct, tracer)
    val wl = Workloads(opts.workload)
    val out = new Report(opts.workload)
    out.line(f"session_s ${elapsed}%.3f s  (local[$cpus])")

    // set-up: inputs made three times (the last kept), then the fits once;
    // in a traced run the fits are traced
    val setups = mutable.ArrayBuffer.empty[Took]
    for (k <- 1 to SetupReps) {
      tracer.round = s"setup$k"
      val s = ctx.time(acct.tagged(s"setup$k")(wl.setup(ctx, opts.seed)))._2
      setups += s
      out.line(f"set-up $k (inputs): ${s.wall}%.3f s, CPU ${s.cpu}%.3f s")
      if (k < SetupReps) clearState(spark, keepBroadcasts = false)
    }
    tracer.round = "setup_prepare"
    val prep = acct.tagged("prepare")(wl.prepare(ctx, opts.trace))
    prep.fit.foreach(t => out.line(f"matcher fit: ${t.wall}%.3f s, CPU ${t.cpu}%.3f s"))
    prep.train.foreach(t => out.line(f"classifier fit: ${t.wall}%.3f s, CPU ${t.cpu}%.3f s"))
    val keepRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet

    // warm-up op: kept and checked in full; timed ops must reproduce it
    tracer.round = "warmup"
    val (warm, warmTook) = ctx.time(acct.tagged("warmup")(wl.warmup(ctx)))
    out.line(f"warm-up op and checks: ${warmTook.wall}%.3f s")
    clearState(spark, keepBroadcasts = true, keepRdds)

    // timed ops
    // (tag, start ms, result, GC ms, peak heap bytes)
    val untraced = mutable.ArrayBuffer.empty[(String, Long, OpResult, Long, Long)]
    val traced = mutable.ArrayBuffer.empty[OpResult]
    var attempted, failed = 0
    val loop0 = elapsed
    var i = 0
    // at least minOps passing untraced ops (and one traced op in a traced
    // run), more while --seconds last, none after two failures
    def more = failed < 2 && (untraced.size < wl.minOps || (opts.trace && traced.size < 1) ||
      (elapsed - loop0 < opts.seconds && elapsed < WallCapS))
    while (more) {
      i += 1
      val asTraced = opts.trace && i % 2 == 0
      val tag = s"op$i"
      tracer.round = tag
      attempted += 1
      Jvm.resetPeak()
      val gc0 = Jvm.gcMs
      val ms0 = System.currentTimeMillis()
      val r = try Right(acct.tagged(tag)(wl.op(ctx, asTraced))) catch { case e: Throwable => Left(e.toString) }
      val gc = Jvm.gcMs - gc0
      val heap = Jvm.heapPeakBytes
      clearState(spark, keepBroadcasts = true, keepRdds)
      r.map(res => Workloads.check(res, warm.expected, (traced ++ untraced.map(_._3)).headOption)) match {
        case Right(Nil) =>
          if (asTraced) traced += r.toOption.get
          else untraced += ((tag, ms0, r.toOption.get, gc, heap))
        case other =>
          failed += 1
          out.line(s"op $i failed: ${other.fold(identity, _.mkString("; "))}")
      }
    }
    out.line(f"timed ops: ${untraced.size} untraced, ${traced.size} traced, $failed failed of $attempted, ${elapsed - loop0}%.1f s")

    val ops = untraced.map(_._3).toSeq
    if (ops.isEmpty) {
      out.line("no timed op passed: no result")
      spark.stop()
      sys.exit(1)
    }
    val problems = warm.problems
    val quality = warm.quality ++ ops.headOption.map(wl.opQuality).getOrElse(Map.empty)
    val correct = problems.isEmpty && failed == 0
    problems.foreach(p => out.line(s"check failed: $p"))
    out.line(s"output check: ${if (correct) "PASS" else "FAIL"}")

    // end-to-end metrics, in process CPU seconds: on a shared virtual host
    // wall time also counts the time the host ran other guests
    val e2e = new Metrics
    e2e.add("setup_s", median(setups.map(_.cpu).toSeq) + prep.total.cpu, "s")
    e2e.add("op_cpu_s", median(ops.map(_.took.cpu)), "s")
    // the set-up fit, or for a workload that fits in its op, the op's fits
    val fits = if (prep.fit.nonEmpty) prep.fit.toSeq else ops.flatMap(_.fit)
    e2e.add("fit_cpu_s", median(fits.map(_.cpu)), "s")
    e2e.add("match_names_per_cpu_s", median(ops.map(o => o.names / o.transform.cpu)), "1/s")
    e2e.add("candidate_recall", quality("candidate_recall"), "frac")
    out.line("end-to-end metrics:")
    e2e.values.foreach { case (k, v, u) => out.line(f"  $k%-22s $v%.6g $u") }
    // wall-clock counterparts and the workload's own metrics, outside the gated set
    out.line(f"  ${"setup_wall_s"}%-22s ${median(setups.map(_.wall).toSeq) + prep.total.wall}%.6g s")
    out.line(f"  ${"op_s"}%-22s ${median(ops.map(_.took.wall))}%.6g s")
    out.line(f"  ${"fit_s"}%-22s ${median(fits.map(_.wall))}%.6g s")
    out.line(f"  ${"match_names_per_s"}%-22s ${median(ops.map(o => o.names / o.transform.wall))}%.6g 1/s")
    out.line(f"  ${"op_s samples"}%-22s ${ops.size}: ${ops.map(o => f"${o.took.wall}%.3f").mkString(" ")}")
    highPercentile(ops.map(_.took.wall)).foreach { case (p, v) => out.line(f"  op_s p$p%-19d $v%.6g s") }
    prep.train.foreach(t => out.line(f"  ${"train_s"}%-22s ${t.wall}%.6g s"))
    (quality - "candidate_recall").toSeq.sorted.foreach { case (k, v) => out.line(f"  $k%-22s $v%.6g frac") }
    out.line(f"  ${"failed_frac"}%-22s ${failed.toDouble / attempted}%.6g frac")

    val metrics =
      if (!opts.trace) e2e
      else {
        val layers = new Metrics
        PerLayer.fromSpans(tracer, layers)
        acct.drain()
        PerLayer.fromSpark(acct, untraced.map(u => (u._1, u._2, u._3.took.wall, u._4, u._5)).toSeq, cpus, layers)
        layers.add("em.count_timed_s", wl.countTimedTransform(ctx), "s")
        layers.add("trace.overhead_s", median(traced.map(_.took.wall).toSeq) - median(ops.map(_.took.wall)), "s")
        out.line("per-layer metrics:")
        layers.values.foreach { case (k, v, u) => out.line(f"  $k%-30s $v%.6g $u") }
        opts.spans.foreach { path =>
          val p = java.nio.file.Paths.get(path)
          Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
          java.nio.file.Files.write(p, tracer.toJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
        }
        layers
      }
    wl.teardown()
    spark.stop()
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metrics.json}}""")
  }

  /** Drops what an op left behind: persisted RDDs (localCheckpoints) other
    * than the inputs, cached tables, and tracked broadcasts unless the
    * workload's fitted model still needs them.
    */
  def clearState(spark: SparkSession, keepBroadcasts: Boolean, keepRdds: Set[Int] = Set.empty): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keepRdds(id)) rdd.unpersist(blocking = true)
    }
    if (!keepBroadcasts) BroadcastLifecycle.releaseAll()
  }
}

/** Human-readable lines, printed as they come, before the JSON result. */
final class Report(workload: String) {
  line(s"== embench workload $workload")
  def line(s: String): Unit = { println(s); System.out.flush() }
}

final class Metrics {
  val values = mutable.ArrayBuffer.empty[(String, Double, String)]
  def add(name: String, v: Double, unit: String): Unit = values += ((name, v, unit))
  def json: String = values.map { case (k, v, u) =>
    // a value that could not be measured (only in a failed run) reads 0
    val num = java.lang.Double.toString(if (v.isNaN || v.isInfinite) 0.0 else v)
    s""""$k": {"value": $num, "unit": "$u"}"""
  }.mkString("{", ", ", "}")
}
