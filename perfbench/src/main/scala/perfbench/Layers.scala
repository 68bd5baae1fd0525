package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The traced run's per-layer metrics: per-operation medians over the
  * traced operations, 0 for a layer the workload does not run. */
object Layers {
  /** Span name -> metric: seconds per operation spent in that call. */
  val Timed: Seq[(String, String)] = Seq(
    "segment.validate" -> "segment.validate_s",
    "segment.scan" -> "segment.scan_s",
    "estimate" -> "estimate.s",
    "hashdiff.summary" -> "hashdiff.summary_s",
    "joindiff" -> "joindiff.s",
    "checksum" -> "checksum.s",
    "remote.introspect" -> "remote.introspect_s",
    "layout.merge" -> "layout.merge_s",
    "layout.meta" -> "layout.meta_s",
    "layout.diff" -> "layout.diff_s")

  /** Counters the workloads report per operation, with their units. */
  val Counted: Seq[(String, String)] = Seq(
    "estimate.dense" -> "bool",
    "hashdiff.buckets" -> "count", "hashdiff.dirty_buckets" -> "count",
    "hashdiff.prune_ratio" -> "ratio", "hashdiff.refine_factor" -> "count",
    "joindiff.rows_in" -> "count", "joindiff.rows_out" -> "count",
    "joindiff.useful_ratio" -> "ratio",
    "checksum.rows_per_s" -> "1/s",
    "remote.statements" -> "count", "remote.wait_s" -> "s", "remote.rows" -> "count",
    "remote.bytes" -> "bytes", "remote.failed" -> "count",
    "pushdown.levels" -> "count", "pushdown.segments_probed" -> "count",
    "pushdown.segments_pruned" -> "count", "pushdown.prune_ratio" -> "ratio",
    "pushdown.leaf_segments" -> "count", "pushdown.level_s" -> "s",
    "pushdown.dense_cutover" -> "bool", "pushdown.self_s" -> "s",
    "layout.files_rewritten" -> "count", "layout.bytes_written" -> "bytes",
    "layout.files_read" -> "count", "layout.file_prune_ratio" -> "ratio")

  val SparkNames: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.busy_s" -> "s", "spark.failed_tasks" -> "count")

  val Extras: Seq[(String, String)] = Seq(
    "commit_p50_s" -> "s", "commit_tail_s" -> "s", "write_amp" -> "ratio",
    "remote_statements" -> "count", "remote_rows_fetched" -> "count",
    "failed_frac" -> "ratio")

  /** Every per-layer metric name with its unit, in report order. */
  val All: Seq[(String, String)] = Timed.map(_._2 -> "s") ++ Counted ++ SparkNames ++
    Seq("trace.uncovered_s" -> "s", "trace.overhead_s" -> "s") ++ Extras

  private def sparkValues(c: SparkCounts): Seq[Double] = Seq(c.jobs, c.stages, c.tasks,
    c.shuffleWriteBytes, c.shuffleReadBytes, c.inputBytes, c.spillBytes).map(_.toDouble) ++
    Seq(c.busyMs / 1000.0, c.failedTasks.toDouble)

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Per-layer metrics of a traced run; also prints one roll-up line per
    * span name and writes the spans as JSON lines to `spansPath`. */
  def report(tr: Tracer, results: Seq[(Boolean, OpResult)], plainDiffP50: Double,
      failedFrac: Double, extras: Seq[(String, Double)],
      spansPath: Option[String]): Seq[(String, Double, String)] = {
    val spans = tr.all
    val spark = tr.sparkBySpan()
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def selfS(s: Span): Double = s.durS - children.getOrElse(s.id, Nil).map(_.durS).sum
    val opSpans = spans.filter(s => s.parent == -1 && s.name == "op")
    val perOp = spans.filter(_.op >= 0).groupBy(_.op)
    val traced = results.filter(_._1).map(_._2)

    val timed = Timed.map { case (span, metric) =>
      (metric, med(perOp.values.toSeq.map(_.filter(_.name == span).map(_.durS).sum)), "s")
    }
    val counted = Counted.map { case (k, u) => (k, med(traced.flatMap(_.counts.get(k))), u) }
    val perOpSpark = opSpans.map(o => subtree(o).flatMap(s => spark.get(s.id))
      .foldLeft(SparkCounts())(_ + _))
    val sparkM = SparkNames.zipWithIndex.map { case ((k, u), j) =>
      (k, med(perOpSpark.map(c => sparkValues(c)(j))), u)
    }
    val uncovered = med(opSpans.map(selfS))
    val overhead = med(traced.map(_.diffS)) - plainDiffP50
    val extraM = Extras.map { case (k, u) =>
      if (k == "failed_frac") (k, failedFrac, u)
      else (k, extras.find(_._1 == k).fold(0.0)(_._2), u)
    }

    // roll-up: per span name, per-operation medians of total and self time
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      val byOp = ss.groupBy(_.op).values.toSeq
      val jobs = ss.flatMap(s => spark.get(s.id)).map(_.jobs).sum
      println(Json.obj("layer" -> Json.str(name), "calls" -> ss.size.toString,
        "total_s" -> Json.num(med(byOp.map(_.map(_.durS).sum))),
        "self_s" -> Json.num(med(byOp.map(_.map(selfS).sum))),
        "spark_jobs" -> jobs.toString))
    }
    println(Json.obj("uncovered_s" -> Json.num(uncovered), "overhead_s" -> Json.num(overhead)))
    spansPath.foreach { p =>
      val lines = spans.sortBy(_.id).map { s =>
        val c = spark.getOrElse(s.id, SparkCounts())
        Json.obj("id" -> s.id.toString, "name" -> Json.str(s.name), "op" -> s.op.toString,
          "parent" -> s.parent.toString, "start_ms" -> Json.num(s.startMs),
          "end_ms" -> Json.num(s.endMs), "spark_jobs" -> c.jobs.toString,
          "spark_tasks" -> c.tasks.toString)
      }
      Files.createDirectories(Paths.get(p).toAbsolutePath.getParent)
      Files.write(Paths.get(p), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    }
    timed ++ counted ++ sparkM ++
      Seq(("trace.uncovered_s", uncovered, "s"), ("trace.overhead_s", overhead, "s")) ++ extraM
  }
}
