package perfbench

import org.apache.spark.sql.SparkSession

/** The diff benchmark. One client runs one workload's operations in a
  * closed loop for `--seconds`, checking every output, and prints its
  * metrics as the last line of standard output:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <scratch dir> [--spans <file>] [--rev <source revision>]
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` alternates
  * untraced and traced operations, reports the per-layer metrics, prints
  * a per-layer roll-up and writes every span as a JSON line to `--spans`.
  * A failed or wrong operation is counted, never retried, and makes the
  * run exit 1 after printing its result.
  */
object Main {
  val SetupRounds = 3
  /** Operations run before measuring. One suffices: the JVM runs C1-only
    * (see run.py), so operation times are flat from the second one on. */
  val WarmupOps = 1

  /** The end-to-end metrics an untraced run prints, with their units. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "diff_p50_s" -> "s",
    "diff_tail_s" -> "s", "rows_per_s" -> "1/s", "scan_ratio" -> "ratio",
    "retained_heap_mb" -> "MB")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, spans: Option[String], rev: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1: $trace")
    val seconds = need("seconds").toInt
    require(seconds >= 1, s"--seconds must be >= 1: $seconds")
    Args(need("workload"), need("seed").toLong, seconds, trace == "1", need("work"),
      m.get("spans"), m.getOrElse("rev", "unknown"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Workload.Names.contains(args.workload),
      s"unknown workload '${args.workload}'; one of ${Workload.Names.mkString(", ")}")
    val nproc = Runtime.getRuntime.availableProcessors()
    // the remote workload leaves one core to the DuckDB process (threads=1)
    val cores =
      if (args.workload == "remote_pushdown") math.max(1, nproc - 1) else nproc
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ok =
      try run(args, spark, cores, nproc)
      finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def run(args: Args, spark: SparkSession, cores: Int, nproc: Int): Boolean = {
    val wl = Workload(args.workload, spark, args.seed, args.work)
    try {
      val setupS = (0 until SetupRounds).map { r =>
        val t0 = System.nanoTime()
        wl.setup(r)
        (System.nanoTime() - t0) / 1e9
      }
      wl.prepare()
      val tracer = if (args.trace) Some(new Tracer(spark.sparkContext)) else None
      val results = scala.collection.mutable.ArrayBuffer.empty[(Boolean, OpResult)]
      val scans = scala.collection.mutable.ArrayBuffer.empty[Double]
      var failures = List.empty[String]
      var i = 0
      def once(traced: Boolean): Unit = {
        val r =
          try wl.op(i, if (traced) tracer else None)
          catch {
            case e: Exception =>
              OpResult(0, 0, None, 0, ok = false, s"${e.getClass.getName}: ${e.getMessage}", Map.empty)
          }
        val probe =
          if (traced && r.ok) wl.probe(i, tracer.get, r.counts) else Map.empty[String, Double]
        if (!r.ok) failures ::= s"op $i: ${r.detail}"
        results += ((traced, r.copy(counts = r.counts ++ probe)))
        // the scan baseline is taken beside every operation, so that it
        // sees the same machine conditions the operations see
        scans += wl.scanS()
        i += 1
      }
      while (i < WarmupOps && wl.hasOp(i)) once(traced = false)
      val warm = results.size
      val t0 = System.nanoTime()
      // a traced run measures at least one traced operation
      def tracedYet = !args.trace || results.drop(warm).exists(_._1)
      while (((System.nanoTime() - t0) / 1e9 < args.seconds || !tracedYet) && wl.hasOp(i))
        once(traced = args.trace && (i - warm) % 2 == 1)
      val measured = results.drop(warm).toSeq
      val heapMb = retainedHeapMb()

      val attempted = results.size
      val failed = results.count(!_._2.ok)
      val good = measured.filter(_._2.ok)
      val plain = good.filterNot(_._1).map(_._2)
      val (sRows, sBytes) = (wl.sideRows, wl.sideBytes)
      val stamp = Json.obj(
        "rev" -> Json.str(args.rev), "workload" -> Json.str(args.workload),
        "seed" -> args.seed.toString, "traced" -> args.trace.toString,
        "run_seconds" -> args.seconds.toString,
        "spark_cores" -> cores.toString, "nproc" -> nproc.toString,
        "rows_a" -> sRows._1.toString, "rows_b" -> sRows._2.toString,
        "bytes_a" -> sBytes._1.toString, "bytes_b" -> sBytes._2.toString)
      println(Json.obj("stamp" -> stamp))
      failures.reverse.take(5).foreach(f => System.err.println(s"[perfbench] FAILED $f"))

      val diffs = plain.map(_.diffS)
      val metrics: Seq[(String, Double, String)] =
        if (plain.isEmpty) Nil
        else {
          val (tailS, tailP) = Stats.tail(diffs)
          val diffP50 = Stats.median(diffs)
          val info = Seq(
            "ops" -> plain.size.toString, "tail_percentile" -> tailP.toString,
            "diff_s" -> diffs.map(Json.num).mkString("[", ", ", "]"),
            "setup_rounds_s" -> setupS.map(Json.num).mkString("[", ", ", "]"),
            "op_p50_s" -> Json.num(Stats.median(plain.map(_.opS))),
            "scan_s" -> Json.num(Stats.median(scans.toSeq)),
            "failed_frac" -> Json.num(failed.toDouble / attempted)) ++
            workloadExtras(plain).map { case (k, v) => k -> Json.num(v) }
          println(Json.obj("info" -> Json.objOf(info)))
          if (!args.trace) {
            val v = Map("setup_s" -> Stats.median(setupS), "diff_p50_s" -> diffP50,
              "diff_tail_s" -> tailS,
              "rows_per_s" -> Stats.median(plain.map(r => r.rowsIn / r.opS)),
              "scan_ratio" -> diffP50 / Stats.median(scans.toSeq), "retained_heap_mb" -> heapMb)
            EndToEnd.map { case (k, u) => (k, v(k), u) }
          } else
            Layers.report(tracer.get, good, diffP50, failed.toDouble / attempted,
              workloadExtras(plain), args.spans)
        }
      val correct = failed == 0 && metrics.nonEmpty
      println(Json.obj("correct" -> correct.toString, "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.objOf(metrics.map { case (k, v, u) =>
          k -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u)) })))
      correct
    } finally wl.close()
  }

  /** End-to-end figures only some workloads have: the commit half of an
    * upsert, its write amplification, and what a pushdown sent and fetched. */
  def workloadExtras(plain: Seq[OpResult]): Seq[(String, Double)] = {
    val commits = plain.flatMap(_.commitS)
    def med(k: String) = plain.flatMap(_.counts.get(k)) match {
      case Seq() => None
      case xs => Some(Stats.median(xs))
    }
    (if (commits.isEmpty) Nil
     else Seq("commit_p50_s" -> Stats.median(commits), "commit_tail_s" -> Stats.tail(commits)._1)) ++
      Seq("write_amp", "remote_statements", "remote_rows_fetched").flatMap(k => med(k).map(k -> _))
  }

  /** JVM heap in use after full collections, in MiB. Spark's context
    * cleaner frees the blocks of unreachable checkpoints only after a
    * collection has found them, so collect until the figure settles. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used(): Double = {
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
    }
    var (prev, cur, rounds) = (used(), used(), 2)
    while (cur < prev * 0.99 && rounds < 10) {
      prev = cur
      cur = used()
      rounds += 1
    }
    cur
  }
}

/** Minimal JSON rendering for the benchmark's flat output lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def objOf(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def obj(kv: (String, String)*): String = objOf(kv)
}
