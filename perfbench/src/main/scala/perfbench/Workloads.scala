package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Graft
import graft.diff.{DiffEstimate, HashDiffer, JoinDiffer, TableSegment}
import graft.layout.DataLayout
import graft.sources.{DuckDbProcess, PushdownDiffer, RemoteTable}

/** One checked operation. `opS` is the user's whole call, `diffS` its diff
  * part and `commitS` its commit part, if any; `rowsIn` counts the input
  * rows of both sides. `counts` carries per-operation layer counters. */
final case class OpResult(opS: Double, diffS: Double, commitS: Option[Double],
    rowsIn: Long, ok: Boolean, detail: String, counts: Map[String, Double])

/** A benchmark workload: seeded inputs, a set-up the program pays for, and
  * a closed loop of operations whose every output is checked. */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String) {
  /** Builds the inputs from scratch under `work`/`round`; the last round's
    * inputs are the ones the operations run on. */
  def setup(round: Int): Unit
  /** Untimed: computes what the operations must return. */
  def prepare(): Unit
  /** Seconds of one full read of every compared column on both sides. */
  def scanS(): Double
  def hasOp(i: Int): Boolean = true
  def op(i: Int, tr: Option[Tracer]): OpResult
  /** Probe calls into layers the operation does not expose, made outside
    * its timed span (traced runs only). */
  def probe(i: Int, tr: Tracer, op: Map[String, Double]): Map[String, Double] = Map.empty
  def sideRows: (Long, Long)
  def sideBytes: (Long, Long)
  def close(): Unit = ()

  protected def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  protected def traced[T](tr: Option[Tracer], name: String)(f: => T): T =
    tr.fold(f)(_.span(name)(f))

  /** Forces a full read of `df` without collecting it. */
  protected def readAll(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  protected def treeBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(walk).sum) else f.length
    walk(new java.io.File(path))
  }
}

object Workload {
  val Names: Seq[String] = Seq("hashdiff_sparse", "remote_pushdown", "layout_upsert")

  def apply(name: String, spark: SparkSession, seed: Long, work: String): Workload =
    name match {
      case "hashdiff_sparse" => new HashdiffSparse(spark, seed, work)
      case "remote_pushdown" => new RemotePushdown(spark, seed, work)
      case "layout_upsert" => new LayoutUpsert(spark, seed, work)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'; one of ${Names.mkString(", ")}")
    }
}

/** Input sizes. Operations cost seconds each, mostly per-job Spark
  * overhead at these sizes, so a run completes only a few of them. */
object Sizes {
  val SparseRows = 200000L
  val RemoteRows = 100000L
  val LayoutRows = 100000L
  /** Two bisection levels at factor 32 need more rows than this per
    * level-0 segment; the default (16384) needs over 524k rows and about
    * 9 s per operation on 4 cores, too long for the run budget. */
  val RemoteThreshold = 2048
}

/** `Graft.diffTables(…, Algorithm.Estimate)` between two parquet tables
  * at mutation density 1e-4, which the estimate routes to HashDiff. */
final class HashdiffSparse(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  private val n = Sizes.SparseRows
  private val density = 1e-4
  private val keys = Seq(Gen.Key)
  private val opts = Graft.DiffOptions(algorithm = Graft.Algorithm.Estimate)
  private var dir = ""
  private var a: DataFrame = _
  private var b: DataFrame = _
  private var expected = Fingerprint.Empty
  private var rows = (0L, 0L)

  def setup(round: Int): Unit = {
    dir = s"$work/setup$round"
    val t = Gen.tagged(spark, seed, n, density)
    Gen.sideA(t).write.parquet(s"$dir/a")
    Gen.sideB(t).write.parquet(s"$dir/b")
    a = spark.read.parquet(s"$dir/a")
    b = spark.read.parquet(s"$dir/b")
  }

  def prepare(): Unit = {
    expected = Fingerprint.of(Gen.expectedDiff(Gen.tagged(spark, seed, n, density)))
    rows = (a.count(), b.count())
  }

  def sideRows: (Long, Long) = rows
  def sideBytes: (Long, Long) = (treeBytes(s"$dir/a"), treeBytes(s"$dir/b"))

  def scanS(): Double = seconds { readAll(a); readAll(b) }._2

  def op(i: Int, tr: Option[Tracer]): OpResult = {
    val ((fp, dense), s) = seconds(tr match {
      case None =>
        (Fingerprint.of(Graft.diffTables(TableSegment(a, keys), TableSegment(b, keys), opts)), None)
      case Some(t) => t.opSpan(i, "op")(routed(t))
    })
    OpResult(s, s, None, rows._1 + rows._2, fp == expected,
      s"got $fp want $expected", Map("joindiff.rows_out" -> fp.rows.toDouble) ++
        dense.map(d => "estimate.dense" -> (if (d) 1.0 else 0.0)))
  }

  /** The calls `diffTables` makes under Algorithm.Estimate, one span each:
    * key validation of both sides, the sampled estimate, then HashDiff's
    * eager summary pass (sparse) and the final join the fingerprint pulls.
    * Also returns whether the estimate chose the dense join. */
  private def routed(t: Tracer): (Fingerprint, Option[Boolean]) = {
    val (sa, sb) = (TableSegment(a, keys), TableSegment(b, keys))
    val compare = sa.relevantCols.filterNot(keys.contains)
    t.span("segment.validate") {
      Seq(sa, sb).foreach { s =>
        val (total, distinct, nulls) = s.validateKeys()
        require(nulls == 0 && total == distinct, "invalid keys")
      }
    }
    val est = t.span("estimate") {
      DiffEstimate.estimate(sa.scoped, sb.scoped, keys, compare,
        mod = opts.estimateMod, denseMilliCutoff = opts.denseMilliCutoff)
    }
    val diff =
      if (est.isDense) JoinDiffer.diffExplicit(sa.scoped, sb.scoped, keys, compare)
      else t.span("hashdiff.summary") {
        HashDiffer.diff(sa.copy(extraCols = compare), sb.copy(extraCols = compare), opts.buckets)
      }
    (t.span("joindiff")(Fingerprint.of(diff)), Some(est.isDense))
  }

  override def probe(i: Int, t: Tracer, op: Map[String, Double]): Map[String, Double] =
      t.opSpan(i, "probe") {
    val (sa, sb) = (TableSegment(a, keys), TableSegment(b, keys))
    val compare = sa.relevantCols.filterNot(keys.contains)
    t.span("segment.scan") { readAll(sa.scoped); readAll(sb.scoped) }
    def joined(rowsIn: Double) = Map("joindiff.rows_in" -> rowsIn,
      "joindiff.useful_ratio" -> op("joindiff.rows_out") / rowsIn)
    if (op("estimate.dense") == 1.0) joined((rows._1 + rows._2).toDouble)
    else {
      // the level HashDiffer sizes for itself, summarized once more
      val buckets = HashDiffer.autoBuckets(math.max(rows._1, rows._2))
      val dirty = HashDiffer.bucketSummaries(sa.copy(extraCols = compare),
        sb.copy(extraCols = compare), buckets).where(col("is_dirty"))
        .select(coalesce(col("a_cnt"), lit(0L)), coalesce(col("b_cnt"), lit(0L)))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val refine = HashDiffer.autoRefineFactor(dirty.map(d => math.max(d._1, d._2)).sum,
        dirty.length, buckets)
      Map("hashdiff.buckets" -> buckets.toDouble,
        "hashdiff.dirty_buckets" -> dirty.length.toDouble,
        "hashdiff.prune_ratio" -> (1.0 - dirty.length.toDouble / buckets),
        "hashdiff.refine_factor" -> refine.toDouble) ++
        joined(dirty.map(d => d._1 + d._2).sum.toDouble)
    }
  }
}

/** Local parquet side against a live DuckDB holding the mutated copy,
  * reached through the in-repo process bridge. Each operation introspects
  * the remote schema, aligns precision and runs the pushdown bisection at
  * its default factor and [[Sizes.RemoteThreshold]]. */
final class RemotePushdown(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  private val n = Sizes.RemoteRows
  /** Exactly 8 mutated keys (density 8e-5). With a random count the seed
    * decided whether the dirty level-0 segments' 32-way splits fit one
    * batched level-1 statement (at most 256 segments) or two, which moved
    * the operation time by 20 %; at most 8 dirty segments always fit one. */
  private val density = Gen.densityFor(spark, seed, n, 8)
  private val keys = Seq(Gen.Key)
  private val engine = new CountingEngine(DuckDbProcess.engine())
  engine.update("SET threads=1")
  private var dir = ""
  private var a: DataFrame = _
  private var expected = Seq.empty[(String, Long)]
  private var rows = (0L, 0L)

  def setup(round: Int): Unit = {
    dir = s"$work/setup$round"
    val t = Gen.tagged(spark, seed, n, density).cache()
    Gen.sideA(t).write.parquet(s"$dir/a")
    t.where(col("_kind") === Gen.Update).select(Gen.Key).write.parquet(s"$dir/upd")
    t.where(col("_kind") === Gen.Delete).select(Gen.Key).write.parquet(s"$dir/del")
    t.where(col("_kind") === Gen.Insert).select(Gen.Cols.map(col): _*).write.parquet(s"$dir/ins")
    t.unpersist()
    a = spark.read.parquet(s"$dir/a")
    def pq(p: String) = s"read_parquet('$dir/$p/*.parquet')"
    Seq(s"CREATE OR REPLACE TABLE b AS SELECT * FROM ${pq("a")}",
      s"UPDATE b SET o_orderstatus = 'X', o_totalprice = o_totalprice + 1.0 " +
        s"WHERE ${Gen.Key} IN (SELECT ${Gen.Key} FROM ${pq("upd")})",
      s"DELETE FROM b WHERE ${Gen.Key} IN (SELECT ${Gen.Key} FROM ${pq("del")})",
      s"INSERT INTO b SELECT * FROM ${pq("ins")}").foreach(engine.update)
  }

  def prepare(): Unit = {
    expected = Gen.expectedKeys(Gen.tagged(spark, seed, n, density))
    rows = (a.count(), engine.query("SELECT count(*) FROM b").head.head.get.toLong)
  }

  def sideRows: (Long, Long) = rows
  def sideBytes: (Long, Long) = (treeBytes(s"$dir/a"),
    engine.query("SELECT estimated_size FROM duckdb_tables() WHERE table_name = 'b'")
      .head.head.fold(0L)(_.toLong))

  def scanS(): Double = seconds {
    readAll(a)
    engine.query(s"SELECT ${Gen.Cols.map(c => s"count($c)").mkString(", ")} FROM b")
  }._2

  def op(i: Int, tr: Option[Tracer]): OpResult = {
    val before = engine.counts
    val ((got, st), s) = seconds {
      def run() = {
        val remote = traced(tr, "remote.introspect") {
          RemoteTable.introspect(engine, "b", keys, Gen.Compare)
        }
        val (l, r) = Graft.alignPrecision(TableSegment(a, keys, Gen.Compare), remote)
        traced(tr, "pushdown") {
          val (df, st) = PushdownDiffer.diffWithStats(l, r,
            bisectionThreshold = Sizes.RemoteThreshold)
          (df.select("sign", Gen.Key).collect()
            .map(r => (r.getString(0), r.get(1).toString.toLong)).toSeq.sorted, st)
        }
      }
      tr.fold(run())(_.opSpan(i, "op")(run()))
    }
    val rc = engine.counts - before
    OpResult(s, s, None, rows._1 + rows._2, got == expected,
      s"got ${got.size} (sign, key) pairs, want ${expected.size}; first extra " +
        got.diff(expected).take(3).mkString(",") + " first missing " +
        expected.diff(got).take(3).mkString(","),
      Map("remote_statements" -> rc.statements.toDouble,
        "remote_rows_fetched" -> st.rowsFetched.toDouble,
        "remote.statements" -> rc.statements.toDouble,
        "remote.wait_s" -> rc.waitNanos / 1e9,
        "remote.rows" -> rc.rows.toDouble,
        "remote.bytes" -> rc.bytes.toDouble,
        "remote.failed" -> rc.failed.toDouble,
        "pushdown.levels" -> st.levels.toDouble,
        "pushdown.segments_probed" -> st.segmentsProbed.toDouble,
        "pushdown.segments_pruned" -> st.segmentsPruned.toDouble,
        "pushdown.prune_ratio" ->
          (if (st.segmentsProbed == 0) 0.0 else st.segmentsPruned.toDouble / st.segmentsProbed),
        "pushdown.leaf_segments" -> st.leafSegments.toDouble,
        "pushdown.level_s" -> st.levelMillis.sum / 1000.0,
        "pushdown.dense_cutover" -> (if (st.denseCutoverAtLevel.isDefined) 1.0 else 0.0),
        "pushdown.self_s" -> (s - rc.waitNanos / 1e9)))
  }

  override def probe(i: Int, t: Tracer, op: Map[String, Double]): Map[String, Double] =
      t.opSpan(i, "probe") {
    val (_, s) = seconds(t.span("checksum")(TableSegment(a, keys, Gen.Compare).countAndChecksum()))
    Map("checksum.rows_per_s" -> rows._1 / s)
  }

  override def close(): Unit = engine.close()
}

/** A z-ordered layout taking one seeded 1 % CDC batch per operation:
  * `mergeInto` commits it, then `diffVersions(v-1, v)` reads it back and
  * must return exactly that batch. Batches touch disjoint key slots, so a
  * batch's old images are the generator's base rows. */
final class LayoutUpsert(spark: SparkSession, seed: Long, work: String)
    extends Workload(spark, seed, work) {
  private val n = Sizes.LayoutRows
  private val slots = 100 // one slot of keys per operation: 1 % of the base rows
  private val inserts = n / 500 // new keys per operation
  private val numFiles = 8
  private val dims = Seq(col(Gen.Key), col("o_custkey"))
  private val bits = 18
  private val statsCols = Seq(Gen.Key, "o_custkey")
  private val keys = Seq(Gen.Key)
  private var dir = ""
  private var liveRows = n

  private def slot: Column = pmod(xxhash64(col(Gen.Key), lit(seed), lit(7)), lit(slots.toLong))
  private def isDelete: Column = Gen.unit(seed, 8) >= 0.85

  def setup(round: Int): Unit = {
    dir = s"$work/layout$round"
    DataLayout.writeZOrdered(Gen.rows(seed, Gen.keyRange(spark, 0, n)), dims, bits,
      statsCols, dir, numFiles)
  }

  def prepare(): Unit = liveRows = DataLayout.readLayout(spark, dir).count()

  def sideRows: (Long, Long) = (liveRows, liveRows)
  def sideBytes: (Long, Long) = { val b = treeBytes(dir); (b, b) }

  def scanS(): Double = seconds {
    readAll(DataLayout.readLayout(spark, dir))
    readAll(DataLayout.readLayout(spark, dir))
  }._2

  override def hasOp(i: Int): Boolean = i < slots

  def op(i: Int, tr: Option[Tracer]): OpResult = {
    // the batch and its expected diff, built with plain Spark before timing
    val base = Gen.rows(seed, Gen.keyRange(spark, 0, n)).where(slot === i)
    val delta = Gen.updated(base.where(!isDelete))
      .unionByName(Gen.rows(seed, Gen.keyRange(spark, n + i * inserts, n + (i + 1) * inserts)))
      .localCheckpoint()
    val deleteKeys = base.where(isDelete).select(Gen.Key).localCheckpoint()
    val expected = Fingerprint.of(base.withColumn("sign", lit("-"))
      .unionByName(delta.withColumn("sign", lit("+"))))
    val nDeletes = deleteKeys.count()
    val batchBytes = delta.agg(sum(lit(32L) + length(col("o_orderstatus")) +
      length(col("o_orderpriority")))).head().getLong(0) + 8L * nDeletes
    val bytesBefore = treeBytes(dir)
    val rowsBefore = liveRows

    def run() = {
      val (report, commitS) = seconds(traced(tr, "layout.merge") {
        DataLayout.mergeInto(spark, dir, dims, bits, statsCols, delta, keys, numFiles,
          Some(deleteKeys))
      })
      val (v, metaS) = seconds(traced(tr, "layout.meta")(DataLayout.currentVersion(spark, dir)))
      val ((vd, fp), diffS) = seconds(traced(tr, "layout.diff") {
        val vd = DataLayout.diffVersions(spark, dir, v - 1, v, keys)
        (vd, Fingerprint.of(vd.df))
      })
      (report, vd, fp, commitS, metaS, diffS)
    }
    val (report, vd, fp, commitS, metaS, diffS) = tr.fold(run())(_.opSpan(i, "op")(run()))
    val written = treeBytes(dir) - bytesBefore
    liveRows = rowsBefore + inserts - nDeletes
    val read = vd.filesReadA + vd.filesReadB
    OpResult(commitS + metaS + diffS, diffS, Some(commitS), rowsBefore + liveRows,
      fp == expected, s"got $fp want $expected",
      Map("write_amp" -> written.toDouble / batchBytes,
        "layout.files_rewritten" -> report.filesRewritten.toDouble,
        "layout.bytes_written" -> written.toDouble,
        "layout.files_read" -> read.toDouble,
        "layout.file_prune_ratio" -> vd.filesUnchanged.toDouble / (vd.filesUnchanged + read)))
  }
}
