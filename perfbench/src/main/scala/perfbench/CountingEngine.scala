package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import graft.sources.{RemoteEngine, SourceProfile}

/** What crossed the wire to a remote engine. `bytes` counts the UTF-8
  * bytes of the returned values (NULLs count 0), not a transport's framing. */
final case class RemoteCounts(statements: Long, waitNanos: Long, rows: Long,
    bytes: Long, failed: Long) {
  def -(o: RemoteCounts): RemoteCounts = RemoteCounts(statements - o.statements,
    waitNanos - o.waitNanos, rows - o.rows, bytes - o.bytes, failed - o.failed)
}

/** A [[RemoteEngine]] delegate that counts statements, the time callers
  * wait on them, rows and value bytes returned, and statements that
  * failed. Failures are counted and rethrown, never retried. Safe to call
  * from several threads, like the engines it wraps. */
final class CountingEngine(inner: RemoteEngine) extends RemoteEngine {
  private val statements = new AtomicLong
  private val waitNanos = new AtomicLong
  private val rows = new AtomicLong
  private val bytes = new AtomicLong
  private val failed = new AtomicLong

  def profile: SourceProfile = inner.profile

  def counts: RemoteCounts =
    RemoteCounts(statements.get, waitNanos.get, rows.get, bytes.get, failed.get)

  private def counted[T](f: => T): T = {
    statements.incrementAndGet()
    val t0 = System.nanoTime()
    try f
    catch { case e: Throwable => failed.incrementAndGet(); throw e }
    finally waitNanos.addAndGet(System.nanoTime() - t0)
  }

  def query(sql: String): Seq[Seq[Option[String]]] = {
    val out = counted(inner.query(sql))
    rows.addAndGet(out.size)
    bytes.addAndGet(out.iterator.map(_.iterator.map(_.fold(0)(_.getBytes(UTF_8).length)).sum.toLong).sum)
    out
  }

  override def update(sql: String): Unit = counted(inner.update(sql))

  override def jdbcSource: Option[(String, java.util.Properties)] = inner.jdbcSource

  override def close(): Unit = inner.close()
}
