package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{DuckDbProfile, RemoteEngine, SourceProfile}

class CountingEngineSpec extends AnyFunSuite {
  private final class Fake extends RemoteEngine {
    var updates = 0
    var closed = false
    def profile: SourceProfile = DuckDbProfile
    def query(sql: String): Seq[Seq[Option[String]]] = sql match {
      case "boom" => throw new RuntimeException("remote engine error")
      case "slow" => Thread.sleep(20); Seq(Seq(Some("x")))
      case _ => Seq(Seq(Some("ab"), None), Seq(Some("é"), Some("1")))
    }
    override def update(sql: String): Unit = updates += 1
    override def close(): Unit = closed = true
  }

  test("counts statements, rows and UTF-8 value bytes; NULL counts zero bytes") {
    val e = new CountingEngine(new Fake)
    assert(e.query("select").size == 2)
    e.query("select")
    assert(e.counts.copy(waitNanos = 0) == RemoteCounts(2, 0, 4, 2 * (2 + 2 + 1), 0))
  }

  test("a failed statement is counted and rethrown, never retried") {
    val e = new CountingEngine(new Fake)
    val err = intercept[RuntimeException](e.query("boom"))
    assert(err.getMessage.contains("remote engine error"))
    assert(e.counts.statements == 1 && e.counts.failed == 1 && e.counts.rows == 0)
  }

  test("waiting is timed, updates are counted, and the rest delegates") {
    val fake = new Fake
    val e = new CountingEngine(fake)
    val before = e.counts
    e.query("slow")
    e.update("insert")
    val d = e.counts - before
    assert(d.statements == 2 && d.rows == 1 && fake.updates == 1)
    assert(d.waitNanos >= 20L * 1000 * 1000)
    assert(e.profile == DuckDbProfile && e.jdbcSource.isEmpty)
    e.close()
    assert(fake.closed)
  }
}
