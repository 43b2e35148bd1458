package perfbench

import graft.dns.Pipeline
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's independent BIND9 formatter and poison injection,
  * checked against `graft.dns.Pipeline` on a small seeded sample. */
class DnsGenSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  private val mix = DnsGen.Mix(1, 40, 4, 4, poison = 0.2, rejectEvery = 10)
  private val envs = (0 until 30).map(DnsGen.envelope(7, _, mix))

  test("generated sample carries every poison reason and a rejected envelope") {
    val reasons = envs.filterNot(_.rejected).flatMap(_.recs).flatMap(_.reason).toSet
    assert(reasons === DnsGen.Reasons.toSet)
    assert(envs.exists(_.rejected))
  }

  test("Pipeline lines equal the independently formatted BIND9 lines") {
    import spark.implicits._
    val out = Pipeline.processJson(spark.createDataset(envs.map(_.json)))
    try {
      val got = out.lines.select("line").as[String].collect()
        .map(l => new String(DnsGen.datagram(l), StandardCharsets.UTF_8)).sorted
      val want = envs.flatMap(_.clean).flatMap(_.datagrams)
        .map(new String(_, StandardCharsets.UTF_8)).sorted
      assert(got.diff(want).isEmpty && want.diff(got).isEmpty,
        s"only Pipeline: ${got.diff(want).take(2)}; only expected: ${want.diff(got).take(2)}")
      val q = out.quarantine.groupBy("reason").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val accepted = envs.filterNot(_.rejected).flatMap(_.recs)
      DnsGen.Reasons.foreach(r =>
        assert(q.getOrElse(r, 0L) === accepted.count(_.reason.contains(r)), r))
      assert(out.rejectedEnvelopes.count() === envs.count(_.rejected))
    } finally out.release()
  }
}
