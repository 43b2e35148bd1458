package perfbench

import graft.dns.{Pipeline, Streaming}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{IntegerType, StringType, StructType}

/** What one spool must produce: datagram count and multiset hash,
  * records, quarantine counts by reason, rejected envelopes. */
final case class Expected(datagrams: Long, hashSum: Long, records: Long,
    quarantined: Map[String, Long], rejected: Long, bytes: Long)

object Expected {
  def of(envs: Seq[DnsGen.Envelope]): Expected = {
    val accepted = envs.filterNot(_.rejected)
    val grams = accepted.flatMap(_.clean).flatMap(_.datagrams)
    Expected(grams.size, grams.map(g => UdpReceiver.hash(g)).sum,
      accepted.map(_.recs.size.toLong).sum,
      DnsGen.Reasons.map(r =>
        r -> accepted.flatMap(_.recs).count(_.reason.contains(r)).toLong).toMap,
      envs.count(_.rejected).toLong,
      envs.map(_.json.getBytes(StandardCharsets.UTF_8).length + 1L).sum)
  }

  def writeSpool(dir: Path, envs: Seq[DnsGen.Envelope]): Unit = {
    Files.createDirectories(dir)
    envs.zipWithIndex.foreach { case (e, i) =>
      Files.writeString(dir.resolve(f"envelope-$i%06d.json"), e.json + "\n")
    }
  }
}

/** Shared pieces of the two DNS workloads: the stream under test, the
  * dead-letter checks, and the prefix-forced pipeline probe. */
object DnsCommon {
  val quarantineSchema: StructType = new StructType()
    .add("requestId", StringType).add("record_idx", IntegerType)
    .add("data", StringType).add("reason", StringType)
  val rejectedSchema: StructType = new StructType()
    .add("requestId", StringType).add("reject_reason", StringType)

  def start(spark: SparkSession, spool: Path, port: Int, dl: Path, ck: Path,
      trigger: Trigger): StreamingQuery =
    Streaming.start(
      Streaming.envelopeSource(spark, "files", Map("path" -> spool.toString)),
      "127.0.0.1", port, dl.toString, ck.toString, trigger)

  /** Quarantine counts by reason and rejected count in a dead-letter
    * directory. */
  def deadLetter(spark: SparkSession, dl: Path): (Map[String, Long], Long) = {
    val q = spark.read.schema(quarantineSchema).parquet(s"$dl/quarantine")
      .groupBy("reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rej = spark.read.schema(rejectedSchema).parquet(s"$dl/rejected").count()
    (q, rej)
  }

  def files(dir: Path, suffix: String): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(p => p.toString.endsWith(suffix)).count() finally s.close()
    }

  /** Prefix-forced noop writes over a spool in batch mode: envelope gate,
    * then + record decode, then + BIND9 format. Each prefix runs
    * `reps` times; the medians go to `pipeline.prefix.*`, from which
    * `run.py` derives each stage's self time. Exact output
    * counts go to `pipeline.*` and are checked against `exp`. */
  def probe(spark: SparkSession, tracer: Tracer, res: Result, spool: Path,
      exp: Expected, reps: Int = 3): Unit = {
    import spark.implicits._
    val raw = spark.read.text(spool.toString).select(col("value")).as[String]
    def gated: DataFrame = Pipeline.envelopeRejectReason(Pipeline.parseEnvelopes(raw))
    def accepted: DataFrame =
      gated.filter(col("reject_reason").isNull).drop("reject_reason")
    def decoded: DataFrame = Pipeline.decodedRecords(accepted)
    def lines: DataFrame = Pipeline.bind9Lines(decoded.filter(col("reason").isNull))
    def timed(name: String, df: => DataFrame): Double = {
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        tracer.span(name) { df.write.format("noop").mode("overwrite").save() }
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(ts.size / 2)
    }
    val g = timed("probe:gate", gated)
    val d = timed("probe:decode", decoded)
    val f = timed("probe:format", lines)
    res.counters("pipeline.prefix.gate_s") = g
    res.counters("pipeline.prefix.decode_s") = d
    res.counters("pipeline.prefix.format_s") = f
    val out = Pipeline.processJson(raw)
    try res.attempt("pipeline:counts") {
      val q = out.quarantine.groupBy("reason").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val rejected = out.rejectedEnvelopes.count()
      val records = decoded.count()
      res.counters("pipeline.records") = records.toDouble
      DnsGen.Reasons.foreach(r =>
        res.counters(s"pipeline.quarantined.$r") = q.getOrElse(r, 0L).toDouble)
      res.counters("pipeline.rejected") = rejected.toDouble
      Check.same("records", records, exp.records) &&
        Check.same("rejected envelopes", rejected, exp.rejected) &&
        DnsGen.Reasons.forall(r =>
          Check.same(s"quarantined $r", q.getOrElse(r, 0L), exp.quarantined(r)))
    } finally out.release()
  }
}

/** `dns_drain`: a seeded backlog of envelope files drained by
  * `Streaming.start` (file source, `Trigger.AvailableNow`) into a
  * loopback UDP receiver and the dead-letter parquet. One operation is
  * one drain of the whole spool from a fresh checkpoint. */
final class DnsDrain(spark: SparkSession, tracer: Tracer, res: Result,
    dir: Path, seed: Long) extends Workload {
  private val Envelopes = 48
  // 16 strata: the file source's default of 16 files per trigger.
  private val mix = DnsGen.Mix(1, 500, 16, 4, poison = 0.02,
    rejectEvery = Envelopes)
  private val spool = dir.resolve("spool")
  private val rx = new UdpReceiver
  private var exp: Expected = _
  private var n = 0

  def setup(): Unit = {
    val envs = (0 until Envelopes).map(DnsGen.envelope(seed, _, mix))
    Expected.writeSpool(spool, envs)
    exp = Expected.of(envs)
    // The smallest operation: a one-file drain.
    val one = dir.resolve("spool-one")
    Expected.writeSpool(one, envs.take(1))
    drainOnce(one, Expected.of(envs.take(1)), None)
  }

  /** Drains for a few seconds: the first ones run 20-50% slower while
    * the JIT compiles the decode and sink paths. */
  def warm(): Unit = {
    val end = System.nanoTime() + 6000000000L
    do drainOnce(spool, exp, None) while (System.nanoTime() < end)
  }

  /** One drain of `src` from a fresh checkpoint, checked against `e`;
    * counted in `phase` when given. */
  private def drainOnce(src: Path, e: Expected, phase: Option[String]): Unit = {
    n += 1
    val ck = dir.resolve(s"ck-$n")
    val dl = dir.resolve(s"dl-$n")
    rx.reset()
    res.attempt(s"drain-$n") {
      val t0 = System.nanoTime()
      val q = tracer.span("drain") {
        val q = DnsCommon.start(spark, src, rx.port, dl, ck, Trigger.AvailableNow())
        q.awaitTermination()
        rx.await(e.datagrams, 2000)
        q
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val (quarantined, rejected) = DnsCommon.deadLetter(spark, dl)
      val ok = Check.same("datagrams", rx.count, e.datagrams) &&
        Check.same("datagram multiset hash", rx.sum, e.hashSum) &&
        Check.same("rejected envelopes", rejected, e.rejected) &&
        DnsGen.Reasons.forall(r =>
          Check.same(s"quarantined $r", quarantined.getOrElse(r, 0L), e.quarantined(r)))
      phase.foreach { p =>
        res.work(p) += e.records
        res.busyS(p) += sec
        q.recentProgress.foreach { pr =>
          res.latencyMs(p) += pr.durationMs.get("triggerExecution").doubleValue
          res.progress += Progress.row(pr, p)
        }
        if (p == "traced") {
          res.add("sink.udp_received", rx.count.toDouble)
          res.add("sink.udp_expected", e.datagrams.toDouble)
          res.add("sink.deadletter_files", DnsCommon.files(dl, ".parquet").toDouble)
          res.add("spool.bytes", e.bytes.toDouble)
        }
      }
      ok
    }
  }

  def measure(seconds: Double, phase: String): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    do drainOnce(spool, exp, Some(phase)) while (System.nanoTime() < end)
  }

  override def probe(): Unit = DnsCommon.probe(spark, tracer, res, spool, exp)

  def close(): Unit = rx.close()
}

/** Output checks that say what differed. */
object Check {
  final class Mismatch(msg: String) extends RuntimeException(msg)

  def same(what: String, got: Long, want: Long): Boolean =
    if (got == want) true else throw new Mismatch(s"$what: got $got, want $want")
}

object Progress {
  def row(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
      phase: String): Map[String, Any] =
    Map("batch_id" -> p.batchId, "phase" -> phase,
      "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "input_rows" -> p.numInputRows,
      "duration_ms" -> scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs)
        .asScala.map { case (k, v) => k -> v.doubleValue }.toMap)
}
