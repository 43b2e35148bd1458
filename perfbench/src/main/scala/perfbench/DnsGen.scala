package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.{Base64, Locale, SplittableRandom}

/** Seeded Firehose envelopes of Route53 Resolver query-log records, and
  * the BIND9 syslog datagrams they must produce.
  *
  * The expected datagrams are formatted here from the generated fields,
  * without calling any `graft` code, so the benchmark's output check is
  * independent of the formatter under test.
  */
object DnsGen {

  /** One generated record: its base64 `data`, and either the datagrams
    * it must produce (clean) or the quarantine reason it must get. */
  final case class Rec(data: String, datagrams: Seq[Array[Byte]],
      reason: Option[String])

  /** One envelope document; `rejected` envelopes must be refused whole. */
  final case class Envelope(requestId: String, json: String,
      recs: Seq[Rec], rejected: Boolean) {
    def clean: Seq[Rec] = if (rejected) Nil else recs.filter(_.reason.isEmpty)
  }

  val Reasons: Seq[String] = Seq("base64", "json", "schema", "timestamp")

  /** Mix knobs of one spool. Records per envelope span
    * [minRecords, maxRecords] in `strata` equal bands, envelope `i` drawing
    * uniformly from band `i % strata`: every run of `strata` consecutive
    * envelopes (one micro-batch, when it equals the file source's files
    * per trigger) holds about the same number of records, whatever the
    * seed. `poison` is a per-record probability; every `rejectEvery`-th
    * envelope is rejected (0 = none). */
  final case class Mix(minRecords: Int, maxRecords: Int, strata: Int,
      maxAnswers: Int, poison: Double, rejectEvery: Int)

  private val SysTs = DateTimeFormatter.ofPattern("MMM dd HH:mm:ss", Locale.US)
  private val BindTs =
    DateTimeFormatter.ofPattern("dd-MMM-yyyy HH:mm:ss'.000'", Locale.US)
  private val IsoTs = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
  private val Base = LocalDateTime.of(2024, 1, 1, 0, 0, 0)

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** The syslog datagram of one line: PRI `<30>` (daemon.info) and the
    * trailing NUL that Python's SysLogHandler appends. */
  def datagram(line: String): Array[Byte] =
    s"<30>$line\u0000".getBytes(StandardCharsets.UTF_8)

  final case class Answer(rdata: String, tpe: String)

  final case class Fields(vpc: String, ts: LocalDateTime, qname: String,
      qtype: String, rcode: String, answers: Seq[Answer], srcaddr: String,
      srcport: String, transport: String, instance: String) {
    def isoTs: String = IsoTs.format(ts)
  }

  /** BIND9 lines of one clean record: the query line, then one reply
    * line per answer. The client tag is 12 hex digits of the md5 of the
    * record identity joined by U+0001. */
  def bind9Lines(requestId: String, recordIdx: Int, f: Fields): Seq[String] = {
    val tag = "@0x" + md5hex(
      Seq(requestId, recordIdx.toString, f.qname, f.isoTs).mkString("\u0001"))
      .take(12)
    val head = s"${SysTs.format(f.ts)} ${f.vpc} route53resolver: " +
      s"${BindTs.format(f.ts)} client $tag ${f.srcaddr}#${f.srcport} (${f.qname}): "
    val first = f.answers.headOption.map(_.tpe).getOrElse("A")
    (head + s"query: ${f.qname} IN $first + (127.0.0.1)") +:
      f.answers.map(a => head + s"reply: ${f.qname} is ${a.rdata}")
  }

  private def q(s: String) = "\"" + s + "\""

  /** The record JSON; `numericPort` breaks the schema (srcport must be a
    * JSON string) and `badTs` the strict timestamp layout. */
  private def recordJson(f: Fields, numericPort: Boolean = false,
      badTs: Boolean = false): String = {
    val ts = if (badTs) f.isoTs.replace('T', ' ') else f.isoTs
    val answers = f.answers.map(a =>
      s"""{"Rdata":${q(a.rdata)},"Type":${q(a.tpe)},"Class":"IN"}""")
      .mkString("[", ",", "]")
    val port = if (numericPort) f.srcport else q(f.srcport)
    s"""{"version":"1.100000","account_id":"111122223333",""" +
      s""""region":"eu-west-1","vpc_id":${q(f.vpc)},""" +
      s""""query_timestamp":${q(ts)},"query_name":${q(f.qname)},""" +
      s""""query_type":${q(f.qtype)},"query_class":"IN",""" +
      s""""rcode":${q(f.rcode)},"answers":$answers,""" +
      s""""srcaddr":${q(f.srcaddr)},"srcport":$port,""" +
      s""""transport":${q(f.transport)},""" +
      s""""srcids":{"instance":${q(f.instance)}}}"""
  }

  private val Types = Array("A", "AAAA", "CNAME", "TXT", "MX")

  private def fields(r: SplittableRandom, maxAnswers: Int): Fields = {
    def ip = s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(1, 255)}"
    val nAns = r.nextInt(maxAnswers + 1)
    Fields(
      vpc = f"vpc-${r.nextInt(1 << 24)}%06x",
      ts = Base.plusSeconds(r.nextLong(366L * 86400)),
      qname = s"h${r.nextInt(100000)}.zone${r.nextInt(500)}.example.",
      qtype = Types(r.nextInt(Types.length)),
      rcode = if (r.nextInt(10) == 0) "NXDOMAIN" else "NOERROR",
      answers = Seq.fill(nAns)(Answer(
        s"203.0.${r.nextInt(256)}.${r.nextInt(256)}",
        Types(r.nextInt(3)))),
      srcaddr = ip,
      srcport = (1024 + r.nextInt(64000)).toString,
      transport = if (r.nextBoolean()) "UDP" else "TCP",
      instance = f"i-${r.nextLong() & 0xffffffffffffL}%012x")
  }

  private def record(r: SplittableRandom, requestId: String, idx: Int,
      mix: Mix): Rec = {
    val f = fields(r, mix.maxAnswers)
    if (r.nextDouble() >= mix.poison)
      Rec(b64(recordJson(f)), bind9Lines(requestId, idx, f).map(datagram), None)
    else Reasons(r.nextInt(Reasons.length)) match {
      // One stray data character: 4k+1 characters cannot be base64.
      case "base64" => Rec("A" + b64(recordJson(f)), Nil, Some("base64"))
      case "json" => Rec(b64("{\"version\": " + f.qname), Nil, Some("json"))
      case "schema" =>
        Rec(b64(recordJson(f, numericPort = true)), Nil, Some("schema"))
      case _ => Rec(b64(recordJson(f, badTs = true)), Nil, Some("timestamp"))
    }
  }

  /** Envelope `i` of the spool seeded by `seed`: the same (seed, i)
    * always yields the same document. A rejected envelope carries a
    * numeric requestId or an empty record list. */
  def envelope(seed: Long, i: Int, mix: Mix): Envelope = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val requestId = f"req-$seed%d-$i%06d-${r.nextInt()}%08x"
    val band = (mix.maxRecords - mix.minRecords + 1).toDouble / mix.strata
    val lo = mix.minRecords + ((i % mix.strata) * band).toInt
    val hi = mix.minRecords + (((i % mix.strata) + 1) * band).toInt
    val n = lo + r.nextInt(math.max(1, hi - lo))
    val recs = (0 until n).map(idx => record(r, requestId, idx, mix))
    val rejectKind =
      if (mix.rejectEvery > 0 && i % mix.rejectEvery == mix.rejectEvery - 1)
        1 + r.nextInt(2)
      else 0
    val recsJson = rejectKind match {
      case 2 => "[]"
      case _ => recs.map(x => s"""{"data":${q(x.data)}}""").mkString("[", ",", "]")
    }
    val rid = if (rejectKind == 1) "12345" else q(requestId)
    val json = s"""{"requestId":$rid,"timestamp":${1704067200000L + i},""" +
      s""""records":$recsJson}"""
    Envelope(requestId, json, recs, rejectKind != 0)
  }
}
