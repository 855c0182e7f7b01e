package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Seeded flow-JSON records and the generator's own projection of them.
  *
  * The projection applies the reference's semantics directly (malformed lines
  * dropped, absent keys take Go zero values, float `Bytes`/`Packets` truncate
  * toward zero, extra and nested keys ignored), independently of the
  * program's decode path, so the sink's output can be checked against it.
  */
object Flows {
  private val strKeys = Seq("SrcAddr", "DstAddr", "SrcK8S_Name", "DstK8S_Name",
    "SrcK8S_Type", "DstK8S_Type", "SrcK8S_Namespace", "DstK8S_Namespace")
  private val kinds = Array("Pod", "Service", "Node", "Deployment")

  /** Counts of one generated input; `digest` is the order-insensitive digest
    * of the expected projected rows (see [[rowDigest]]).
    */
  final case class Expect(lines: Long, malformed: Long, digest: Long) {
    def valid: Long = lines - malformed
    def +(o: Expect): Expect = Expect(lines + o.lines, malformed + o.malformed, digest + o.digest)
  }
  val empty: Expect = Expect(0, 0, 0)

  /** md5 of the canonical row, first 8 bytes as a long; summed with
    * wrap-around it is an order-insensitive digest of a multiset of rows.
    */
  def rowDigest(canonical: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(canonical.getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** The same digest computed by Spark over the sink's 12-column output. */
  def sinkDigest(out: DataFrame): (Long, Long) = {
    val canon = concat_ws("|",
      col("start").cast("long").cast("string"), col("end").cast("long").cast("string"),
      col("src_ip"), col("dst_ip"), col("src_name"), col("dst_name"), col("src_kind"),
      col("dst_kind"), col("src_namespace"), col("dst_namespace"),
      col("bytes").cast("string"), col("packets").cast("string"))
    val md = md5(canon)
    // first 8 bytes as a signed long: two 32-bit halves recombined
    val hi = conv(substring(md, 1, 8), 16, 10).cast("long")
    val lo = conv(substring(md, 9, 8), 16, 10).cast("long")
    val r = out.select(shiftleft(hi, 32).bitwiseOR(lo).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).first()
    // the long wrap-around sum, from the exact decimal sum
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toBigInteger.longValue).getOrElse(0L))
  }

  /** Write `lines` records to `file` and return what the sink should hold. */
  def writeFile(file: File, rng: SplittableRandom, lines: Int, malformedRate: Double): Expect = {
    val w = new BufferedWriter(new FileWriter(file), 1 << 16)
    var malformed = 0L
    var digest = 0L
    val sb = new java.lang.StringBuilder(320)
    try {
      var i = 0
      while (i < lines) {
        sb.setLength(0)
        if (rng.nextDouble() < malformedRate) {
          malformed += 1
          if (rng.nextBoolean()) sb.append("not-json{{{").append(rng.nextInt(1000))
          else sb.append("{\"TimeFlowStartMs\":").append(1695723032000L + rng.nextInt(1000000)).append(",\"SrcAddr\":\"10.")
        } else digest += record(sb, rng)
        w.write(sb.toString); w.write('\n')
        i += 1
      }
    } finally w.close()
    Expect(lines, malformed, digest)
  }

  /** Append one valid record's JSON to `sb`; return its expected row digest. */
  private def record(sb: java.lang.StringBuilder, rng: SplittableRandom): Long = {
    val start = 1695723032000L + rng.nextInt(100000000)
    val end = start + rng.nextInt(5000)
    val sparse = rng.nextDouble() < 0.1 // a tenth of records miss some keys
    def keep: Boolean = !sparse || rng.nextBoolean()
    val strs = strKeys.map { k =>
      if (!keep) "" else k match {
        case "SrcAddr" | "DstAddr" => s"10.${rng.nextInt(4)}.${rng.nextInt(256)}.${rng.nextInt(256)}"
        case "SrcK8S_Type" | "DstK8S_Type" => kinds(rng.nextInt(kinds.length))
        case "SrcK8S_Namespace" | "DstK8S_Namespace" => s"ns-${rng.nextInt(32)}"
        case _ => s"pod-${rng.nextInt(2000)}"
      }
    }
    val hasStart = keep
    val hasEnd = keep
    val hasBytes = keep
    val hasPackets = keep
    // a fifth of Bytes values are floats, which truncate toward zero
    val floatBytes = rng.nextDouble() < 0.2
    val bytesInt = rng.nextInt(1000000)
    val bytesFrac = rng.nextInt(10)
    val packets = rng.nextInt(64)
    sb.append('{')
    var first = true
    def field(k: String, v: String): Unit = {
      if (!first) sb.append(',')
      first = false
      sb.append('"').append(k).append("\":").append(v)
    }
    if (hasStart) field("TimeFlowStartMs", start.toString)
    if (hasEnd) field("TimeFlowEndMs", end.toString)
    strKeys.zip(strs).foreach { case (k, v) => if (v.nonEmpty) field(k, "\"" + v + "\"") }
    if (hasBytes) field("Bytes", if (floatBytes) s"$bytesInt.$bytesFrac" else bytesInt.toString)
    if (hasPackets) field("Packets", packets.toString)
    rng.nextInt(4) match { // extra keys the projection ignores
      case 0 => field("Proto", "6")
      case 1 => field("Extra", "{\"nested\":true,\"k\":[1,2]}")
      case _ => ()
    }
    sb.append('}')
    val canon = Seq(
      if (hasStart) start.toString else "0", if (hasEnd) end.toString else "0") ++ strs ++
      Seq(if (hasBytes) bytesInt.toString else "0", if (hasPackets) packets.toString else "0")
    rowDigest(canon.mkString("|"))
  }
}
