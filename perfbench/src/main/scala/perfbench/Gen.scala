package perfbench

import java.time.{LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One generated span: identity (`ts`, `id`) plus payload. */
final case class SpanRow(tenant: String, ts: Long, id: String, trace: String,
    name: String, level: String, msg: String, duration: Long)

/** Seeded span generator over a fixed virtual clock. Every event time and
  * version stamp is [[Anchor]] plus an offset, so date partitions and
  * dedup tiebreaks never depend on the wall clock. */
object Gen {
  val Anchor: LocalDateTime = LocalDateTime.of(2024, 6, 10, 12, 0)
  val AnchorUs: Long = Anchor.toEpochSecond(ZoneOffset.UTC) * 1000000L
  val SecUs = 1000000L
  val HourUs: Long = 3600L * SecUs
  val DayUs: Long = 24L * HourUs

  val TraceLen = 8
  val Tenants: Seq[String] = (0 until 6).map(i => s"p$i")
  // Zipf(1.1) tenant weights: p0 is the heavy tenant
  private val cumWeights: Seq[Double] = {
    val w = Tenants.indices.map(k => 1.0 / math.pow(k + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }
  private val Names = (0 until 20).map(i => s"GET /api/v1/resource$i")

  def ldt(us: Long): LocalDateTime = LocalDateTime.ofEpochSecond(
    Math.floorDiv(us, SecUs), (Math.floorMod(us, SecUs) * 1000L).toInt,
    ZoneOffset.UTC)

  def tenant(rng: Random): String = {
    val u = rng.nextDouble()
    Tenants(cumWeights.indexWhere(u < _) match { case -1 => 0; case k => k })
  }

  private def level(rng: Random): String = {
    val u = rng.nextDouble()
    if (u < 0.02) "ERROR" else if (u < 0.12) "WARN" else if (u < 0.22) "DEBUG"
    else "INFO"
  }

  /** `traces` traces of [[TraceLen]] spans each, one tenant per trace,
    * trace starts uniform in [lo, hi). Identities are unique per `tag`.
    * `shape` draws what decides the table's layout (tenants and times),
    * `payload` the rest (names, levels, messages, durations). */
  def traces(shape: Random, payload: Random, tag: String, traces: Int,
      lo: Long, hi: Long): Seq[SpanRow] =
    (0 until traces).flatMap { g =>
      val t = tenant(shape)
      val start = lo + (shape.nextDouble() * (hi - lo - 10000L)).toLong
      (0 until TraceLen).map { j =>
        SpanRow(t, start + j * 1000L + shape.nextInt(1000), s"$tag-$g-$j",
          s"$tag-$g", Names(payload.nextInt(Names.size)), level(payload),
          s"m${payload.nextInt(1000)}", payload.nextInt(100000).toLong)
      }
    }

  /** The same identity with a new payload. */
  def resend(payload: Random, r: SpanRow): SpanRow =
    r.copy(level = level(payload), msg = s"r${payload.nextInt(1000)}",
      duration = payload.nextInt(100000).toLong)

  val schema: StructType = StructType(Seq(
    StructField("project_id", StringType),
    StructField("timestamp", TimestampNTZType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("name", StringType),
    StructField("kind", StringType),
    StructField("status_code", StringType),
    StructField("status_message", StringType),
    StructField("level", StringType),
    StructField("duration", LongType),
    StructField("context___trace_id", StringType),
    StructField("context___span_id", StringType),
    StructField("resource___service___name", StringType)))

  def row(r: SpanRow): Row = Row(r.tenant, ldt(r.ts), r.id, r.name, "SERVER",
    if (r.level == "ERROR") "ERROR" else "OK", r.msg, r.level, r.duration,
    r.trace, r.id, s"svc-${r.name.length % 3}")

  def frame(spark: SparkSession, rows: Seq[SpanRow]): DataFrame =
    spark.createDataFrame(rows.map(row).asJava, schema)

  /** Size in bytes of every regular file under `dir`. */
  def du(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }
}
