package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/** Order-independent record digests, computed the same way as `gen.py`:
  * each record is rendered as `name=value` pairs sorted by name (a double as
  * round-half-up of value * 100, a timestamp as `yyyy-MM-dd HH:mm:ss.SSSSSS`),
  * hashed with MD5 cut to its first 60 bits, and the hashes are summed
  * modulo 2^64. The digest is printed as unsigned hex.
  */
object Digest {
  private val md5Digest = MessageDigest.getInstance("MD5")

  private def hash60(canon: String): Long = {
    val d = md5Digest.digest(canon.getBytes(StandardCharsets.UTF_8))
    var h = 0L
    for (i <- 0 until 8) h = (h << 8) | (d(i) & 0xffL)
    h >>> 4
  }

  private def render(v: JsonNode): String =
    if (v == null || v.isNull) "null"
    else if (v.isBoolean) v.asText
    else if (v.isIntegralNumber) v.asText
    else if (v.isNumber) math.floor(v.asDouble * 100 + 0.5).toLong.toString
    else if (v.isTextual) v.asText
    else v.toString

  /** Hash of one Singer `record` object. */
  def recordHash(record: JsonNode): Long = {
    val names = record.fieldNames().asScala.toSeq.sorted
    hash60(names.map(n => s"$n=${render(record.get(n))}").mkString("\u001f"))
  }

  def hex(sum: Long): String = java.lang.Long.toUnsignedString(sum, 16)

  /** (row count, digest) of each DataFrame, rendered with the same rules,
    * computed in one Spark job.
    */
  def of(frames: Seq[(String, DataFrame)]): Map[String, (Long, String)] = {
    val aggs = frames.map { case (name, df) =>
      val parts = df.schema.fields.sortBy(_.name).map { f =>
        val c = col(s"`${f.name}`")
        val v: Column = f.dataType match {
          case DoubleType | FloatType => floor(c * 100 + 0.5).cast(LongType).cast(StringType)
          case TimestampType | TimestampNTZType => date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
          case _ => c.cast(StringType)
        }
        concat(lit(f.name + "="), coalesce(v, lit("null")))
      }
      val h = conv(substring(md5(concat_ws("\u001f", parts.toSeq: _*)), 1, 15), 16, 10)
        .cast(DecimalType(20, 0))
      df.agg(lit(name).as("name"), count(lit(1)).as("n"), sum(h).as("d"))
    }
    aggs.reduce(_ unionByName _).collect().map(r => r.getString(0) -> (r.getLong(1), sum64(r.getDecimal(2)))).toMap
  }

  /** (row count, digest) of a query result: the xxhash64 of each row's
    * columns (a map-typed column as its JSON), summed modulo 2^64. One Spark
    * job over the same frame; the query_mix pins hold these values.
    */
  def ofQuery(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map(f => if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    val r = named.agg(count(lit(1)), sum(h.cast(DecimalType(20, 0)))).head()
    (r.getLong(0), sum64(r.getDecimal(1)))
  }

  private def sum64(d: java.math.BigDecimal): String =
    Option(d).map(d => BigInt(d.toBigInteger).mod(BigInt(1) << 64).toString(16)).getOrElse("0")

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType    => true
    case a: ArrayType  => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _             => false
  }
}
