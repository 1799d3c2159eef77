package graft.catalog

import java.io.{ByteArrayOutputStream, StringWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{Deflater, DeflaterOutputStream, Inflater, InflaterOutputStream}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.core.json.{JsonReadFeature, JsonWriteFeature}
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper

import VersionedTable.Commit

/** The one JSON codec of every metadata file the program writes or reads:
  * commit bodies and checkpoint lines, the `_ddl` archive, the keyed sidecars,
  * the staged dirs' file manifests, the vacuum floor, the COPY INTO ledger,
  * index-manifest pins and the dedup index params. Jackson escapes every string it writes (quotes, backslashes
  * and control characters), so no caller has to keep its strings "JSON-safe".
  *
  * Two departures from strict JSON keep older files readable:
  *  - non-finite doubles are written and read as the bare tokens `NaN`,
  *    `Infinity` and `-Infinity` (a `max()` over a column holding NaN is NaN,
  *    and logs have always held it that way);
  *  - raw control characters inside strings are accepted on read, because
  *    sidecars and DDL archives were once written without escaping them.
  */
private[graft] object MetadataJson {

  private val mapper = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS)
    .build()

  /** One compact JSON object holding the fields `fields` writes, in its order. */
  def obj(fields: JsonGenerator => Unit): String = {
    val out = new StringWriter
    val g = mapper.createGenerator(out)
    try { g.writeStartObject(); fields(g); g.writeEndObject() }
    finally g.close()
    out.toString
  }

  /** The object `body` holds; None for an empty, truncated or malformed body. */
  def parse(body: String): Option[JsonNode] =
    try Option(mapper.readTree(body)).filter(_.isObject)
    catch { case _: java.io.IOException => None }

  /** A flat object of string fields, keys sorted. */
  def encodeStrings(m: Map[String, String]): String =
    obj(g => m.toSeq.sortBy(_._1).foreach { case (k, v) => g.writeStringField(k, v) })

  /** The string fields of a flat object; empty for a malformed body. */
  def decodeStrings(body: String): Map[String, String] =
    parse(body).fold(Map.empty[String, String])(_.properties.asScala
      .collect { case e if e.getValue.isTextual => e.getKey -> e.getValue.textValue }
      .toMap)

  /** A commit body: one line, fields in the order readers have always seen. */
  def encodeCommit(c: Commit): String = obj { g =>
    g.writeNumberField("version", c.version)
    g.writeStringField("operation", c.operation)
    g.writeStringField("timestamp", c.timestamp)
    g.writeNumberField("row_count", c.row_count)
    g.writeStringField("data_dir", c.data_dir)
    g.writeStringField("change_dir", c.change_dir)
    g.writeStringField("dv_dir", c.dv_dir)
    g.writeStringField("partition_by", c.partition_by)
    g.writeStringField("txn_app", c.txn_app)
    g.writeNumberField("txn_id", c.txn_id)
    g.writeStringField("replace_where", c.replace_where)
    g.writeNumberField("replaced_rows", c.replaced_rows)
    g.writeStringField("schema", c.schema_json)
    def sorted[V](name: String, m: Map[String, V])(value: V => Unit): Unit = {
      g.writeObjectFieldStart(name)
      m.toSeq.sortBy(_._1).foreach { case (k, v) => g.writeFieldName(k); value(v) }
      g.writeEndObject()
    }
    sorted("stats", c.stats) { case (mn, mx) =>
      g.writeStartArray(); g.writeNumber(mn); g.writeNumber(mx); g.writeEndArray() }
    sorted("sstats", c.sstats) { case (mn, mx) =>
      g.writeStartArray(); g.writeString(mn); g.writeString(mx); g.writeEndArray() }
    sorted("nulls", c.nulls)(n => g.writeNumber(n))
  }

  /** The commit a body records; None while the body is not yet a commit (an
    * in-flight claim, a truncated write) so its version slot stays blocked.
    * Fields absent from older layouts read as their defaults; a missing
    * `replaced_rows` is 0 (those commits replaced nothing).
    */
  def decodeCommit(body: String): Option[Commit] = parse(body).flatMap { n =>
    def str(k: String) = n.path(k).asText("")
    def num(k: String, default: Long = -1L) = n.path(k).asLong(default)
    def entries[V](k: String)(value: JsonNode => V): Map[String, V] =
      n.path(k).properties.asScala.map(e => e.getKey -> value(e.getValue)).toMap
    val c = Commit(num("version"), str("operation"), str("timestamp"),
      num("row_count"), str("data_dir"), str("partition_by"), str("txn_app"),
      num("txn_id"),
      entries("stats")(v => (v.path(0).asDouble, v.path(1).asDouble)),
      str("change_dir"), str("replace_where"), num("replaced_rows", 0L),
      str("dv_dir"),
      entries("sstats")(v => (v.path(0).asText(""), v.path(1).asText(""))),
      entries("nulls")(_.asLong), str("schema"))
    Some(c).filter(c => c.version >= 0 && c.operation.nonEmpty)
  }

  /** A staged dir's file manifest: one object of (path relative to the dir →
    * length), raw-deflated. It names every partition dir a write touched, and
    * those names repeat so much that deflate shrinks a 100-file manifest about
    * 15-fold — within the bytes of the `.crc` sidecars the direct write drops.
    */
  def encodeFiles(files: Seq[(String, Long)]): Array[Byte] = {
    val out = new ByteArrayOutputStream
    val deflater = new Deflater(Deflater.BEST_COMPRESSION, true)
    val z = new DeflaterOutputStream(out, deflater)
    try z.write(obj(g => files.foreach { case (p, n) => g.writeNumberField(p, n) })
      .getBytes(UTF_8))
    finally { z.close(); deflater.end() }
    out.toByteArray
  }

  /** The (relative path, length) entries of a manifest; None for a truncated
    * or malformed one.
    */
  def decodeFiles(bytes: Array[Byte]): Option[Seq[(String, Long)]] = {
    val out = new ByteArrayOutputStream
    val inflater = new Inflater(true)
    val z = new InflaterOutputStream(out, inflater)
    val body =
      try {
        z.write(bytes); z.close()
        Some(new String(out.toByteArray, UTF_8)).filter(_ => inflater.finished())
      }
      catch { case _: java.io.IOException => None }
      finally inflater.end()
    body.flatMap(parse).map(_.properties.asScala.toSeq
      .map(e => e.getKey -> e.getValue.asLong(-1L)))
      .filter(_.forall(_._2 >= 0))
  }
}
