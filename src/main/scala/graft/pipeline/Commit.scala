package graft.pipeline

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** The one commit protocol for durable writes. Every writer stages its
  * data first and then commits a small marker here; a reader treats the
  * data as committed exactly when the marker reads back. The markers:
  *
  *   GraphSink          `_manifests/bucket-<b>.json`, `_committed.json`
  *   KgPipeline         `iter-<k>.done.json` (durable CC frontier)
  *   KgIncrementalJob   `_incr/<phase>.json` (intent and phase markers)
  *   StreamingIngest    `_manifests/<prefix>-<batch>.json`, `_canon_version`
  *
  * A commit writes the marker to a dot-prefixed tmp file (hidden from
  * every listing and from Spark's readers) and renames it onto the
  * destination. It is write-once: an existing marker is never replaced,
  * because rename onto an existing file differs between filesystems
  * (HDFS refuses it, the local FS replaces) and delete-then-rename would
  * open a window with no marker. A resume path re-traversing a commit
  * point re-commits identical bytes as a no-op; different bytes mean
  * two runs disagree about committed state, which fails loudly instead
  * of being kept or replaced silently.
  */
object Commit {

  /** The filesystem `dir` lives on, resolved from the path and not the
    * default filesystem: an `hdfs://` or `s3a://` output would otherwise
    * be checked against the wrong one.
    */
  def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The committed marker's text, or None when no marker is committed at
    * `path` (a tmp file left by a crash before its rename is not one).
    */
  def read(f: FileSystem, path: String): Option[String] =
    try {
      val in = f.open(new Path(path))
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** Commits `text` at `path`, write-once (see the object doc). The
    * rename is the commit point; a failed rename fails loudly rather
    * than leave staged data uncommitted.
    */
  def commit(f: FileSystem, path: String, text: String): Unit = read(f, path) match {
    case Some(committed) =>
      if (committed != text) throw new IllegalStateException(
        s"marker $path is already committed with different content: $committed " +
          s"(this run would commit $text) — the output holds another run's state")
    case None =>
      val dst = new Path(path)
      val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
      val out = f.create(tmp, true)
      try out.write(text.getBytes(UTF_8)) finally out.close()
      require(f.rename(tmp, dst), s"commit rename failed: $tmp -> $dst")
  }

  /** Replaces the directory `live` with the committed directory `staged`.
    * A crash between the delete and the rename leaves `staged` intact
    * and `live` absent, so the caller's resume re-runs the swap.
    */
  def swap(f: FileSystem, staged: String, live: String): Unit = {
    f.delete(new Path(live), true)
    require(f.rename(new Path(staged), new Path(live)), s"swap rename failed: $staged -> $live")
  }

  // ------------------------------------------------------------- codec

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  private def node(v: Any): JsonNode = v match {
    case s: Seq[_] =>
      val a = mapper.createArrayNode()
      s.foreach(x => a.add(node(x)))
      a
    case x => mapper.valueToTree[JsonNode](x)
  }

  /** A marker's JSON text: compact, fields in the order given. Values
    * are Int, Long, Boolean, String, or a Seq of those.
    */
  def json(fields: (String, Any)*): String = {
    val o = mapper.createObjectNode()
    for ((k, v) <- fields) o.set[JsonNode](k, node(v))
    mapper.writeValueAsString(o)
  }

  /** A committed marker's fields. Every getter fails loudly, naming the
    * marker, when the field is missing or holds another type.
    */
  final class Fields(val path: String, o: JsonNode) {
    def has(k: String): Boolean = o.has(k)

    private def get(k: String, kind: String)(ok: JsonNode => Boolean): JsonNode = {
      val v = o.get(k)
      if (v == null || !ok(v)) throw new IllegalStateException(
        s"marker $path has no $kind field '$k': $o")
      v
    }

    private def isInt(v: JsonNode) = v.isIntegralNumber && v.canConvertToInt

    def int(k: String): Int = get(k, "int")(isInt).asInt()
    def long(k: String): Long = get(k, "long")(v => v.isIntegralNumber && v.canConvertToLong).asLong()
    def bool(k: String): Boolean = get(k, "boolean")(_.isBoolean).asBoolean()
    def str(k: String): String = get(k, "string")(_.isTextual).asText()
    def ints(k: String): Seq[Int] =
      get(k, "int array")(v => v.isArray && v.elements().asScala.forall(isInt))
        .elements().asScala.map(_.asInt()).toSeq
    def strs(k: String): Seq[String] =
      get(k, "string array")(v => v.isArray && v.elements().asScala.forall(_.isTextual))
        .elements().asScala.map(_.asText()).toSeq
  }

  /** Decodes marker text read from `path`; malformed or truncated JSON
    * fails loudly, naming the marker.
    */
  def decode(path: String, text: String): Fields = {
    val o =
      try mapper.readTree(text)
      catch { case e: JsonProcessingException =>
        throw new IllegalStateException(s"marker $path is not valid JSON: $text", e)
      }
    if (o == null || !o.isObject)
      throw new IllegalStateException(s"marker $path is not a JSON object: $text")
    new Fields(path, o)
  }

  /** The committed marker at `path`, decoded; None when absent. */
  def readFields(f: FileSystem, path: String): Option[Fields] =
    read(f, path).map(decode(path, _))
}
