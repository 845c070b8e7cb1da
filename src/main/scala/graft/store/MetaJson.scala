package graft.store

import java.nio.file.{Files, NoSuchFileException, Path, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** The store's metadata codec: [[TableStore]] `_meta.json` and
  * [[FeatureRegistry]] entries are small JSON documents, read and written on
  * the driver with the `jackson-databind` that ships with Spark — a metadata
  * operation never launches a Spark job.
  *
  *  - '''Reads are strict.''' A file that does not parse (a torn write),
  *    carries trailing bytes, or lacks a required field raises an error
  *    naming its path; it never decays to defaults (the Spark JSON reader's
  *    PERMISSIVE mode read a torn `_meta.json` as version 0).
  *  - '''Writes are atomic.''' A document is written to a hidden temp file
  *    in the target's directory and renamed over the target
  *    (`ATOMIC_MOVE`), so a reader sees the old document or the new one,
  *    never a prefix. A writer killed before the rename leaves a
  *    `.<name>.<uuid>.tmp` file that no reader looks at.
  */
private[store] object MetaJson {

  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

  /** Typed access to one document's fields. Optional fields read as their
    * default when absent or JSON null, as the earlier Spark-based reader
    * did; a present field of the wrong type is an error. */
  final class Fields private[MetaJson] (node: JsonNode) {
    private def field(name: String): Option[JsonNode] =
      Option(node.get(name)).filterNot(_.isNull)
    private def fail(name: String, want: String) =
      throw new IllegalArgumentException(s"field '$name' is not $want")

    def int(name: String): Int = field(name) match {
      case Some(n) if n.isInt => n.intValue
      case Some(_) => fail(name, "an int")
      case None => throw new IllegalArgumentException(s"missing field '$name'")
    }
    def intOr(name: String, default: Int): Int =
      if (field(name).isEmpty) default else int(name)
    def long(name: String): Long = field(name) match {
      case Some(n) if n.canConvertToLong && n.isIntegralNumber => n.longValue
      case Some(_) => fail(name, "a long")
      case None => throw new IllegalArgumentException(s"missing field '$name'")
    }
    def str(name: String): String = field(name) match {
      case Some(n) if n.isTextual => n.textValue
      case Some(_) => fail(name, "a string")
      case None => throw new IllegalArgumentException(s"missing field '$name'")
    }
    def strOr(name: String, default: String): String =
      if (field(name).isEmpty) default else str(name)
    def strings(name: String): Seq[String] = field(name).fold(Seq.empty[String]) { n =>
      if (!n.isArray || !n.elements.asScala.forall(_.isTextual)) fail(name, "a string array")
      n.elements.asScala.map(_.textValue).toSeq
    }
    /** A nested object; None when absent. */
    def objOpt(name: String): Option[Fields] = field(name).map { n =>
      if (!n.isObject) fail(name, "an object")
      new Fields(n)
    }
    def stringMap(name: String): Map[String, String] = field(name).fold(Map.empty[String, String]) { n =>
      if (!n.isObject || !n.elements.asScala.forall(_.isTextual)) fail(name, "a string map")
      n.properties.asScala.map(e => e.getKey -> e.getValue.textValue).toMap
    }
  }

  /** The document at `path` decoded by `decode`, or None when there is no
    * file. */
  def read[T](path: Path)(decode: Fields => T): Option[T] = {
    val bytes = try Files.readAllBytes(path) catch { case _: NoSuchFileException => null }
    Option(bytes).map { b =>
      try {
        val node = mapper.readTree(b)
        if (node == null || !node.isObject)
          throw new IllegalArgumentException("not a JSON object")
        decode(new Fields(node))
      } catch {
        case e: Exception =>
          throw new IllegalStateException(s"malformed metadata file $path: ${e.getMessage}", e)
      }
    }
  }

  def obj(): ObjectNode = mapper.createObjectNode()

  def putStrings(o: ObjectNode, name: String, xs: Seq[String]): ObjectNode = {
    val a = o.putArray(name)
    xs.foreach(x => a.add(x))
    o
  }

  def putStringMap(o: ObjectNode, name: String, kv: Map[String, String]): ObjectNode = {
    val m = o.putObject(name)
    kv.foreach { case (k, v) => m.put(k, v) }
    o
  }

  /** Atomically replace the file at `path` with `doc` (temp file in the
    * same directory + rename). */
  def publish(path: Path, doc: ObjectNode): Unit = {
    val dir = path.getParent
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".${path.getFileName}.${UUID.randomUUID()}.tmp")
    try {
      Files.write(tmp, mapper.writeValueAsBytes(doc), StandardOpenOption.CREATE_NEW)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }
}
