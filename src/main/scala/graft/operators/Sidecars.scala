package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._

/** The JSON codec of every store sidecar (`_store.json`,
  * `_partition.json`, `_bucket.json`, `_constraints.json`,
  * `_clones.json`, `_op.json`, `_history.json`, `_schema.json`).
  *
  * Writers compose the text with [[obj]] / [[arr]] / [[str]], so the
  * byte layout stays the one these files have always had (`": "` and
  * `", "` separators, one line); string values are quoted by json4s.
  * Readers parse with json4s. Older writers escaped only `\` and `"`,
  * so a constraint expression may hold a raw newline inside its
  * string: the parser accepts unescaped control characters. */
private[graft] object Sidecars {

  private lazy val mapper = org.json4s.jackson.JsonMethods.mapper.copy().enable(
    com.fasterxml.jackson.core.json.JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS
      .mappedFeature())

  /** A JSON string literal. */
  def str(s: String): String = org.json4s.jackson.JsonMethods.compact(JString(s))

  /** `{"k": v, ...}` over already-encoded values. */
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  /** `[a, b, ...]` over already-encoded values. */
  def arr(items: Iterable[String]): String = items.mkString("[", ", ", "]")

  def parse(txt: String): JValue = mapper.readValue(txt, classOf[JValue])

  private def text(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString) finally in.close()
    }

  /** The parsed sidecar at `p`; None when absent. */
  def read(fs: FileSystem, p: Path): Option[JValue] = text(fs, p).map(parse)

  def write(fs: FileSystem, p: Path, body: String): Unit = {
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  def string(j: JValue): Option[String] = j match {
    case JString(s) => Some(s)
    case _ => None
  }

  def long(j: JValue): Option[Long] = j match {
    case JInt(n) => Some(n.toLong)
    case JLong(n) => Some(n)
    case _ => None
  }

  def strings(j: JValue): Seq[String] = j match {
    case JArray(xs) => xs.flatMap(string)
    case _ => Nil
  }

  def longs(j: JValue): Map[String, Long] = j match {
    case JObject(kvs) => kvs.flatMap { case (k, v) => long(v).map(k -> _) }.toMap
    case _ => Map.empty
  }

  /** `{"a": 1, "b": 2}` with sorted keys — an operation-metrics map. */
  def longsJson(m: Map[String, Long]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }: _*)

  private def schemaPath(dir: Path) = new Path(dir, "_schema.json")

  /** The evolved read schema a version directory records, if any. */
  def readSchema(fs: FileSystem, dir: Path): Option[org.apache.spark.sql.types.StructType] =
    text(fs, schemaPath(dir)).map(t => org.apache.spark.sql.types.DataType.fromJson(t)
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  def writeSchema(fs: FileSystem, dir: Path, sc: org.apache.spark.sql.types.StructType): Unit =
    write(fs, schemaPath(dir), sc.json)
}
