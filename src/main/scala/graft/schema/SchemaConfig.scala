package graft.schema

import org.apache.spark.sql.types._

/** One canonical output column of the tracking wire-schema.
  *
  * Mirrors the reference's per-column YAML entries
  * (`/root/reference/configs/schema.yaml:5-67`, `src/ingest.py:26-44`):
  * ordered alias candidates, a target dtype, an optional literal default
  * used when no source column matches, and an allow-null flag that turns a
  * missing column into a typed null literal. A column with neither default
  * nor allowNull is required: when absent it is dropped with a warning
  * (`src/ingest.py:40-42`), never a failure.
  *
  * @param default kept as the raw literal text; it is applied as
  *                `lit(text).cast(dtype)` so "0.0" → 0.0f etc.
  */
final case class ColumnSpec(
    name: String,
    dtype: DataType,
    aliases: Seq[String] = Nil,
    default: Option[String] = None,
    allowNull: Boolean = false) {

  /** Source-name candidates in priority order; the canonical name itself is
    * always a candidate (first, unless the alias list already repositions it).
    */
  def candidates: Seq[String] = (name +: aliases).distinct
}

final case class SchemaConfig(columns: Seq[ColumnSpec])

object SchemaConfig {

  /** Reference dtype-name → Spark type (SURVEY.md §1.3). Polars-style names
    * appear in the reference configs; unsigned types widen one step since
    * Spark has no unsigned integers.
    */
  val dtypeByName: Map[String, DataType] = Map(
    "Int8" -> ByteType,
    "Int16" -> ShortType,
    "Int32" -> IntegerType,
    "Int64" -> LongType,
    "UInt8" -> ShortType,
    "UInt16" -> IntegerType,
    "UInt32" -> LongType,
    "UInt64" -> LongType,
    "Float32" -> FloatType,
    "Float64" -> DoubleType,
    "Boolean" -> BooleanType,
    "String" -> StringType,
    "Utf8" -> StringType,
    // logical string; dictionary encoding is a parquet-physical concern
    "Categorical" -> StringType)

  /** Parse the reference's flat two-level YAML column-spec shape:
    *
    * {{{
    * defaults:
    *   strict_columns: false
    * columns:
    *   - name: gameId
    *     dtype: Int64
    *     aliases: [game_id, GameKey]
    *     default: 0
    *     allow_null: true
    * }}}
    *
    * Purpose-built (offline build: no YAML dependency). Supports inline
    * `[a, b]` lists, multi-line `- item` lists, quoted scalars, comments.
    */
  def parseYaml(text: String): SchemaConfig = {
    val lines = text.linesIterator
      .map(stripComment)
      .filter(_.trim.nonEmpty)
      .toVector

    var i = 0
    // skip to the `columns:` block
    while (i < lines.length && lines(i).trim != "columns:") i += 1
    require(i < lines.length, "schema config has no `columns:` block")
    i += 1

    val specs = Vector.newBuilder[ColumnSpec]
    var cur: Map[String, Either[String, Seq[String]]] = null

    def flush(): Unit = if (cur != null) {
      specs += specFrom(cur)
      cur = null
    }

    while (i < lines.length && indent(lines(i)) > 0) {
      val line = lines(i).trim
      if (line.startsWith("- ") && line.contains(":")) { // new column item
        flush()
        cur = Map.empty
        val (k, v) = kv(line.drop(2))
        cur += k -> parseValue(v)
      } else if (line.startsWith("- ")) { // bare list item of previous key
        sys.error(s"unexpected bare list item outside a key: $line")
      } else {
        val (k, v) = kv(line)
        if (v.isEmpty) {
          // multi-line list: consume following deeper `- item` lines
          val items = Vector.newBuilder[String]
          var j = i + 1
          while (j < lines.length && lines(j).trim.startsWith("- ") &&
              !lines(j).trim.contains(":")) {
            items += unquote(lines(j).trim.drop(2).trim)
            j += 1
          }
          cur += k -> Right(items.result())
          i = j - 1
        } else {
          cur += k -> parseValue(v)
        }
      }
      i += 1
    }
    flush()
    SchemaConfig(specs.result())
  }

  /** Parse the 2026-style flat mapping shape
    * (`/root/reference/data/nfl-bdb/2026/schema.yaml:5-28`):
    *
    * {{{
    * input_schema:
    *   game_id:   Int64
    *   play_id:   Int32   # comment
    * }}}
    *
    * One section (`input_schema` / `output_schema` / `submission_schema`)
    * compiles to a SchemaConfig with no aliases (names are already
    * canonical snake_case in that vintage).
    */
  def parseFlatSchema(text: String, section: String): SchemaConfig = {
    val lines = text.linesIterator
      .map(stripComment)
      .filter(_.trim.nonEmpty)
      .toVector
    var i = 0
    while (i < lines.length && lines(i).trim != s"$section:") i += 1
    require(i < lines.length, s"no `$section:` block in schema config")
    i += 1
    val specs = Vector.newBuilder[ColumnSpec]
    while (i < lines.length && indent(lines(i)) > 0) {
      val (name, dtypeName) = kv(lines(i).trim)
      val dtype = dtypeByName.getOrElse(dtypeName,
        sys.error(s"unknown dtype $dtypeName for $name"))
      specs += ColumnSpec(name, dtype, Nil, None, allowNull = true)
      i += 1
    }
    SchemaConfig(specs.result())
  }

  private def specFrom(
      m: Map[String, Either[String, Seq[String]]]): ColumnSpec = {
    def scalar(k: String): Option[String] = m.get(k).map {
      case Left(s) => s
      case Right(_) => sys.error(s"$k: expected scalar")
    }
    val name = scalar("name").getOrElse(sys.error("column without name"))
    val dtypeName = scalar("dtype").getOrElse("String")
    val dtype = dtypeByName.getOrElse(
      dtypeName, sys.error(s"unknown dtype $dtypeName for $name"))
    val aliases = m.get("aliases").map {
      case Right(xs) => xs
      case Left(s) => Seq(s)
    }.getOrElse(Nil)
    val default = scalar("default")
    val allowNull = scalar("allow_null").exists(s =>
      s.equalsIgnoreCase("true") || s == "1" || s.equalsIgnoreCase("yes"))
    ColumnSpec(name, dtype, aliases, default, allowNull)
  }

  private def stripComment(l: String): String = {
    val idx = l.indexOf('#')
    if (idx >= 0 && !l.take(idx).count(_ == '"').isOdd) l.take(idx) else l
  }
  private implicit class IntOps(private val i: Int) extends AnyVal {
    def isOdd: Boolean = (i & 1) == 1
  }
  private def indent(l: String): Int = l.takeWhile(_ == ' ').length
  private def kv(s: String): (String, String) = {
    val idx = s.indexOf(':')
    require(idx > 0, s"expected key: value in `$s`")
    (s.take(idx).trim, s.drop(idx + 1).trim)
  }
  private def parseValue(v: String): Either[String, Seq[String]] =
    if (v.startsWith("[") && v.endsWith("]"))
      Right(v.drop(1).dropRight(1).split(",").map(x => unquote(x.trim))
        .filter(_.nonEmpty).toSeq)
    else Left(unquote(v))
  private def unquote(s: String): String =
    if (s.length >= 2 &&
        ((s.head == '"' && s.last == '"') || (s.head == '\'' && s.last == '\'')))
      s.substring(1, s.length - 1)
    else s
}
