package graft.cli

import org.apache.spark.sql.Row

/** Driver-side table renderer, byte-identical to `Dataset.show(n, truncate =
  * false)` for rows already in hand: the CLI prints footer values and
  * collected results with it instead of running the plan a second time.
  *
  * Cells render as `ToPrettyString` does for the atomic values the CLI prints
  * (strings, integers, booleans): `NULL` for null, `toString` otherwise.
  */
object Show {

  // Spark's `Utils.stringHalfWidth`: these ranges occupy two terminal columns
  private val fullWidth =
    ("[\u1100-\u115F\u2E80-\uA4CF\uAC00-\uD7A3\uF900-\uFAFF\uFE10-\uFE19\uFE30-\uFE6F" +
      "\uFF00-\uFF60\uFFE0-\uFFE6]").r

  private def halfWidth(s: String): Int = s.length + fullWidth.findAllIn(s).size

  // Spark's `SchemaUtils.escapeMetaCharacters`
  private val meta = Seq("\n" -> "\\n", "\r" -> "\\r", "\t" -> "\\t", "\f" -> "\\f",
    "\b" -> "\\b", "\u000B" -> "\\v", "\u0007" -> "\\a")

  private def escape(s: String): String = meta.foldLeft(s) { case (acc, (c, e)) => acc.replace(c, e) }

  /** `showString(numRows, truncate = 0)`: `show` prints this with `println`,
    * so the output ends in a blank line unless the `only showing` footer ends it.
    */
  def table(header: collection.Seq[String], rows: collection.Seq[Row], numRows: Int = 20): String = {
    val cells = (header.toSeq +: rows.take(numRows).toSeq.map(_.toSeq.map {
      case null => "NULL"
      case v => v.toString
    })).map(_.map(escape))
    val widths = header.indices.map(i => cells.map(r => halfWidth(r(i))).foldLeft(3)(math.max))
    def line(r: Seq[String]): String = r.zip(widths).map { case (c, w) =>
      c + " " * (w - halfWidth(c))
    }.mkString("|", "|", "|\n")
    val sep = widths.map("-" * _).mkString("+", "+", "+\n")
    val more =
      if (rows.length > numRows) s"only showing top $numRows ${if (numRows == 1) "row" else "rows"}"
      else ""
    sep + line(cells.head) + sep + cells.tail.map(line).mkString + sep + more
  }
}
