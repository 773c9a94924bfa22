package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{ExplainMode, ExtendedMode, FormattedMode, SimpleMode}

/** Histogram output renderers — the S7 sinks of the reference
  * (`queries/Histograms.toChartJsJson/toJson/toCsv/twoLeveltoCsv`,
  * `Histograms.java:52-183`): Chart.js JSON, plain JSON, CSV (1-level,
  * 2-level, multi-column). Driver-side formatting over a collected result —
  * deliberately NOT distributed: render happens after aggregation, on
  * histogram-sized data.
  */
object Renderers {

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def cell(v: Any): String = v match {
    case null => ""
    case s: String => s
    case other => other.toString
  }

  private def jsonValue(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case b: Boolean => b.toString
    case n => n.toString
  }

  /** The explain modes both front doors accept (`Cli explain` and
    * `/query?explain=`): `formatted` (alias `true`), `extended`, `simple`. */
  def explainMode(mode: String): ExplainMode = mode match {
    case "formatted" | "true" => FormattedMode
    case "extended" => ExtendedMode
    case "simple" => SimpleMode
    case other => throw new IllegalArgumentException(
      s"explain must be formatted|extended|simple, got $other")
  }

  /** 1-level histogram (key, value) → `{"key": value, …}`. */
  def toJson(h: DataFrame): String = {
    val rows = h.collect()
    rows.map(r => "\"" + esc(cell(r.get(0))) + "\": " + jsonValue(r.get(1)))
      .mkString("{", ", ", "}")
  }

  /** CSV with one line per row; columns in DataFrame order.
    *
    * Reference quirk (`Histograms.java:101-128`): when the histogram value
    * is a `find` over `accessTime`/`modTime`, CSV renders the epoch-ms as a
    * `java.util.Date` string unless `rawTimestamps` — pass the value column
    * names in `dateColumns` to reproduce. */
  def toCsv(h: DataFrame, dateColumns: Set[String] = Set.empty,
            rawTimestamps: Boolean = false): String = {
    val cols = h.columns
    val dateIdx: Set[Int] =
      if (rawTimestamps) Set.empty
      else cols.zipWithIndex.collect { case (c, i) if dateColumns(c) => i }.toSet
    val header = cols.mkString(",")
    val lines = h.collect().map(csvRow(_, dateIdx))
    (header +: lines).mkString("\n")
  }

  /** One CSV line with per-cell quoting/escaping — shared by the
    * collected renderer, the CLI, and the streaming `/query` endpoint
    * (a raw `Row.mkString(",")` corrupts any cell containing a comma,
    * quote or newline — doc text and path columns do). */
  def csvRow(row: org.apache.spark.sql.Row,
             dateIdx: Set[Int] = Set.empty): String =
    row.toSeq.zipWithIndex.map { case (v, i) =>
      val c = v match {
        case ms: Long if dateIdx(i) => new java.util.Date(ms).toString
        case other => cell(other)
      }
      if (c.contains(",") || c.contains("\"") || c.contains("\n"))
        "\"" + c.replace("\"", "\"\"") + "\"" else c
    }.mkString(",")

  /** 2-level histogram (key1, key2, value) → nested JSON map. */
  def twoLevelToJson(h: DataFrame): String = {
    val rows = h.collect()
    val grouped = rows.groupBy(r => cell(r.get(0)))
    grouped.toSeq.sortBy(_._1).map { case (k1, rs) =>
      val inner = rs.sortBy(r => cell(r.get(1)))
        .map(r => "\"" + esc(cell(r.get(1))) + "\": " + jsonValue(r.get(2)))
        .mkString("{", ", ", "}")
      "\"" + esc(k1) + "\": " + inner
    }.mkString("{", ", ", "}")
  }

  /** Chart.js payload (`Histograms.toChartJsJson`): labels + one dataset,
    * with axis titles like the reference's `Helper.toYAxis/toTitle`. */
  def toChartJsJson(h: DataFrame, title: String, yAxisLabel: String): String = {
    val rows = h.collect()
    val labels = rows.map(r => "\"" + esc(cell(r.get(0))) + "\"").mkString("[", ", ", "]")
    val data = rows.map(r => jsonValue(r.get(1))).mkString("[", ", ", "]")
    s"""{"title": "${esc(title)}", "yAxisLabel": "${esc(yAxisLabel)}", """ +
      s""""labels": $labels, "datasets": [{"data": $data}]}"""
  }
}
