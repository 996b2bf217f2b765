package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A1 — the six run counters, computed in ONE aggregation pass over the
  * annotated DataFrame (six separate .count() actions would re-scan the
  * input six times — VERDICT r1 flagged exactly that anti-pattern).
  *
  * Counter semantics (TripEtlPipelineService.cs:66-193,
  * TripImportStatisticsDto.cs:10-46; golden values README.md:44 —
  * SURVEY §7.4 H6):
  *   total      = every non-blank data row
  *   parsed     = rows passing parse (normalize failures do NOT un-count)
  *   invalid    = parse failures + normalize failures
  *   duplicates = valid rows losing first-wins dedup
  *   inserted   = valid, non-duplicate rows
  *   duplicatesFileRows = rows written to duplicates.csv (== duplicates)
  */
object Stats {

  final case class EtlStats(
      total: Long,
      parsed: Long,
      invalid: Long,
      duplicates: Long,
      inserted: Long,
      duplicatesFileRows: Long) {
    /** The one-line JSON the CLI mains print. */
    def toJson: String =
      s"""{"total":$total,"parsed":$parsed,"invalid":$invalid,""" +
        s""""duplicates":$duplicates,"inserted":$inserted,""" +
        s""""duplicatesFile":$duplicatesFileRows}"""
  }

  /** Row status derived from the annotation columns; usable as a column in
    * relational results too. */
  def statusCol: Column =
    when(col(ParseValidate.ParseErrorCol).isNotNull, "invalid_parse")
      .when(col(Normalize.NormErrorCol).isNotNull, "invalid_normalize")
      .when(col(Dedup.DupRankCol) > 1, "duplicate")
      .otherwise("inserted")

  private def cnt(c: Column): Column = count(when(c, 1))

  /** Single-pass aggregation to the six counters. */
  def compute(annotated: DataFrame): EtlStats = {
    val r = asDataFrame(annotated).head()
    EtlStats(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5))
  }

  /** The same six counters as a single-row DataFrame (for the driver's
    * relational correctness checks). `duplicates_file` repeats the
    * duplicates aggregate, which the planner computes once. */
  def asDataFrame(annotated: DataFrame): DataFrame = {
    val parseErr = col(ParseValidate.ParseErrorCol).isNotNull
    val normErr = col(Normalize.NormErrorCol).isNotNull
    val dup = !parseErr && !normErr && col(Dedup.DupRankCol) > 1
    val ins = !parseErr && !normErr && col(Dedup.DupRankCol) === 1
    annotated.agg(
      count(lit(1)).as("total"),
      cnt(!parseErr).as("parsed"),
      cnt(parseErr || normErr).as("invalid"),
      cnt(dup).as("duplicates"),
      cnt(ins).as("inserted"),
      cnt(dup).as("duplicates_file"))
  }
}
