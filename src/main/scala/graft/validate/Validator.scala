package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.catalog.DatasetSpec

/** Range-rule violation counts for one column. */
final case class RangeViolation(column: String, belowMin: Long, aboveMax: Long)

/** Post-transform validation result — the engine mirror of the
  * reference's `_validate_schema` (src/ingestion/parser.py:77-115):
  * required-column presence, min/max range WARNING counts (violations
  * don't fail the pipeline, matching reference behavior), and
  * duplicate detection on the declared unique keys.
  */
final case class ValidationReport(
    rowCount: Long,
    missingRequired: Seq[String],
    rangeViolations: Seq[RangeViolation],
    duplicateKeyRows: Long) {
  def ok: Boolean = missingRequired.isEmpty && duplicateKeyRows == 0
}

object Validator {

  /** Validate a frame against its DatasetSpec.
    *
    * Scale shape: required-column presence is schema-only (no job);
    * row count, every range rule and the duplicate check run in ONE
    * query regardless of how many rules the spec declares. Without a
    * duplicate check that is a single global aggregation of map-side
    * combinable conditional sums. With one, the same sums are taken per
    * unique-key group alongside the group size, and a global fold adds
    * them up, counting the rows of groups larger than one. Sums over no
    * rows read 0, so an empty frame reports no violations.
    */
  def validate(df: DataFrame, spec: DatasetSpec): ValidationReport = {
    val present = df.columns.toSet
    val missing = spec.requiredColumns.filterNot(present.contains)

    val ranged = spec.columns.filter(c =>
      present.contains(c.name) && (c.min.isDefined || c.max.isDefined))
    def total(e: Column): Column = coalesce(sum(e), lit(0L))
    // two sums per rule: rows below min, rows above max
    val ruleSums = ranged.flatMap { c =>
      Seq(c.min.map(m => col(c.name) < m), c.max.map(m => col(c.name) > m))
        .map(cond => total(when(cond.getOrElse(lit(false)), 1).otherwise(0)))
    }
    val keys = spec.validation.uniqueKeys
    val checkDups = !spec.validation.allowDuplicates && keys.nonEmpty &&
      keys.forall(present.contains)
    val (input, aggs) =
      if (!checkDups) (df, count(lit(1)) +: ruleSums :+ lit(0L))
      else {
        // rows participating in any duplicate group (pandas
        // duplicated(keep=False).sum() semantics, parser.py:107-113;
        // NULL keys form one group)
        val partial = count(lit(1)).as("__c") +:
          ruleSums.zipWithIndex.map { case (s, i) => s.as(s"__r$i") }
        (df.groupBy(keys.map(col).toIndexedSeq: _*).agg(partial.head, partial.tail: _*),
          total(col("__c")) +: ruleSums.indices.map(i => total(col(s"__r$i"))) :+
            total(when(col("__c") > 1, col("__c"))))
      }
    val row = input.agg(aggs.head, aggs.tail: _*).head()
    val violations = ranged.zipWithIndex.map { case (c, i) =>
      RangeViolation(c.name, row.getLong(1 + i * 2), row.getLong(2 + i * 2))
    }.filter(v => v.belowMin > 0 || v.aboveMax > 0)

    ValidationReport(row.getLong(0), missing, violations, row.getLong(aggs.size - 1))
  }
}
