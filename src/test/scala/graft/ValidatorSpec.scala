package graft

import graft.catalog.{ColumnSpec, DatasetSpec, ValidationRules}
import graft.validate.Validator

/** ValidationReport semantics vs the reference's `_validate_schema`
  * (parser.py:77-115): required presence, range warning counts,
  * duplicate rows under unique keys (pandas keep=False counting).
  */
class ValidatorSpec extends SparkSpecBase {
  import spark.implicits._

  private val spec = DatasetSpec(
    key = "t", datasetId = "t", tableName = "t", sourceType = "socrata",
    columns = Seq(
      ColumnSpec("k", "VARCHAR(5)", required = true),
      ColumnSpec("pct", "FLOAT", min = Some(0), max = Some(100)),
      ColumnSpec("absent_required", "INTEGER", required = true)),
    validation = ValidationRules(allowDuplicates = false, uniqueKeys = Seq("k")))

  test("reports missing required columns, range counts, and duplicate rows") {
    val df = Seq(
      ("a", -5.0), ("a", 50.0), ("b", 101.0), ("c", 200.0), ("d", 30.0)
    ).toDF("k", "pct")
    val (r, sites) = SqlExecutions.callSites(spark)(Validator.validate(df, spec))
    assert(sites.size == 1, "ranges and duplicates come from one SQL execution")
    assert(r.rowCount == 5)
    assert(r.missingRequired == Seq("absent_required"))
    val v = r.rangeViolations.head
    assert(v.column == "pct" && v.belowMin == 1 && v.aboveMax == 2)
    // pandas duplicated(keep=False).sum(): both 'a' rows count
    assert(r.duplicateKeyRows == 2)
    assert(!r.ok)
  }

  test("clean frame passes") {
    val df = Seq(("a", 10.0), ("b", 20.0)).toDF("k", "pct")
    val clean = spec.copy(columns = spec.columns.filterNot(_.name == "absent_required"))
    val r = Validator.validate(df, clean)
    assert(r.rowCount == 2 && r.ok && r.rangeViolations.isEmpty)
  }

  test("allow_duplicates=true skips the duplicate check (models.py:25-28)") {
    val df = Seq(("a", 1.0), ("a", 2.0)).toDF("k", "pct")
    val lax = spec.copy(
      columns = spec.columns.filterNot(_.name == "absent_required"),
      validation = ValidationRules(allowDuplicates = true, uniqueKeys = Seq("k")))
    assert(Validator.validate(df, lax).duplicateKeyRows == 0)
  }

  test("range rules ignore NULLs (SQL three-valued comparison)") {
    val df = Seq(("a", Some(50.0)), ("b", None), ("c", Some(-1.0)))
      .toDF("k", "pct")
    val clean = spec.copy(columns = spec.columns.filterNot(_.name == "absent_required"))
    val r = Validator.validate(df, clean)
    assert(r.rangeViolations.head.belowMin == 1)
    assert(r.rangeViolations.head.aboveMax == 0)
  }

  private val clean = spec.copy(columns = spec.columns.filterNot(_.name == "absent_required"))

  test("empty frame: zero rows, no violations, no duplicates (with and without the key check)") {
    val empty = Seq.empty[(String, Double)].toDF("k", "pct")
    val lax = clean.copy(validation = ValidationRules(allowDuplicates = true, uniqueKeys = Seq("k")))
    Seq(clean, lax).foreach { s =>
      val r = Validator.validate(empty, s)
      assert(r.rowCount == 0 && r.rangeViolations.isEmpty && r.duplicateKeyRows == 0)
      assert(r.ok)
    }
  }

  test("NULL keys count as one duplicate group") {
    val df = Seq[(Option[String], Double)](
      (None, 1.0), (None, 2.0), (Some("a"), 3.0)).toDF("k", "pct")
    val r = Validator.validate(df, clean)
    assert(r.rowCount == 3)
    assert(r.duplicateKeyRows == 2)
  }
}
