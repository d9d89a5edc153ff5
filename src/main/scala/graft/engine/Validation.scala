package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's operational validation surface (SURVEY.md §5): schema
  * set/dtype comparison before writes, field-level invariants, and
  * row-count reconciliation — recast as pure functions the pipelines call
  * before mutating a table.
  */
object Validation {

  /** Schema compare by column-name sets + per-column dtype diff (the
    * append_* notebooks' pre-write check). Empty result = compatible. */
  def schemaDiff(expected: StructType, actual: StructType): Seq[String] = {
    val e = expected.fields.map(f => f.name -> f.dataType).toMap
    val a = actual.fields.map(f => f.name -> f.dataType).toMap
    val missing = (e.keySet -- a.keySet).toSeq.sorted.map(c => s"missing column: $c")
    val extra = (a.keySet -- e.keySet).toSeq.sorted.map(c => s"unexpected column: $c")
    val mismatched = (e.keySet & a.keySet).toSeq.sorted.collect {
      case c if e(c) != a(c) => s"dtype mismatch $c: expected ${e(c)}, got ${a(c)}"
    }
    missing ++ extra ++ mismatched
  }

  /** Schema-registry-style compatibility check between an old and a new
    * version of a table schema (the contract an evolving producer must
    * hold so existing consumers keep working):
    *
    *  - `"backward"` — consumers on the NEW schema can read OLD data:
    *    columns may be added only if nullable (old files null-fill them,
    *    exactly [[Warehouse.appendEvolved]]'s read contract); dropping a
    *    column is fine (new readers don't ask for it); type changes
    *    violate.
    *  - `"forward"` — consumers on the OLD schema can read NEW data:
    *    additions are fine (old readers ignore them); dropping a column
    *    old readers still select violates; type changes violate.
    *  - `"full"` — both.
    *
    * Returns violation messages; empty = compatible under the mode.
    * Nullability is checked per direction: tightening (nullable →
    * required) violates BACKWARD (old data may hold nulls the new
    * reader forbids); relaxing (required → nullable) violates FORWARD
    * (new data may hold nulls an old consumer assumes absent) — the
    * standard registry asymmetry. */
  def schemaCompatViolations(oldSchema: StructType, newSchema: StructType,
                             mode: String): Seq[String] = {
    val o = oldSchema.fields.map(f => f.name -> f).toMap
    val n = newSchema.fields.map(f => f.name -> f).toMap
    val added = (n.keySet -- o.keySet).toSeq.sorted
    val removed = (o.keySet -- n.keySet).toSeq.sorted
    val typeChanged = (o.keySet & n.keySet).toSeq.sorted.filterNot(c =>
      org.apache.spark.sql.types.DataType.equalsStructurally(
        o(c).dataType, n(c).dataType, ignoreNullability = true))
      .map(c => s"type change $c: ${o(c).dataType.simpleString} -> " +
        s"${n(c).dataType.simpleString}")
    val tightened = (o.keySet & n.keySet).toSeq.sorted
      .filter(c => o(c).nullable && !n(c).nullable)
      .map(c => s"nullability tightened $c: old data may hold nulls")
    val relaxed = (o.keySet & n.keySet).toSeq.sorted
      .filter(c => !o(c).nullable && n(c).nullable)
      .map(c => s"nullability relaxed $c: new data may hold nulls old " +
        "consumers assume absent")
    val backward =
      added.filterNot(n(_).nullable)
        .map(c => s"added required column $c: unreadable against old data") ++
        tightened
    val forward =
      removed.map(c => s"removed column $c: old consumers still select it") ++
        relaxed
    mode match {
      case "backward" => typeChanged ++ backward
      case "forward" => typeChanged ++ forward
      case "full" => typeChanged ++ backward ++ forward
      case other => throw new IllegalArgumentException(
        s"unknown compatibility mode '$other' (backward|forward|full)")
    }
  }

  /** Field-invariant: rows violating a regex format (e.g. transect_point
    * `^[NSEW]\d{1,2}$`, src/point_intercepts_update.py:230). Empty = valid. */
  def regexViolations(df: DataFrame, column: String, pattern: String): DataFrame =
    df.filter(!col(column).rlike(pattern) || col(column).isNull)

  /** A14: before + appended == after. */
  def reconcile(before: Long, appended: Long, after: Long): Boolean =
    before + appended == after

  /** §5.5: completion output must have exactly |dims| × |groups| rows and
    * zero nulls in the filled measure. */
  def completionInvariant(completed: DataFrame, nDims: Long, nGroups: Long,
                          measure: String): Boolean = {
    completed.count() == nDims * nGroups &&
      completed.filter(col(measure).isNull).isEmpty
  }

  /** Declarative table-constraint rules (the Deequ-shaped surface): each
    * rule names itself and reports its violation count. */
  sealed trait Rule { def name: String }
  /** Column must never be null. */
  final case class NotNull(column: String) extends Rule {
    def name = s"not_null($column)"
  }
  /** Column (when non-null) must lie in [lo, hi]. */
  final case class InRange(column: String, lo: Double, hi: Double) extends Rule {
    def name = s"in_range($column,$lo,$hi)"
  }
  /** Column (when non-null) must be one of the listed values. */
  final case class OneOf(column: String, values: Seq[String]) extends Rule {
    def name = s"one_of($column)"
  }
  /** Column (when non-null) must match the regex in full. */
  final case class Matches(column: String, pattern: String) extends Rule {
    def name = s"matches($column)"
  }
  /** The column tuple must be unique across the table (violations = rows
    * beyond the first per duplicated tuple; null-containing tuples
    * group like values, SQL GROUP BY semantics). */
  final case class Unique(columns: Seq[String]) extends Rule {
    def name = s"unique(${columns.mkString("+")})"
  }
  /** Every non-null value must exist in `dim`'s `dimColumn` (referential
    * integrity; violations = orphan rows). */
  final case class RefIntegrity(column: String, dim: DataFrame,
                                dimColumn: String) extends Rule {
    def name = s"ref($column)"
  }

  /** Evaluate a declarative rule set against a table — the Deequ-lite
    * data-quality gate a pipeline runs before publishing. Output: one row
    * per rule, `(rule, violations, n_rows, pass)`, deterministic order.
    *
    * Scale shape: every ROW-LOCAL rule (not-null/range/set/regex) folds
    * into ONE shared aggregate scan — conditional counts, map-side
    * partial-aggregated, zero shuffle beyond the final 1-row combine.
    * Each `Unique` adds one groupBy on its key tuple (count>1 mass);
    * each `RefIntegrity` one anti-join against the dimension (broadcast
    * when small, the JoinPolicy contract). Rules never fail the job —
    * they REPORT, and the caller decides (gate, quarantine, alert). */
  /** (rule name, per-row violation predicate) for every ROW-LOCAL rule —
    * rules a single row can violate on its own. Unique/RefIntegrity need
    * cross-row context and are deliberately absent. Shared by
    * [[checkConstraints]] (conditional counts) and
    * [[streamingQuarantine]] (per-row routing). */
  private def rowLocalPredicates(rules: Seq[Rule])
      : Seq[(String, org.apache.spark.sql.Column)] = rules.collect {
    case NotNull(c) => (s"not_null($c)", col(c).isNull)
    case InRange(c, lo, hi) =>
      // try_cast, double-barreled: under ANSI a plain cast THROWS on a
      // non-numeric value mid-scan, and with ANSI off it would yield
      // null and the comparison would silently PASS the row — an
      // unparseable value is exactly what a range rule must flag
      (s"in_range($c,$lo,$hi)",
        col(c).isNotNull && (col(c).try_cast("double").isNull ||
          col(c).try_cast("double") < lo || col(c).try_cast("double") > hi))
    case OneOf(c, vs) =>
      (s"one_of($c)", col(c).isNotNull && !col(c).isInCollection(vs))
    case Matches(c, p) =>
      // anchored: the rule contract is "matches in full"; bare rlike is
      // substring search and would pass "junkAB1234junk" for [A-Z]{2}\d{4}
      (s"matches($c)", col(c).isNotNull && !col(c).rlike(s"^(?:$p)$$"))
  }

  def checkConstraints(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "checkConstraints needs at least one rule")
    val spark = df.sparkSession
    import spark.implicits._
    val rowLocal = rowLocalPredicates(rules)
    val base =
      if (rowLocal.isEmpty) df.agg(count(lit(1)).as("n_rows"))
      else df.agg(count(lit(1)).as("n_rows"),
        rowLocal.map { case (n, viol) =>
          sum(when(viol, 1L).otherwise(0L)).as(n)
        }: _*)
    val nRows = base.head()
    val total = nRows.getAs[Long]("n_rows")
    val localRows = rowLocal.map { case (n, _) =>
      (n, nRows.getAs[Long](n))
    }
    val uniqueRows = rules.collect { case u @ Unique(cols) =>
      val v = df.groupBy(cols.map(col): _*)
        .agg(count(lit(1)).as("__c"))
        .agg(coalesce(sum(when(col("__c") > 1, col("__c") - 1L)), lit(0L)))
        .head().getLong(0)
      (u.name, v)
    }
    val refRows = rules.collect { case r @ RefIntegrity(c, dim, dc) =>
      val v = df.filter(col(c).isNotNull)
        .join(JoinPolicy.broadcastIfSmall(
          dim.select(col(dc).as(c)).distinct()), Seq(c), "left_anti")
        .count()
      (r.name, v)
    }
    // preserve the caller's rule order (reports read like the rule list)
    val byName = (localRows ++ uniqueRows ++ refRows).toMap
    rules.map(r => (r.name, byName(r.name), total, byName(r.name) == 0L))
      .toDF("rule", "violations", "n_rows", "pass")
  }

  /** The rule names a row violates, as an array column (empty = clean).
    * Row-local rules only — see [[rowLocalPredicates]]. */
  def violatedRules(rules: Seq[Rule]): org.apache.spark.sql.Column = {
    val preds = rowLocalPredicates(rules)
    require(preds.nonEmpty, "violatedRules needs at least one row-local rule")
    filter(array(preds.map { case (n, v) => when(v, lit(n)) }: _*),
      x => x.isNotNull)
  }

  /** Streaming constraint gate with a dead-letter path: every micro-batch
    * splits per row on the ROW-LOCAL rules — clean rows land in `table`,
    * violating rows land in `quarantineTable` with a `_violated`
    * rule-name list and a `_batch_id` — quarantined, queryable,
    * re-ingestable after repair, never silently dropped (the Multimodal
    * poison contract applied at the table boundary). Cross-row rules
    * (Unique/RefIntegrity) cannot gate a row in isolation and are
    * rejected loudly rather than half-applied.
    *
    * Exactly-once on BOTH sinks: each lands through
    * [[Warehouse.appendStreamBatch]] — schema- and partition-aligned to
    * its table, staged and promoted — under the same batch id, so a
    * replayed batch re-promotes nothing on either side, and a crash
    * between the two promotes resumes idempotently (the completed side
    * no-ops, the other side lands whole). The split is evaluated once per batch
    * ([[Exec.materialize]]) — the two sinks never re-run the source.
    *
    * Scale: the gate is a map-side projection (same predicates the batch
    * report counts); per batch cost is the two writes. */
  def streamingQuarantine(wh: Warehouse, source: DataFrame, table: String,
                          quarantineTable: String, rules: Seq[Rule],
                          checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(rules.nonEmpty, "streamingQuarantine needs at least one rule")
    val rowLocalNames = rowLocalPredicates(rules).map(_._1).toSet
    val nonLocal = rules.filterNot(r => rowLocalNames.contains(r.name))
    require(nonLocal.isEmpty,
      s"streamingQuarantine: rules ${nonLocal.map(_.name)} need cross-row " +
        "context (Unique/RefIntegrity) — run them in checkConstraints on " +
        "the landed table instead")
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (bdf: DataFrame, id: Long) =>
        val tagged = Exec.materialize(
          bdf.withColumn("__viol", violatedRules(rules)))
        wh.appendStreamBatch(
          tagged.filter(size(col("__viol")) === 0).drop("__viol"),
          table, id)
        wh.appendStreamBatch(
          tagged.filter(size(col("__viol")) > 0)
            .withColumn("_violated", concat_ws(",", col("__viol")))
            .withColumn("_batch_id", lit(id))
            .drop("__viol"),
          quarantineTable, id)
      }
      .start()
  }
}
