package graft.validate

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One rule outcome: how many rows violate `rule` on `column_name` of
  * `table_name`. Schema-level rules (missing column, duplicate column,
  * wrong type, empty relation) report 0/1.
  */
case class RuleResult(table_name: String, rule: String, column_name: String,
                      violation_count: Long)

/** Per-table validation config — mirrors the reference's config dicts
  * (containers/validation/validate.py:31-47): expected column set, unique
  * key, required (non-null) columns, plus the business rules
  * (validate.py:226-243): a status whitelist on one column, non-negativity
  * on numeric columns, integrality of a count column.
  */
case class TableRules(
    table: String,
    expectedColumns: Seq[String],
    uniqueKey: Seq[String],
    requiredColumns: Seq[String],
    statusColumn: Option[String] = None,
    validStatuses: Seq[String] = Nil,
    nonNegativeColumns: Seq[String] = Nil,
    integralColumns: Seq[String] = Nil)

/** Validation rule engine — SURVEY.md §2.7; reference validate.py:172-265
  * (header check 172-197, content check 199-247) re-expressed as Catalyst
  * aggregations.
  *
  * Scale design: the reference loads each whole file into driver memory
  * and checks it in one pass (validate.py:183,199-247). Here every counted
  * rule of a table folds into ONE scan of it:
  *
  *  - a keyed table is one `groupBy(uniqueKey)` (hash-partitioned with
  *    map-side combine — never a driver set) carrying the key's row count
  *    plus a partial count per content rule (null in a required column,
  *    status outside the whitelist, negative value — P3, P5, P6). Each
  *    partition of those per-key rows then sums the partials, counts the
  *    keys seen more than once (A7) and the rows, in place — no second
  *    exchange — leaving one small row per partition; emptiness (P7) is
  *    the summed row count being 0;
  *  - a table without a unique key, or whose key column is missing, is
  *    one global aggregate and reports no duplicate-key rule.
  *
  * Exists-style checks (A6) are the same counts consumed as `> 0`. Schema
  * rules (P8, P9) read `df.schema` only — no job at all. [[report]]
  * collects every table's per-partition rows in ONE action (a two-table
  * gate call is two shuffle jobs plus that one) and sums them on the
  * driver; it hands the rows back as a local relation, so [[passed]] and
  * every later read of the report run no Spark job. [[evaluate]] sums the
  * same rows with a lazy global aggregate instead.
  */
object Rules {

  // ---- rule names (stable identifiers in reports/oracles) ----
  val NullRequired = "null_required"       // P3  — validate.py:220-222
  val DuplicateKey = "duplicate_key"       // A7  — validate.py:223-224
  val InvalidStatus = "invalid_status"     // P5  — validate.py:226-230
  val NegativeValue = "negative_value"     // P6  — validate.py:231-238
  val EmptyRelation = "empty_relation"     // P7  — validate.py:214-216
  val NonIntegralType = "non_integral_type"// P8  — validate.py:241-243
  val MissingColumn = "missing_column"     // P9  — validate.py:188-190
  val DuplicateColumn = "duplicate_column" // P9  — validate.py:191-193

  /** P9 (driver-side, schema-only): expected − actual and duplicate names.
    * The reference tolerates *extra* columns (only `missing` is an error).
    */
  def headerResults(df: DataFrame, cfg: TableRules): Seq[RuleResult] = {
    val actual = df.columns.toSeq
    val missing = cfg.expectedColumns.filterNot(actual.contains)
    val dups = actual.groupBy(identity).collect { case (c, vs) if vs.size > 1 => c }
    missing.map(c => RuleResult(cfg.table, MissingColumn, c, 1L)) ++
      dups.map(c => RuleResult(cfg.table, DuplicateColumn, c, 1L)).toSeq
  }

  /** P8 (driver-side, schema-only): declared-integral columns must carry an
    * integral Spark type (reference checks pandas int dtype).
    */
  def typeResults(df: DataFrame, cfg: TableRules): Seq[RuleResult] =
    cfg.integralColumns.filter(df.columns.contains).map { c =>
      val ok = df.schema(c).dataType match {
        case _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
        case _ => false
      }
      RuleResult(cfg.table, NonIntegralType, c, if (ok) 0L else 1L)
    }

  /** The content rules as `(rule, column, row predicate)`, in report
    * order: null in a required column (P3), invalid status (P5), negative
    * value (P6). The gate counts them per table, [[groupReport]] per group.
    */
  private def contentRules(df: DataFrame, cfg: TableRules): Seq[(String, String, Column)] = {
    val present = (c: String) => df.columns.contains(c)
    cfg.requiredColumns.filter(present).map(c => (NullRequired, c, col(c).isNull)) ++
      cfg.statusColumn.filter(present).toSeq.map(c =>
        (InvalidStatus, c, col(c).isNotNull && !col(c).isin(cfg.validStatuses: _*))) ++
      cfg.nonNegativeColumns.filter(present).map(c => (NegativeValue, c, col(c) < lit(0)))
  }

  private def hits(pred: Column): Column = when(pred, 1L).otherwise(0L)

  // coalesce: sum() over an empty relation is NULL, which would make every
  // content rule on an empty table report violation_count = null and slip
  // past the `> 0` gate (VERDICT r02 #2). Empty input is EmptyRelation's
  // job to flag; the counting rules must report an honest 0.
  private def total(c: Column): Column = coalesce(sum(c), lit(0L))

  /** One table's counted rules: their `(rule, column)` names in report
    * order — content rules, empty relation, then (keyed tables only)
    * duplicate key — and `partials`, a frame of `v: array<long>` rows whose
    * element-wise sum is one count per rule, except that the empty
    * relation's slot sums to the table's row count (0 ⇒ the flag is 1).
    */
  private final case class Counted(rules: Seq[(String, String)], partials: DataFrame)

  private val PartialsEncoder = Encoders.row(StructType(Seq(
    StructField("v", ArrayType(LongType, containsNull = false), nullable = false))))

  private def counted(df: DataFrame, cfg: TableRules): Counted = {
    val content = contentRules(df, cfg)
    val names = content.map { case (rule, c, _) => (rule, c) } :+ (EmptyRelation, "*")
    if (cfg.uniqueKey.nonEmpty && cfg.uniqueKey.forall(df.columns.contains)) {
      val k = content.size
      // the one shuffle: per key, its row count and each rule's partial count
      val perKey = df.groupBy(cfg.uniqueKey.map(col): _*)
        .agg(count(lit(1)).as("__n"),
          content.zipWithIndex.map { case ((_, _, pred), i) => sum(hits(pred)).as(s"__p$i") }: _*)
        .select(col("__n") +: content.indices.map(i => col(s"__p$i")): _*)
      // each key lives in one partition, so summing per partition loses
      // nothing: [content partials..., rows, keys seen twice or more]
      val partials = perKey.mapPartitions { rows =>
        val acc = new Array[Long](k + 2)
        rows.foreach { r =>
          var i = 0
          while (i < k) { acc(i) += r.getLong(i + 1); i += 1 }
          acc(k) += r.getLong(0)
          if (r.getLong(0) > 1L) acc(k + 1) += 1L
        }
        Iterator(Row(acc.toSeq))
      }(PartialsEncoder)
      Counted(names :+ ((DuplicateKey, cfg.uniqueKey.mkString(","))), partials)
    } else
      Counted(names,
        df.select(array(content.map(r => total(hits(r._3))) :+ count(lit(1)): _*).as("v")))
  }

  /** A7 on its own: count of key values that occur more than once — one
    * groupBy on the key, then a 1-row count. The gate folds the same count
    * into its per-table aggregation.
    */
  def duplicateKeyCount(df: DataFrame, key: Seq[String]): DataFrame =
    df.groupBy(key.map(col): _*).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .agg(count(lit(1)).as("violation_count"))

  /** Full rule evaluation for one table, lazily: the counted rules of the
    * one-scan plan (see the object doc) summed by one global aggregate,
    * followed by the driver-side schema rules, as a DataFrame of
    * RuleResult rows.
    */
  def evaluate(spark: SparkSession, df: DataFrame, cfg: TableRules): DataFrame = {
    import spark.implicits._
    val Counted(rules, partials) = counted(df, cfg)
    val counts = rules.zipWithIndex.map { case ((rule, c), i) =>
      val n = total(col("v")(i))
      struct(lit(cfg.table).as("table_name"), lit(rule).as("rule"), lit(c).as("column_name"),
        (if (rule == EmptyRelation) when(n === 0L, 1L).otherwise(0L) else n)
          .as("violation_count"))
    }
    val schemaResults = (headerResults(df, cfg) ++ typeResults(df, cfg)).toDS().toDF()
    partials.select(array(counts: _*).as("r"))
      .select(explode(col("r")).as("r")).select("r.*")
      .unionByName(schemaResults)
  }

  /** Evaluate a batch of tables into one report — reference
    * validate.py:249-265 `validate_file` over every file of the trigger
    * group, assembled like validate.py:344-348. Every table's partial
    * counts come back in ONE collected action and are summed on the
    * driver; the rows are returned as a local relation in [[evaluate]]'s
    * per-table order, so reading the report again (or gating on it with
    * [[passed]]) runs no Spark job.
    */
  def report(spark: SparkSession, tables: Seq[(DataFrame, TableRules)]): DataFrame = {
    import spark.implicits._
    require(tables.nonEmpty, "a report needs at least one table")
    val counts = tables.map { case (df, cfg) => counted(df, cfg) }
    val partials = counts.zipWithIndex
      .map { case (c, i) => c.partials.select(lit(i).as("t"), col("v")) }
      .reduce(_ unionByName _)
      .as[(Int, Seq[Long])].collect()
    tables.zip(counts).zipWithIndex.flatMap { case (((df, cfg), Counted(rules, _)), t) =>
      val mine = partials.collect { case (`t`, v) => v }
      rules.zipWithIndex.map { case ((rule, c), i) =>
        val n = mine.map(_(i)).sum
        RuleResult(cfg.table, rule, c, if (rule == EmptyRelation) (if (n == 0L) 1L else 0L) else n)
      } ++ headerResults(df, cfg) ++ typeResults(df, cfg)
    }.toDF()
  }

  /** Per-group validation report — the reference's actual report shape
    * (validate.py:344-348: one `{order_id, status, issues}` entry per
    * order group). One hash aggregation keyed by the group column with
    * every content rule as a conditional count; `passed` mirrors the
    * reference's VALIDATION_PASSED/FAILED status.
    */
  def groupReport(df: DataFrame, cfg: TableRules, groupCol: String): DataFrame = {
    val all = contentRules(df, cfg).map(r => total(hits(r._3)))
    val violations = if (all.isEmpty) lit(0L) else all.reduce(_ + _)
    df.groupBy(col(groupCol))
      .agg(violations.as("violation_count"))
      .select(col(groupCol),
        col("violation_count"),
        when(col("violation_count") === 0, "VALIDATION_PASSED")
          .otherwise("VALIDATION_FAILED").as("status"))
  }

  /** Gate — reference stepfunction.json CheckValidationStatus semantics done
    * right (the reference's Choice state only checks the task ran,
    * stepfunction.json:81-91): pass iff no rule has violations. Over a
    * [[report]] (a local relation) the check folds into the local rows and
    * runs no Spark job; over a lazy [[evaluate]] frame it runs that plan.
    */
  def passed(reportDf: DataFrame): Boolean =
    reportDf.filter(col("violation_count") > 0).isEmpty
}
