package graft.engine

import java.util.Locale

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, GraftPlanFactory, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{TypeCheckResult, UnresolvedFunction, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, CreateArray, DateFormatClass, ExplodeBase, Expression, GreaterThan, If, InheritAnalysisRules, IntegralDivide, Literal, RuntimeReplaceable, Sequence, UnaryExpression, UnixMillis}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DateType, IntegerType, LongType, NullType, ShortType, StringType, TimestampNTZType, TimestampType}

/** Schema-checked loaders for the driver-generated parquet tables.
  *
  * All loaders are plain `spark.read.parquet` scans so Catalyst keeps
  * full pushdown/pruning freedom — callers `.select`/`.filter` and the
  * parquet source sees `PushedFilters`/`ReadSchema` accordingly.
  *
  * INPUT INVARIANT: a warehouse directory is immutable for the life of
  * a session. Per-session state derived from its files — the scan-width
  * probe below, and the operators' shared frames (`Memo.shared`, keyed
  * by dir) — is computed once and never re-validated against the
  * files. To load a rewritten or grown dataset, write it to a new
  * directory or use a fresh session; rewriting files in place under a
  * live session yields decisions and results derived from the old
  * files.
  */
object Tables {
  /** Every loader's entry point; `dir` must obey the input invariant
    * in the object doc. */
  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The driver's single-file inputs hold ONE parquet row group, so the
    * scan is one unsplittable partition and every per-row kernel above
    * it (word_ngrams, winnowing, md5, LM scoring, vector math) runs on
    * one core while the rest idle. Spread the fact tables right after
    * the read (guide §2.5: "one huge unsplittable file … repartition
    * immediately after the read") — ADAPTIVELY: only when the scan is
    * narrower than the cluster, so a real multi-file corpus (scan
    * already wide) never pays a gratuitous full-corpus shuffle, and the
    * added exchange is a round-robin of the small single-file input.
    * Catalyst pushes filters/pruning through Repartition, so
    * PushedFilters/ReadSchema at the scan are unchanged (PlanReport
    * asserts this per query). */
  /** Scan partition count per (session, input file), computed once: the
    * `.rdd.getNumPartitions` probe triggers file listing + physical
    * planning, and the loaders run on every operator build — dozens of
    * times per query. By the input invariant (object doc) the width of
    * an input file never changes within a session, so cache the probe
    * (stopped sessions are evicted so the map cannot pin SparkContexts
    * across runs). */
  private val scanWidth =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Int]
  private def scanParts(spark: SparkSession, df: => DataFrame, key: String): Int = {
    scanWidth.keysIterator.foreach { k =>
      if (k._1.sparkContext.isStopped) scanWidth.remove(k)
    }
    scanWidth.getOrElseUpdate((spark, key), df.rdd.getNumPartitions)
  }

  private def spreadIfNarrow(spark: SparkSession, df: DataFrame, key: String): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    if (scanParts(spark, df, key) * 4 < target) df.repartition(target) else df
  }

  /** Partition count for SMALL derived frames (pair streams, CC label
    * generations, LM-scored frames): when the corpus input is a narrow
    * single-file scan, those frames are orders smaller still, and
    * persisting them at full shuffle width makes every downstream stage
    * pay a `cores`-task launch wave for KB-sized partitions (measured:
    * six 0.57 s 32-task stages per pair-stream consumer, ~15 ms/task of
    * pure scheduling). Derived from the INPUT's width, not a constant:
    * on a real multi-file corpus this returns None and the frames keep
    * full parallelism (guide §2: partitioning must be scale-adaptive). */
  def smallFrameParts(spark: SparkSession, dir: String): Option[Int] = {
    val target = spark.sparkContext.defaultParallelism
    if (scanParts(spark, load(spark, dir, "documents"), s"$dir/documents") * 4 < target)
      Some(math.max(2, target / 16))
    else None
  }

  def region(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "part")
  // lineitem/orders deliberately NOT spread: their operators are cheap
  // scan+aggregate pipelines where partial aggregation in the scan stage
  // beats paying a round-robin exchange first (measured: q01 0.26→0.66s,
  // q33 0.65→1.05s, q112 0.44→1.03s with the spread; reverted).
  def orders(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame =
    spreadIfNarrow(spark, load(spark, dir, "documents"), s"$dir/documents")
  // embeddings deliberately NOT spread: the table is tiny and its heavy
  // fan-out points already call Similarity.spread() explicitly — the
  // blanket loader repartition only added an exchange to every subplan
  // (measured: s04 2.7→3.8s, s28 0.6→1.3s, s02 0.8→1.2s; reverted).
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "embeddings")

  /** Events table carries a parquet timestamp whose logical annotation
    * has drifted across driver rounds (TIMESTAMP NANOS originally,
    * MICROS now), and whose Spark resolution has drifted across
    * versions — ≤3.x legacy builds could surface nanos as raw int64
    * (`nanosAsLong`); 4.1+ reads either annotation as TIMESTAMP_NTZ and
    * silently ignores the legacy conf. The loader therefore branches on
    * the RESOLVED column type, not on any conf, and derives:
    *   - `ms`  : epoch milliseconds (matches DuckDB `epoch_ms(ts)` exactly;
    *             truncation composes for positive epochs:
    *             floor(floor(ns/1e3)/1e3) == floor(ns/1e6))
    *   - `ets` : ms-truncated TimestampType for date_trunc/window work.
    * No session-conf mutation: a table loader must not side-effect every
    * caller's session. Session TZ is UTC (Engine.session), so the
    * NTZ→timestamp cast is an identity reinterpretation.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val raw = load(spark, dir, "events")
    val ms = raw.schema("ts").dataType match {
      case LongType         => expr("ts div 1000000")
      case TimestampNTZType => expr("unix_micros(cast(ts as timestamp)) div 1000")
      case TimestampType    => expr("unix_micros(ts) div 1000")
      case other => throw new IllegalStateException(
        s"events.ts resolved as unsupported type $other — " +
          "expected int64 nanos, TIMESTAMP_NTZ, or TIMESTAMP")
    }
    raw.withColumn("ms", ms)
      .withColumn("ets", timestamp_millis(col("ms")))
  }

  /** What each warehouse table name means: the one name-to-loader map
    * behind both [[sql]] and `Graft.registerViews`. */
  val loaders: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "region" -> (region _), "nation" -> (nation _), "customer" -> (customer _),
    "supplier" -> (supplier _), "part" -> (part _), "orders" -> (orders _),
    "lineitem" -> (lineitem _), "events" -> (events _), "documents" -> (documents _),
    "embeddings" -> (embeddings _))

  /** Bind a SQL text to `dir`'s tables: the session's parser reads it,
    * and every unqualified table name that no CTE defines becomes its
    * loader's frame, aliased by the table name so hints
    * (`/*+ BROADCAST(nation) */`) and qualified columns still resolve.
    * Registers no view and changes no session state, so temp views of
    * another directory never leak in. An unknown table name fails with
    * an error that names it.
    *
    * Six DuckDB function names bind too, so one text runs in both
    * engines and in any session, with or without `GraftExtensions`:
    *   - `epoch_ms(t)`, t a TIMESTAMP or TIMESTAMP_NTZ: epoch
    *     milliseconds, `unix_millis(CAST(t AS TIMESTAMP))`, the value of
    *     [[events]]' `ms` (UTC session). DuckDB's other form,
    *     `epoch_ms(BIGINT)` (ms → timestamp), fails analysis.
    *   - `divide(a, b)`: integer division, Spark's `a div b`. Both
    *     engines truncate toward zero (`divide(-7, 2)` = -3). Texts write
    *     `divide(a, b)`, never DuckDB's `a // b`, which Spark cannot
    *     parse.
    *   - `strftime(t, '<format>')`, t a DATE, TIMESTAMP or TIMESTAMP_NTZ
    *     and the format a string literal of `%Y`, `%m`, `%d`, `%H` and
    *     literal text: `date_format(t, <pattern>)` with `%Y` → `yyyy`,
    *     `%m` → `MM`, `%d` → `dd`, `%H` → `HH` and the text quoted. Any
    *     other specifier, or a format that is not a literal, fails
    *     analysis.
    *   - `unnest(list)` in a SELECT list: Spark's `explode`, one row per
    *     element and none for an empty or NULL list. DuckDB's
    *     `FROM (SELECT UNNEST(…))` cross-joined to a frame plans a
    *     BroadcastNestedLoopJoin in Spark; texts unnest in the SELECT
    *     list of the query that uses the elements.
    *   - `list_value(a, …)`: Spark's `array(a, …)`. Texts write it for
    *     DuckDB's `[a, …]`, which Spark cannot parse.
    *   - `generate_series(a, b)`, a and b integral: the BIGINT list
    *     a, a + 1, …, b, empty when a > b (Spark's `sequence(3, 1)`
    *     counts down). Texts write it for DuckDB's exclusive
    *     `range(a, b)`. A non-integral argument fails analysis.
    *
    * A DuckDB form that Spark rejects while parsing cannot be bound, so
    * texts write the spelling both engines share: `CAST(b - a AS BIGINT)`
    * over DATEs for `date_diff('day', a, b)`, `STRING` for `VARCHAR`,
    * `min_by`/`max_by` for `arg_min`/`arg_max`, `list_value(…)` for
    * `[…]` (README, "Adding an operator").
    *
    * Spark cannot parse DuckDB's HUGEINT; texts write `DECIMAL(38,0)`,
    * except where `//` divides a HUGEINT-derived value: DuckDB divides a
    * DECIMAL in floating point, so such a text keeps HUGEINT and its
    * operator stays DataFrame. */
  def sql(spark: SparkSession, dir: String, text: String): DataFrame = {
    val parsed = GraftPlanFactory.parsePlan(spark, text)
    def cteNames(plan: LogicalPlan): Seq[String] = plan.collectWithSubqueries {
      case w: UnresolvedWith =>
        w.cteRelations.flatMap(r => r._1.toLowerCase(Locale.ROOT) +: cteNames(r._2))
    }.flatten
    val ctes = cteNames(parsed).toSet
    def bind(plan: LogicalPlan): LogicalPlan = plan.transformUpWithSubqueries {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map(r =>
          r.copy(_2 = bind(r._2).asInstanceOf[SubqueryAlias])))
      case u: UnresolvedRelation
          if !(u.multipartIdentifier.size == 1 &&
            ctes(u.multipartIdentifier.head.toLowerCase(Locale.ROOT))) =>
        val name = u.multipartIdentifier.mkString(".").toLowerCase(Locale.ROOT)
        val load = loaders.getOrElse(name, throw new IllegalArgumentException(
          s"unknown table '$name'; known: ${loaders.keys.mkString(", ")}"))
        SubqueryAlias(name, GraftPlanFactory.analyzed(load(spark, dir)))
      case p => p.transformExpressionsUp {
        case f: UnresolvedFunction if f.nameParts.size == 1 =>
          (f.nameParts.head.toLowerCase(Locale.ROOT), f.arguments) match {
            case ("epoch_ms", Seq(t)) => EpochMs(t)
            case ("divide", Seq(a, b)) => new IntegralDivide(a, b)
            case ("strftime", Seq(t, format)) => Strftime(t, format)
            case ("unnest", Seq(list)) => Unnest(list)
            case ("list_value", items) => new ListValue(items)
            case ("generate_series", Seq(a, b)) => GenerateSeries(a, b)
            case _ => f
          }
      }
    }
    GraftPlanFactory.ofRows(spark, bind(parsed))
  }
}

/** DuckDB's `epoch_ms(timestamp)` as [[Tables.sql]] binds it. Type-checked
  * under its DuckDB name, so a BIGINT argument fails analysis with an
  * error that names `epoch_ms`; the optimizer replaces it with
  * `unix_millis(CAST(t AS TIMESTAMP))`. */
private[engine] case class EpochMs(child: Expression)
    extends UnaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression =
    UnixMillis(Cast(child, TimestampType, Some(SQLConf.get.sessionLocalTimeZone)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case TimestampType | TimestampNTZType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"epoch_ms takes a TIMESTAMP or TIMESTAMP_NTZ, not ${other.sql}")
  }
  override def prettyName: String = "epoch_ms"
  override protected def withNewChildInternal(c: Expression): EpochMs = copy(child = c)
}

/** DuckDB's `strftime(t, '<format>')` as [[Tables.sql]] binds it, for
  * the specifiers `%Y`, `%m`, `%d` and `%H`. Type-checked under its
  * DuckDB name, so another specifier or a non-literal format fails
  * analysis with an error that names `strftime`; the optimizer replaces
  * it with `date_format(CAST(t AS TIMESTAMP), <pattern>)`. */
private[engine] case class Strftime(left: Expression, right: Expression)
    extends BinaryExpression with RuntimeReplaceable {
  private lazy val pattern: Option[String] = right match {
    case Literal(f, _: StringType) if f != null => Strftime.pattern(f.toString)
    case _ => None
  }
  override lazy val replacement: Expression = {
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    DateFormatClass(Cast(left, TimestampType, tz), Literal(pattern.get), tz)
  }
  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case DateType | TimestampType | TimestampNTZType =>
      if (pattern.isDefined) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"strftime takes a string literal of %Y, %m, %d, %H and text, not ${right.sql}")
    case other => TypeCheckResult.TypeCheckFailure(
      s"strftime takes a DATE, TIMESTAMP or TIMESTAMP_NTZ, not ${other.sql}")
  }
  override def prettyName: String = "strftime"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Strftime =
    copy(left = l, right = r)
}

private[engine] object Strftime {
  private val specifiers = Map("%Y" -> "yyyy", "%m" -> "MM", "%d" -> "dd", "%H" -> "HH")
  private val token = "%.?|[^%]+".r

  /** The `date_format` pattern of a DuckDB format: each specifier
    * mapped, each run of other text quoted; None on another specifier. */
  def pattern(format: String): Option[String] = {
    val parts = token.findAllIn(format).map {
      case spec if spec.startsWith("%") => specifiers.get(spec)
      case text => Some("'" + text.replace("'", "''") + "'")
    }.toSeq
    if (parts.forall(_.isDefined)) Some(parts.flatten.mkString) else None
  }
}

/** DuckDB's select-list `unnest(list)` as [[Tables.sql]] binds it: the
  * generator behind Spark's `explode`, named `unnest`. */
private[engine] case class Unnest(child: Expression) extends ExplodeBase {
  override val position: Boolean = false
  override def prettyName: String = "unnest"
  override protected def withNewChildInternal(c: Expression): Unnest = copy(child = c)
}

/** DuckDB's `list_value(a, …)` as [[Tables.sql]] binds it: `array(a, …)`,
  * analyzed as that array and shown under the DuckDB name. */
private[engine] case class ListValue(parameters: Seq[Expression], replacement: Expression)
    extends RuntimeReplaceable with InheritAnalysisRules {
  def this(parameters: Seq[Expression]) = this(parameters, CreateArray(parameters))
  override def prettyName: String = "list_value"
  override protected def withNewChildInternal(c: Expression): ListValue =
    copy(replacement = c)
}

/** DuckDB's `generate_series(a, b)` as [[Tables.sql]] binds it: the
  * inclusive BIGINT list from a to b, empty when a > b and NULL when
  * either bound is. Type-checked under its DuckDB name, so a
  * non-integral argument fails analysis with an error that names
  * `generate_series`; the optimizer replaces it with
  * `IF(a > b, array(), sequence(a, b))` over BIGINT bounds. */
private[engine] case class GenerateSeries(left: Expression, right: Expression)
    extends BinaryExpression with RuntimeReplaceable {
  override lazy val replacement: Expression = {
    val (a, b) = (Cast(left, LongType), Cast(right, LongType))
    If(GreaterThan(a, b), Literal(new GenericArrayData(Array.empty[Any]), dataType),
      Sequence(a, b, None, Some(SQLConf.get.sessionLocalTimeZone)))
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    Seq(left, right).map(_.dataType).find {
      case ByteType | ShortType | IntegerType | LongType | NullType => false
      case _ => true
    } match {
      case None => TypeCheckResult.TypeCheckSuccess
      case Some(other) => TypeCheckResult.TypeCheckFailure(
        s"generate_series takes integral bounds, not ${other.sql}")
    }
  override def prettyName: String = "generate_series"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): GenerateSeries =
    copy(left = l, right = r)
}
