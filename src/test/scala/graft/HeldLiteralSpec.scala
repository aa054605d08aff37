package graft

import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, Literal, Rand, Round}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.lake.LakeTable
import graft.plans.{HeldLiteral, HoldLiterals}
import graft.writer.BlockWriter

/** [[HoldLiterals]] holds the primitive literals of filter comparisons
  * and `IN` lists by reference: answers are unchanged for every held
  * type and edge value, with whole-stage codegen on and off, over a
  * lake table and a plain parquet read; a query that differs only in
  * its bounds compiles no class; plan text and scan pruning are those
  * of the real literals; other literal positions stay foldable.
  */
class HeldLiteralSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  /** 35 rows, id 0..34. Every column is null where id % 7 == 5 and
    * carries its type's edge values (min/max, NaN, ±0.0, ±Infinity,
    * the epoch) at fixed ids.
    */
  private def fixture: DataFrame = {
    def v(id: Int, x: => Any): Any = if (id % 7 == 5) null else x
    val rows = (0 until 35).map { id =>
      val k = id - 18
      Row(id,
        v(id, id % 3 == 0),
        v(id, id match { case 0 => Byte.MinValue; case 1 => Byte.MaxValue; case _ => k.toByte }),
        v(id, if (id == 2) Short.MinValue else (k * 100).toShort),
        v(id, id match { case 3 => Int.MinValue; case 4 => Int.MaxValue; case _ => k * 7 }),
        v(id, id match {
          case 6 => Long.MinValue; case 8 => Long.MaxValue; case _ => 1700000000000L + id * 1000L }),
        v(id, id match {
          case 8 => Float.NaN; case 9 => -0.0f; case 10 => 0.0f
          case 11 => Float.PositiveInfinity; case 13 => Float.NegativeInfinity; case _ => k / 4f }),
        v(id, id match {
          case 8 | 14 => Double.NaN; case 9 => -0.0; case 10 => 0.0
          case 11 => Double.PositiveInfinity; case 13 => Double.NegativeInfinity; case _ => k / 4.0 }),
        v(id, LocalDate.ofEpochDay(k)),
        v(id, Instant.EPOCH.plusSeconds(k * 3600L)),
        v(id, LocalDateTime.ofEpochSecond(k * 3600L, 0, ZoneOffset.UTC)))
    }
    val schema = StructType(Seq("id" -> IntegerType, "b" -> BooleanType,
      "y" -> ByteType, "s" -> ShortType, "i" -> IntegerType, "l" -> LongType,
      "f" -> FloatType, "d" -> DoubleType, "dt" -> DateType,
      "ts" -> TimestampType, "tn" -> TimestampNTZType)
      .map { case (n, t) => StructField(n, t, nullable = n != "id") })
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The fixture as a lake table of three appends, split on `id` so
    * the `l` ranges of the last two files are disjoint.
    */
  private lazy val lakeRoot: String = {
    val root = graft.util.Scratch.dir("graft_held_lake_")
    val cfg = BlockWriter.Config("id", "l", parallelism = Some(1))
    Seq((0, 12), (12, 24), (24, 35)).foreach { case (a, b) =>
      LakeTable.commit(spark, root,
        fixture.filter(col("id") >= a && col("id") < b).coalesce(1), cfg, Seq("l")): Unit
    }
    root
  }

  private lazy val parquetDir: String = {
    val dir = graft.util.Scratch.dir("graft_held_pq_")
    fixture.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def sources: Seq[(String, () => DataFrame)] = Seq(
    "lake" -> (() => LakeTable.read(spark, lakeRoot)),
    "parquet" -> (() => spark.read.parquet(parquetDir)))

  /** One fixture column: its value in a collected row, Spark's SQL
    * order on those values, the bound pairs to query and the literal
    * of a bound.
    */
  private final case class Probe[K](name: String, key: Any => K,
      cmp: (K, K) => Int, bounds: Seq[(K, K)], lit: K => Column)

  private def natural[K](name: String, bounds: (K, K)*)(implicit o: Ordering[K]) =
    Probe[K](name, _.asInstanceOf[K], o.compare, bounds, k => lit(k))

  /** SQL order on floating values: -0.0 = 0.0, NaN = NaN above all. */
  private def sqlDouble(a: Double, b: Double): Int =
    java.lang.Double.compare(a + 0.0, b + 0.0)

  private val hour = 3600L
  private val probes: Seq[Probe[_]] = Seq(
    natural[Boolean]("b", (false, true), (true, true)),
    natural[Byte]("y", (Byte.MinValue, -3.toByte), (0.toByte, Byte.MaxValue)),
    natural[Short]("s", (Short.MinValue, -500.toShort), (100.toShort, 1500.toShort)),
    natural[Int]("i", (Int.MinValue, 0), (-14, Int.MaxValue)),
    natural[Long]("l", (Long.MinValue, 1700000010000L), (1700000020000L, Long.MaxValue)),
    Probe[Float]("f", _.asInstanceOf[Float], (a, b) => sqlDouble(a, b),
      Seq((Float.NegativeInfinity, -0.0f), (0.0f, Float.NaN), (-1.25f, Float.PositiveInfinity)),
      x => lit(x)),
    Probe[Double]("d", _.asInstanceOf[Double], sqlDouble,
      Seq((Double.NegativeInfinity, -0.0), (0.0, Double.NaN), (-0.0, 2.5)), x => lit(x)),
    Probe[Long]("dt", _.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay,
      java.lang.Long.compare, Seq((0L, 5L), (-18L, -1L)), x => lit(LocalDate.ofEpochDay(x))),
    Probe[Long]("ts", _.asInstanceOf[java.sql.Timestamp].toInstant.getEpochSecond,
      java.lang.Long.compare, Seq((0L, 5 * hour), (-18 * hour, -hour)),
      x => lit(Instant.ofEpochSecond(x))),
    Probe[Long]("tn", _.asInstanceOf[LocalDateTime].toEpochSecond(ZoneOffset.UTC),
      java.lang.Long.compare, Seq((0L, 5 * hour), (-18 * hour, -hour)),
      x => lit(LocalDateTime.ofEpochSecond(x, 0, ZoneOffset.UTC))))

  /** Each filter as a column over (c, lo, hi), and its answer in Scala
    * over the row's value (None = null) under the column's order.
    */
  private def predicates[K](cmp: (K, K) => Int)
      : Seq[(String, (Column, Column, Column) => Column, (Option[K], K, K) => Boolean)] = {
    def eq(v: Option[K], x: K) = v.exists(cmp(_, x) == 0)
    Seq(
      ("between", (c, lo, hi) => c.between(lo, hi),
        (v, lo, hi) => v.exists(x => cmp(x, lo) >= 0 && cmp(x, hi) <= 0)),
      ("=", (c, lo, _) => c === lo, (v, lo, _) => eq(v, lo)),
      ("<=>", (c, lo, _) => c <=> lo, (v, lo, _) => eq(v, lo)),
      ("not <=>", (c, lo, _) => !(c <=> lo), (v, lo, _) => !eq(v, lo)),
      ("< or >", (c, lo, hi) => c < lo || c > hi,
        (v, lo, hi) => v.exists(x => cmp(x, lo) < 0 || cmp(x, hi) > 0)),
      ("!=", (c, _, hi) => c =!= hi, (v, _, hi) => v.exists(cmp(_, hi) != 0)),
      ("in", (c, lo, hi) => c.isin(lo, hi), (v, lo, hi) => eq(v, lo) || eq(v, hi)),
      ("not in", (c, lo, hi) => !c.isin(lo, hi),
        (v, lo, hi) => v.isDefined && !eq(v, lo) && !eq(v, hi)))
  }

  private def filters(plan: SparkPlan): Seq[Expression] =
    collect(plan) { case f: FilterExec => f.condition }

  /** The operands of every comparison and `IN` in the plan's filters. */
  private def operands(plan: SparkPlan): Seq[Expression] =
    filters(plan).flatMap(_.collect {
      case c: BinaryComparison => c.children
      case i: In => i.children
    }.flatten)

  /** Runs every predicate of `p` over `df`, checks the ids against
    * the collected raw rows and that no inlinable literal is left;
    * returns how many held literals of the column's type ran.
    */
  private def check[K](what: String, df: DataFrame, raw: Seq[Row], p: Probe[K]): Int = {
    val want = raw.map(r => r.getInt(0) -> Option(r.getAs[Any](p.name)).map(p.key))
    val t = df.schema(p.name).dataType
    (for {
      (lo, hi) <- p.bounds
      (name, filter, oracle) <- predicates(p.cmp)
    } yield {
      val q = df.filter(filter(col(p.name), p.lit(lo), p.lit(hi))).select("id")
      val got = q.collect().map(_.getInt(0)).sorted.toSeq
      assert(got === want.collect { case (id, v) if oracle(v, lo, hi) => id }.sorted,
        s"$what: ${p.name} $name ($lo, $hi)")
      val ops = operands(q.queryExecution.executedPlan)
      assert(!ops.exists { case Literal(v, _) => v != null; case _ => false },
        s"$what: ${p.name} $name left a literal inline: ${filters(q.queryExecution.executedPlan)}")
      ops.count { case h: HeldLiteral => h.dataType == t; case _ => false }
    }).sum
  }

  test("held bounds answer as literals for every held type, with whole-stage codegen on and off") {
    for {
      wholeStage <- Seq("true", "false")
      (src, read) <- sources
    } {
      val what = s"$src, wholeStage=$wholeStage"
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        val df = read()
        val raw = df.collect().toSeq
        assert(raw.size === 35, what)
        probes.foreach { p =>
          assert(check(what, df, raw, p) > 0, s"$what: no held literal on ${p.name}")
        }
      } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("a query that differs only in its bounds compiles no class") {
    // both queries return rows: an empty shuffle lets adaptive
    // execution drop the final stage, which would then compile only
    // in the second query
    def range(df: DataFrame, lo: Long, hi: Long, from: Long, is: Seq[Int],
        ys: Seq[Byte]): Array[Row] =
      df.filter(col("l").between(lo, hi) && col("ts") >= lit(Instant.ofEpochSecond(from)) &&
          col("i").isin(is: _*) && !col("y").isin(ys: _*))
        .groupBy(col("b")).agg(count(lit(1)), sum(col("d"))).collect()
    sources.foreach { case (src, read) =>
      assert(range(read(), 1700000001000L, 1700000020000L, -10 * hour,
        Seq(-14, 0, 7), Seq(1, 2)).nonEmpty)
      val n = SparkJobs.compilesDuring {
        assert(range(read(), 1700000003000L, 1700000031000L, -5 * hour,
          Seq(0, 14, 28), Seq(3, 4)).nonEmpty)
      }
      assert(n === 0L, s"$src: the same query with new bounds compiled $n classes")
    }
  }

  test("plan text, pushed filters and file pruning are those of the real literals") {
    val q = LakeTable.read(spark, lakeRoot)
      .filter(col("l").between(1700000025000L, 1700000030000L) && col("d") =!= Double.NaN)
    val plan = q.queryExecution.executedPlan
    assert(filters(plan).exists(_.exists(_.isInstanceOf[HeldLiteral])), plan.toString)
    val unheld = plan.transformAllExpressions {
      case h: HeldLiteral => Literal(h.value, h.dataType)
    }
    assert(plan.toString === unheld.toString)
    assert(q.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      .contains("(l#"), "formatted explain prints the filter")
    val text = plan.toString
    assert(text.contains("files=2/3"), text)
    assert(text.contains("GreaterThanOrEqual(l,1700000025000)") &&
      text.contains("LessThanOrEqual(l,1700000030000)"), text)
    assert(text.contains(">= 1700000025000)") && text.contains("NaN"), text)
    // held: a re-application, as adaptive re-planning does, is a no-op
    assert(HoldLiterals(plan) eq plan)
    val h = HeldLiteral(1700000025000L, LongType)
    assert(h.sql === Literal(1700000025000L).sql && h.toString === "1700000025000")
  }

  test("foldable arguments of other expressions stay literals") {
    val q = spark.read.parquet(parquetDir)
      .filter(round(col("d"), 2) > 0.5 && rand(7) < 0.9)
    q.collect(): Unit
    val cond = filters(q.queryExecution.executedPlan)
    assert(cond.nonEmpty)
    cond.foreach { c =>
      c.foreach {
        case r: Round => assert(r.scale.isInstanceOf[Literal], c)
        case r: Rand => assert(r.child.isInstanceOf[Literal], c)
        case _ =>
      }
    }
    assert(operands(q.queryExecution.executedPlan).count(_.isInstanceOf[HeldLiteral]) === 2,
      cond.mkString("; "))
  }
}
