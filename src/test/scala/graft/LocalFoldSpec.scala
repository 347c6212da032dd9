package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Differential spec for [[LocalFold]]: every folded join, union and
  * aggregate over small generated relations (nulls, duplicate keys, empty
  * sides, signed zeros and NaN) equals the same plan run by Spark with the
  * fold off (`spark.graft.local.maxRows=0`).
  */
class LocalFoldSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val lSchema = StructType(Seq(StructField("k", IntegerType), StructField("v", LongType),
    StructField("s", StringType), StructField("d", DoubleType)))
  private val rSchema = StructType(Seq(StructField("k2", IntegerType), StructField("w", LongType),
    StructField("t", StringType), StructField("d2", DoubleType)))

  private def orNull[T](g: Gen[T]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 4 -> g)
  // keys from a small domain, so sides share keys and repeat them
  private val genRow: Gen[Row] = for {
    k <- orNull(Gen.choose(0, 3))
    v <- orNull(Gen.choose(-5L, 5L))
    s <- orNull(Gen.oneOf("a", "b", "c"))
    d <- orNull(Gen.oneOf(0.0, -0.0, Double.NaN, 1.5))
  } yield Row(k, v, s, d)

  /** Left and right relations for case `i`: 0 has an empty left, 1 an
    * empty right, the rest 1 to 8 rows a side.
    */
  private def sides(i: Int): (DataFrame, DataFrame) = {
    def rel(n: Int, salt: Long, schema: StructType): DataFrame = {
      val rows = Gen.listOfN(n, genRow).apply(Gen.Parameters.default, Seed(i * 31L + salt)).get
      Local.relation(spark, rows, schema)
    }
    val sizes = Gen.choose(1, 8)
    def size(salt: Long) = sizes.apply(Gen.Parameters.default, Seed(i * 17L + salt)).get
    (rel(if (i == 0) 0 else size(1), 1, lSchema), rel(if (i == 1) 0 else size(2), 2, rSchema))
  }

  private val cases = 0 until 6

  private def off[T](body: => T): T = {
    spark.conf.set("spark.graft.local.maxRows", "0")
    try body finally spark.conf.unset("spark.graft.local.maxRows")
  }

  private def multiset(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** The folded rows, the optimized plan they came from, and the rows of
    * the same query with the fold off.
    */
  private def both(q: => DataFrame): (Seq[Row], LogicalPlan, Seq[Row]) = {
    Local.install(spark)
    val df = q
    val folded = df.collect().toSeq
    (folded, df.queryExecution.optimizedPlan, off(q.collect().toSeq))
  }

  private def assertFolded(plan: LogicalPlan, what: String): Unit =
    assert(plan.isInstanceOf[LocalRelation], s"$what did not fold:\n$plan")

  test("folded joins == Spark's joins, in the left side's row order") {
    // the right side is broadcast, so Spark streams the left side as the
    // fold does and the outputs compare as sequences
    val shapes: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
      "inner equi" -> ((l, r) => l.join(broadcast(r), l("k") === r("k2"))),
      "inner equi + residual" ->
        ((l, r) => l.join(broadcast(r), l("k") === r("k2") && l("v") < r("w"))),
      "inner null-safe equi" -> ((l, r) => l.join(broadcast(r), l("k") <=> r("k2"))),
      "inner double key" -> ((l, r) => l.join(broadcast(r), l("d") === r("d2"))),
      "inner non-equi" -> ((l, r) => l.join(broadcast(r), l("v") < r("w"))),
      "cross" -> ((l, r) => l.crossJoin(broadcast(r))),
      "left outer equi + residual" ->
        ((l, r) => l.join(broadcast(r), l("k") === r("k2") && l("s") =!= r("t"), "left_outer")),
      "left outer non-equi" -> ((l, r) => l.join(broadcast(r), l("v") > r("w"), "left_outer")),
      "left semi equi" -> ((l, r) => l.join(broadcast(r), l("k") === r("k2"), "left_semi")),
      "left semi non-equi" -> ((l, r) => l.join(broadcast(r), l("v") <= r("w"), "left_semi")),
      "left anti equi + residual" ->
        ((l, r) => l.join(broadcast(r), l("k") === r("k2") && l("v") =!= r("w"), "left_anti")),
      "left anti non-equi" -> ((l, r) => l.join(broadcast(r), l("v") < r("w"), "left_anti")))
    for (i <- cases; (name, shape) <- shapes) {
      val (l, r) = sides(i)
      val (folded, plan, dist) = both(shape(l, r))
      assertFolded(plan, s"case $i $name")
      assert(folded.map(_.toString) == dist.map(_.toString), s"case $i $name")
    }
  }

  test("folded null-aware NOT IN anti-join == Spark's") {
    for (i <- cases) {
      val (l, r) = sides(i)
      l.createOrReplaceTempView("fold_l")
      r.createOrReplaceTempView("fold_r")
      val (folded, plan, dist) =
        both(spark.sql("SELECT * FROM fold_l WHERE k NOT IN (SELECT k2 FROM fold_r)"))
      assertFolded(plan, s"case $i NOT IN")
      assert(folded.map(_.toString) == dist.map(_.toString), s"case $i NOT IN")
    }
  }

  test("folded union == Spark's union") {
    for (i <- cases) {
      val (l, r) = sides(i)
      val (folded, plan, dist) = both(l.union(r).union(l))
      assertFolded(plan, s"case $i union")
      assert(folded.map(_.toString) == dist.map(_.toString), s"case $i union")
    }
  }

  test("folded grouped and global aggregates == Spark's, as multisets") {
    // first() reads a column fixed per group, so Spark's answer does not
    // depend on the order its partial aggregates arrive in
    def aggs(l: DataFrame): Seq[org.apache.spark.sql.Column] = Seq(
      count(lit(1)).as("n"), count(col("v")).as("nv"), sum(col("v")).as("sv"),
      min(col("s")).as("mins"), max(col("v")).as("maxv"), first(col("k") * 10).as("fk"),
      md5(concat_ws(",", sort_array(collect_list(col("s"))))).as("h"))
    for (i <- cases) {
      val (l, r) = sides(i)
      val grouped = Seq[DataFrame => DataFrame](
        df => df.groupBy(col("k")).agg(aggs(df).head, aggs(df).tail: _*),
        df => df.groupBy(col("d")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv")),
        // dropDuplicates keeps a first() of the other columns: one fixed per key
        df => df.select(col("k"), col("s"), (col("k") * 2).as("k2x")).dropDuplicates("k", "s"),
        df => df.agg(aggs(df).head, aggs(df).tail: _*))
      val inputs = Seq(l, l.join(r, l("k") === r("k2")).select(l("*")))
      for ((shape, j) <- grouped.zipWithIndex; input <- inputs) {
        val (folded, plan, dist) = both(shape(input))
        assertFolded(plan, s"case $i aggregate $j")
        assert(multiset(folded) == multiset(dist), s"case $i aggregate $j")
      }
    }
    val empty = Local.relation(spark, Nil, lSchema)
    val (folded, _, dist) = both(empty.agg(count(lit(1)), sum(col("v")), collect_list(col("s"))))
    assert(folded.length == 1, "a global aggregate over no rows is one row")
    assert(folded.map(_.toString) == dist.map(_.toString))
  }

  test("an aggregate emits its groups in first-occurrence order") {
    Local.install(spark)
    val rows = Seq(3, 1, 3, 2, 1).map(k => Row(k, k.toLong, null, null))
    val out = Local.relation(spark, rows, lSchema).groupBy(col("k")).agg(sum(col("v")))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(out == Seq(3 -> 6L, 1 -> 2L, 2 -> 2L))
  }

  test("a plan of driver-held rows collects without a Spark job") {
    val (l, r) = sides(5)
    Local.install(spark)
    val q = l.join(r, l("k") === r("k2"), "left_outer").filter(col("v").isNotNull)
      .groupBy(col("k")).agg(count(lit(1)).as("n")).union(l.select(col("k"), lit(0L)))
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
    }
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val folded = try {
      val rows = q.collect().toSeq
      org.apache.spark.ListenerDrain.drain(spark.sparkContext)
      rows
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(listener.synchronized(jobs) == 0)
    assert(multiset(folded) == multiset(off(q.collect().toSeq)))
  }

  test("past the row cap the fold is left out and the join still runs") {
    val rows = (1 to 20).map(k => Row(k, k.toLong, "x", 0.0))
    val l = Local.relation(spark, rows, lSchema)
    val r = Local.relation(spark, rows, rSchema)
    spark.conf.set("spark.graft.local.maxRows", "100")
    val (capped, plan) = try {
      val df = l.crossJoin(r).select(l("k"), r("k2"))
      (df.collect().toSeq, df.queryExecution.optimizedPlan)
    } finally spark.conf.unset("spark.graft.local.maxRows")
    // 400 output rows against a cap of 100: the join stays a join
    assert(plan.exists(_.isInstanceOf[Join]), s"folded past the cap:\n$plan")
    assert(capped.length == 400)
    val dist = off(l.crossJoin(r).select(l("k"), r("k2")).collect().toSeq)
    assert(multiset(capped) == multiset(dist))
  }
}
