package graft.cypher

import graft.{Local, TestSpark, ValueRender}
import graft.graph.PropertyGraph
import graft.gvalue._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The one value encoder, `MutableGraph.gLit`: a property map stored by a
  * literal CREATE, by a per-row CREATE and by SET reads back with one
  * render, before and after a reopen of the durable graph. Each form goes
  * through the graph call its clause makes: a literal CREATE passes the
  * pattern's folded values to `createVertex`, a per-row CREATE appends its
  * numbered rows with each constant encoded by `gLit`
  * (`createVerticesRows`), and a SET updates one property of the matched
  * ids (`updateProperty`), here each value encoded by `gLit` as the clause
  * encodes a container. The graph API carries dates and timestamps, which
  * a Cypher literal does not.
  */
class EncoderSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val scalar: Gen[GValue] = Gen.oneOf(
    Gen.oneOf(true, false).map(GBool.apply),
    Gen.chooseNum(-1000L, 1000L).map(GInt.apply),
    Gen.chooseNum(-1e3, 1e3).map(GFloat.apply),
    Gen.alphaNumStr.map(s => GString(s.take(8))),
    numeric)

  private def numeric: Gen[GValue] =
    Gen.zip(Gen.chooseNum(-1000000L, 1000000L), Gen.chooseNum(0, 6))
      .map { case (unscaled, scale) => GNumeric(BigDecimal(unscaled, scale)) }

  private def list(g: Gen[GValue]): Gen[GValue] =
    Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, g)).map(xs => GArray(xs.toVector))

  // each key holds one kind of value, so a label's column keeps one type
  private val kinds: Seq[(String, Gen[GValue])] = Seq(
    "b" -> Gen.oneOf(true, false).map(GBool.apply),
    "i" -> Gen.chooseNum(-1000000L, 1000000L).map(GInt.apply),
    "f" -> Gen.chooseNum(-1e6, 1e6).map(GFloat.apply),
    "s" -> Gen.alphaNumStr.map(GString.apply),
    "n" -> numeric,
    "d" -> Gen.chooseNum(-10000, 30000).map(GDate.apply),
    "t" -> Gen.chooseNum(0L, 2000000000000000L).map(GTimestamp.apply),
    "li" -> list(Gen.chooseNum(-100L, 100L).map(GInt.apply)),
    "ln" -> list(numeric),
    "ld" -> list(Gen.chooseNum(0, 20000).map(GDate.apply)),
    // a mixed list two levels deep: a nested list makes it dynamic
    "m" -> Gen.zip(scalar, list(scalar), Gen.listOfN(2, scalar))
      .map { case (a, nested, rest) => GArray((a +: nested +: rest).toVector) },
    "o" -> Gen.zip(list(Gen.chooseNum(-100L, 100L).map(GInt.apply)), scalar,
      Gen.zip(scalar, list(scalar)).map { case (a, b) => GArray(Vector(a, b)) })
      .map { case (xs, y, zs) => GMap.of("xs" -> xs, "y" -> y, "zs" -> zs) })

  private val propertyMap: Gen[Map[String, GValue]] =
    kinds.foldLeft(Gen.const(Map.empty[String, GValue])) { case (acc, (k, g)) =>
      for (m <- acc; v <- Gen.option(g)) yield m ++ v.map(k -> _)
    }

  test("a property map stored by literal CREATE, per-row CREATE and SET reads back alike") {
    val maps = (0 until 30).map(i => propertyMap.pureApply(Gen.Parameters.default, Seed(i.toLong)))
    val root = java.nio.file.Files.createTempDirectory("graft_encoder").toString
    val s = new GraphSession(spark)
    s.createGraph("enc", root)
    val g = s.graph
    def statement(body: => Unit): Unit = {
      val tx = g.txSnapshot()
      body
      g.commitIfChanged(tx)
    }
    val idSchema = StructType(Seq(StructField("id", LongType)))
    def idRow(id: Long) = Local.relation(spark, Seq(Row(id)), idSchema)
    val setIds = scala.collection.mutable.Map.empty[Int, Long]
    statement(maps.indices.foreach(i => setIds(i) = g.createVertex("S", Map("seq" -> GInt(i)))))
    def perRow(label: String, m: Map[String, GValue]): Unit = statement {
      val (lid, base) = g.reserveEntries(label, 1)
      g.createVerticesRows(label, idRow(PropertyGraph.packId(lid, base + 1)).select(
        col("id") +: m.toSeq.map { case (k, v) => g.gLit(v).as(k) }: _*))
    }
    maps.zipWithIndex.foreach { case (m, i) =>
      statement(g.createVertex("L", m + ("seq" -> GInt(i))))
      perRow("R", m + ("seq" -> GInt(i)))
    }
    // both CREATE forms into one label write files of one schema, or the
    // open would infer it in one more job; a per-row CREATE writes first
    maps.take(10).zipWithIndex.foreach { case (m, i) =>
      perRow("X", m + ("seq" -> GInt(2 * i + 1)))
      statement(g.createVertex("X", m + ("seq" -> GInt(2 * i))))
    }
    // two maps a statement: a label of more than 32 files would take one
    // more job at the open, Spark's parallel listing of its paths
    maps.zipWithIndex.grouped(2).foreach(pair => statement(pair.foreach { case (m, i) =>
      m.foreach { case (k, v) =>
        g.updateProperty(k, idRow(setIds(i)).select(col("id").as("__set_id"), g.gLit(v).as("__set_val")))
      }
    }))
    def renders(r: GraphSession, label: String): Seq[String] = {
      val df = r.run(s"MATCH (n:$label) RETURN n ORDER BY n.seq")
      ValueRender.renderRows(df.collect().toSeq, df.schema).get.map(_.head)
        .map(e => e.substring(e.indexOf("\"properties\"")))
    }
    val written = Seq("L", "R", "S").map(renders(s, _))
    assert(written.map(_.length) == Seq.fill(3)(maps.length))
    written.tail.zip(Seq("R", "S")).foreach { case (got, l) =>
      got.zip(written.head).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"map $i: $l renders\n$a\nL renders\n$b")
      }
    }
    val mixed = renders(s, "X")
    assert(mixed.length == 20)
    def unnumbered(e: String): String = e.replaceAll("\"seq\": \\d+", "")
    mixed.grouped(2).zipWithIndex.foreach { case (pair, i) =>
      assert(pair.map(unnumbered).distinct == Seq(unnumbered(written.head(i))), s"map $i in X: $pair")
    }
    val r = new GraphSession(spark)
    val openJobs = jobsOf(r.openGraph("enc", root))
    assert(openJobs == 4, s"the open of four labels ran $openJobs jobs")
    Seq("L", "R", "S", "X").zip(written :+ mixed).foreach { case (l, before) =>
      assert(renders(r, l) == before, s"label $l after the reopen")
    }
    GraphStore.deleteTree(java.nio.file.Paths.get(root))
  }

  private def jobsOf(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try { body; org.apache.spark.ListenerDrain.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }
}
