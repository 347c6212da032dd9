package graft.operators

import graft.Local
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types._

/** Recursive-CTE analog: PostgreSQL's `WITH RECURSIVE` with `UNION`,
  * `UNION ALL`, `SEARCH` and `CYCLE` (grammar cypher_gram.y:1335-1443).
  * Spark has no native recursion, so all four run on one driver-side
  * generation engine over DataFrame steps.
  *
  * The seed is generation 0. Generation i+1 is `step` applied to the rows
  * of generation i that recurse, shaped by the variant's accumulation rule:
  *  - derive: how a child row is built from the step's output (identity,
  *    the SEARCH sequence key, or the CYCLE mark and path);
  *  - dedup: `UNION` keeps only new rows (`distinct` plus a strict
  *    `left_anti` against the accumulated rows, so rows with NULLs never
  *    equal their duplicates, as under SQL equality); the others keep all;
  *  - recurse: which rows feed the next generation (CYCLE: the unmarked
  *    ones; the others: every row).
  * Every generation lands in the result. Recursion ends at a generation
  * with no recursing rows; one that still recurses after `maxIter`
  * generations is an error, never a silent truncation.
  *
  * Two physical modes run the same recurrence, and every semantic step
  * (the step, derive, dedup and the recurse predicate) is a DataFrame
  * operation in both:
  *  - distributed: each generation is localCheckpoint-ed, which cuts the
  *    lineage and gives fresh attribute ids (`step` usually re-joins the
  *    same relation, which Spark would flag as an ambiguous self-join).
  *    The checkpoint is lazy; one job per generation materializes it and
  *    counts its rows and its recursing rows. The accumulated rows are
  *    re-checkpointed every third generation so their plan stays shallow.
  *  - local frontier: a tiny deep recursion is pure scheduling cost (q35
  *    walks a 25-row ring for 25 generations). When [[graft.Local]] admits
  *    the seed (estimate within `Local.RecursiveBytes`, rows within the row
  *    cap), rows live on the driver: each generation is one collect() over
  *    LocalRelations, whose exact stats let the planner broadcast them, and
  *    liveness needs no count job. A generation over the row cap hands its
  *    state to the distributed loop, which continues the same recurrence,
  *    so an unexpectedly growing recursion degrades gracefully.
  * Nothing is cached across invocations.
  */
object Recursive {

  import org.apache.spark.sql.functions._

  /** The accumulation rule of one variant (see the header). */
  private case class Rule(derive: DataFrame => DataFrame, dedup: Boolean,
      recurse: Column = lit(true))

  /** Nullability-widened copy of a schema: a LocalRelation rebuilt from
    * collected rows must accept any row a later generation's step may
    * produce (the distributed path gets the same widening for free from
    * unionByName's nullability merge; flags never change values).
    */
  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType =>
      a.copy(elementType = asNullable(a.elementType), containsNull = true)
    case m: MapType => m.copy(keyType = asNullable(m.keyType),
      valueType = asNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Runs `rule` from `seeded` (the seed with the rule's columns added);
    * the local/distributed choice is made on the caller's `seed`.
    */
  private def generations(seed: DataFrame, seeded: DataFrame,
      step: DataFrame => DataFrame, rule: Rule, maxIter: Int): DataFrame = {
    val names = seeded.columns.toSeq
    def next(front: DataFrame, acc: => DataFrame): DataFrame = {
      val out = rule.derive(step(front)).select(names.map(col): _*)
      if (rule.dedup) out.distinct().join(acc, names, "left_anti") else out
    }
    def converged(live: Boolean): Unit = require(!live,
      s"recursive fixpoint did not converge within $maxIter iterations")

    // acc holds generations 0..iter and front the recursing rows of the last
    def distributed(acc0: DataFrame, front0: DataFrame, iter0: Int,
        live0: Boolean): DataFrame = {
      var (acc, front, iter, live) = (acc0, front0, iter0, live0)
      while (live && iter < maxIter) {
        val gen = next(front, acc).localCheckpoint(false)
        val tally = gen.agg(count(lit(1)), count(when(rule.recurse, 1))).head()
        if (tally.getLong(0) > 0) acc = acc.unionByName(gen)
        front = gen.filter(rule.recurse)
        live = tally.getLong(1) > 0
        iter += 1
        if (iter % 3 == 0) acc = acc.localCheckpoint(false) // materializes on next use
      }
      converged(live)
      acc
    }

    val spark = seed.sparkSession
    val seedRows = if (Local.fits(Local.RecursiveBytes, seed)) Local.capped(seeded) else None
    if (seedRows.isEmpty) {
      val acc = seeded.localCheckpoint()
      return distributed(acc, acc, 0, acc.count() > 0)
    }
    val schema = asNullable(seeded.schema).asInstanceOf[StructType]
    def local(rows: Seq[Row]): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, schema)
    }
    val accRows = scala.collection.mutable.ArrayBuffer[Row](seedRows.get.toIndexedSeq: _*)
    var front: Seq[Row] = accRows.toSeq
    var iter = 0
    while (front.nonEmpty && iter < maxIter) {
      lazy val accDf = local(accRows.toSeq)
      // the recurse predicate rides in the generation's own collect as a
      // last column: the same job, no second plan
      val flagged = next(local(front), accDf).select(col("*"), rule.recurse).collect()
      val rows = flagged.map(r => Row.fromSeq(r.toSeq.init)).toIndexedSeq
      front = rows.indices.filter(i => flagged(i).get(names.size) == true).map(rows)
      iter += 1
      if (!Local.holds(spark, rows.length)) { // resume on the cluster, same recurrence
        val gen = local(rows).localCheckpoint(false)
        return distributed(accDf.unionByName(gen), gen.filter(rule.recurse), iter, front.nonEmpty)
      }
      accRows ++= rows
    }
    converged(front.nonEmpty)
    local(accRows.toSeq)
  }

  def fixpoint(seed: DataFrame, step: DataFrame => DataFrame,
      maxIter: Int = 100): DataFrame =
    generations(seed, seed.distinct(), step, Rule(identity, dedup = true), maxIter)

  /** `WITH RECURSIVE … UNION ALL`: every generation lands in the result
    * as-is and recursion ends only when a step produces no rows (PG
    * semantics — a cyclic step diverges there too, bounded by maxIter).
    */
  def fixpointAll(seed: DataFrame, step: DataFrame => DataFrame,
      maxIter: Int = 100): DataFrame =
    generations(seed, seed, step, Rule(identity, dedup = false), maxIter)

  /** `SEARCH {BREADTH|DEPTH} FIRST BY keyCols SET seqCol`
    * (cypher_gram.y:1394-1417): PG's ordering-column sugar over a recursive
    * CTE. BREADTH FIRST emits `seqCol = struct(depth, keyCols…)`; DEPTH
    * FIRST emits `seqCol = array<struct(keyCols…)>` (the root-to-row path)
    * — ordering by seqCol then reproduces PG's breadth-/depth-first
    * presentation order. UNION ALL accumulation (PG requires it for
    * SEARCH); `step` receives the frontier INCLUDING seqCol and must carry
    * it through to each child row (a join naturally does), the combinator
    * re-derives the child's own seq from it.
    */
  def fixpointSearch(seed: DataFrame, step: DataFrame => DataFrame,
      keyCols: Seq[String], breadthFirst: Boolean, seqCol: String = "seq",
      maxIter: Int = 100): DataFrame = {
    def keyStruct = struct(keyCols.map(col): _*)
    val seeded = if (breadthFirst)
      seed.withColumn(seqCol, struct(lit(0L).as("depth"), keyStruct.as("key")))
    else seed.withColumn(seqCol, array(keyStruct))
    def reseq(children: DataFrame): DataFrame =
      if (breadthFirst) children.withColumn(seqCol,
        struct((col(seqCol).getField("depth") + 1).as("depth"), keyStruct.as("key")))
      else children.withColumn(seqCol, concat(col(seqCol), array(keyStruct)))
    generations(seed, seeded, step, Rule(reseq, dedup = false), maxIter)
  }

  /** `CYCLE keyCols SET markCol [TO v DEFAULT dv] USING pathCol`
    * (cypher_gram.y:1419-1443): cycle detection sugar — each row carries
    * the root-to-row path of its key struct in `pathCol`; a child whose
    * key already appears in its parent's path gets `markCol = true` and is
    * NOT expanded further (PG semantics), which also guarantees
    * termination on cyclic graphs. UNION ALL accumulation: a generation of
    * only marked rows still lands in the result and ends the recursion.
    */
  def fixpointCycle(seed: DataFrame, step: DataFrame => DataFrame,
      keyCols: Seq[String], markCol: String = "is_cycle",
      pathCol: String = "path", maxIter: Int = 100): DataFrame = {
    def keyStruct = struct(keyCols.map(col): _*)
    val seeded = seed
      .withColumn(markCol, lit(false))
      .withColumn(pathCol, array(keyStruct))
    def mark(children: DataFrame): DataFrame = children
      .withColumn(markCol, array_contains(col(pathCol), keyStruct))
      .withColumn(pathCol, concat(col(pathCol), array(keyStruct)))
    generations(seed, seeded, step,
      Rule(mark, dedup = false, recurse = !col(markCol)), maxIter)
  }
}
