package perfbench

import graft.cypher.{Compiler, GraphSession, Parser}
import graft.gvalue.GValue
import org.apache.spark.sql.Row

object Cypher {
  /** A Cypher read through the engine's public pieces, one span per layer:
    * parse, compile to a DataFrame against the session's current snapshot
    * (analysis included), Catalyst optimize, physical plan, execute. */
  def read(t: Tracer, session: GraphSession, query: String,
      params: Map[String, GValue]): Array[Row] = {
    val ast = t.span("parse")(Parser.parse(query))
    val df = t.span("compile")(new Compiler(session.graph.snapshot, params).compileQuery(ast))
    val qe = df.queryExecution
    t.span("optimize")(qe.optimizedPlan)
    t.span("plan")(qe.executedPlan)
    t.span("execute")(df.collect())
  }

  /** A row as plain strings, for comparison outside the JVM. */
  def cells(r: Row): Seq[String] = r.toSeq.map(v => String.valueOf(v))
}
