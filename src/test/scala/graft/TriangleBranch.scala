package graft

/** Which branch a `GraphOps.trianglesAuto` plan took. Both branches read
  * the same checkpointed canonical set (a LogicalRDD scan), so the marker
  * is an attribute only the orientation produces: the wedge's `dt1`, the
  * degree of its first target. */
object TriangleBranch {
  def oriented(df: org.apache.spark.sql.DataFrame): Boolean =
    "\\bdt1#".r.findFirstIn(df.queryExecution.optimizedPlan.toString).isDefined
}
