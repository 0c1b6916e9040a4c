package graft

import graft.operators.GraphOps
import graft.sources.EdgeList

/** The reference workload as a CLI: enumerate unique triangles of an
  * edge-list file and print them — one parameterized entry point replacing
  * the reference's 11 per-dataset driver classes
  * (`mapreducePredictionTwitter*.java`; print loop at
  * `mapreducePredictionTwitter.java:136-140`). It plans through
  * [[graft.operators.GraphOps.trianglesAuto]], the skew-choosing entry
  * point g01 runs.
  *
  * Usage: `runMain graft.TriangleMain <edge-file> [delimiter-regex] [--count-only]`
  */
object TriangleMain {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: TriangleMain <edge-file> [delimiter-regex] [--count-only]")
      sys.exit(2)
    }
    val path = args(0)
    val delim = args.drop(1).find(!_.startsWith("--")).getOrElse("\\s+")
    val countOnly = args.contains("--count-only")
    val spark = GraftSession.get(appName = "graft-triangles")
    val tri = GraphOps.trianglesAuto(EdgeList.read(spark, path, delim))
    if (countOnly) println(s"triangles: ${tri.count()}")
    else tri.orderBy("a", "b", "c").collect()
      .foreach(r => println(s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}"))
    spark.stop()
  }
}
