package graft.tools

import org.apache.spark.sql.functions._

/** Build the scaling-ledger corpus —
  * `runMain graft.tools.MakeScaled <srcSfDir> <outDir> [copies]`.
  *
  * Replicates `documents.parquet` `copies`× with disjoint doc_id ranges
  * (id + k·10⁹; text unchanged) and writes it as ONE parquet file, so the
  * scan still plans as a single task under the default 128 MB split —
  * exactly the shape FanOut.cpuBound exists for, at a size where per-row
  * work dominates the per-query fixed cost that makes sf0.1 core-count
  * insensitive (r15 PERF: every 8c/32c ratio ≈ 1 at sf0.1). SCALING.md
  * records the 8-vs-32-core bench over this corpus.
  */
object MakeScaled {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse("/tmp/graft_sfx10")
    val copies = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.get(master = "local[8]",
      shufflePartitions = 8, appName = "graft-make-scaled")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val scaled = (0 until copies).map(k =>
      docs.withColumn("doc_id", col("doc_id") + lit(k.toLong * 1000000000L)))
      .reduce(_ unionByName _)
    scaled.repartition(1).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    println(s"wrote ${copies}x documents to $out")
    spark.stop()
  }
}
