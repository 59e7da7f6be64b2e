package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit utility: dump the formatted physical plan of selected
  * (or all) registered queries. Usage:
  *
  *   sbt "runMain graft.ExplainDump <sfDir> <outFile> [q1,q2,...]"
  *
  * Used to generate EXPLAIN.md — the per-operator check that filters
  * reach the DSv2 scan, small sides broadcast, and codegen spans stay
  * wide (the builder-prompt's `.explain("formatted")` loop).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outFile = args(1)
    val wanted: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# EXPLAIN — formatted physical plans of headline queries\n\n")
    sb.append("Generated by `graft.ExplainDump` at sf=" + sfDir + ".\n")
    SparkEntry.allQueries.toSeq.sortBy(_._1)
      .filter { case (k, _) => wanted.forall(_.contains(k)) }
      .foreach { case (name, q) =>
        try {
          val df = q.fn(spark, sfDir)
          sb.append(s"\n## $name\n\n```\n")
          sb.append(df.queryExecution.explainString(
            ExplainMode.fromString("formatted")))
          sb.append("```\n")
        } catch {
          case e: Throwable =>
            sb.append(s"\n## $name\n\n(plan unavailable: ${e.getMessage})\n")
        }
      }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      sb.toString)
    println(s"[explain] wrote $outFile")
    spark.stop()
  }
}
