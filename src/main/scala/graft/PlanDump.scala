package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for SparkEntry queries to files — the plan
  * evidence the round-6 optimization notes commit under plans/r06/.
  *
  *   sbt "runMain graft.PlanDump <outDir> <suffix> [q1,q2,...|all]"
  *
  * Writes <outDir>/<query>_<suffix>.txt. Uses the same session shape as the
  * bench so plan choices (AQE, shuffle partitions) match what is measured.
  * Note: queries that run bounded driver actions during CONSTRUCTION (tfidf
  * meta scalars, kmeans centroid fits, ANN index builds) execute those here;
  * the dumped plan is the final returned DataFrame's.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names =
      if (args.length < 3 || args(2) == "all") Bench.headline
      else args(2).split(",").toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Bench.session(cpus, "graft-plan-dump")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        spark.catalog.clearCache()
      } catch {
        case e: Throwable => System.err.println(s"[plandump] $name failed: $e")
      }
    }
    spark.stop()
  }
}
