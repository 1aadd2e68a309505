package graft.tools

import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for selected SparkEntry queries
  * to files (the r13+ optimization-evidence artifact under plans/).
  *
  * usage: run-graft.sh graft.tools.PlanDump <outDir> <suffix> [q214,q215,...]
  *   env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *        SPARK_GRAFT_CPUS   (default 32).
  * Writes <outDir>/<query>_<suffix>.txt per query. Queries that stage
  * side artifacts (store builds) execute exactly as in the bench, so the
  * dumped plan is the plan the timed run sees. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names: Seq[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Session.start(s"local[$cpus]", cpus.toInt)
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      graft.SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[plandump] no such query: $name")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
            println(s"[plandump] wrote $name")
          } catch { case e: Throwable =>
            System.err.println(s"[plandump] $name failed: ${e.getMessage}")
          }
      }
    }
    graft.core.Caches.clearAll(spark)
    spark.stop()
    graft.core.Scratch.cleanup()
  }
}
