package graft

/** Dump `.explain("formatted")` for named registered queries to files
  * — the r14 optimization round's plan-evidence tool (the judge
  * checks plan-shape claims against the committed files in
  * `plans/r14/`).
  *
  * `runMain graft.PlanDump <outDir> <suffix> <q_name...>` writes
  * `<outDir>/<q_name>_<suffix>.txt` per query. Builds its
  * session like Bench (`GraftSession.fromEnv`) so the plans match the
  * benched configuration.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <q_name...>")
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    val (spark, sfDir) = GraftSession.fromEnv("graft-plandump")
    args.drop(2).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"PlanDump: unknown query '$name'"))
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote ${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
