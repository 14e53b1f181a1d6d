package graft

/** Dump `explain("formatted")` for named queries to files — the
  * optimization rounds' evidence trail (`plans/rNN/<query>_<suffix>.txt`).
  * Not part of the driver contract; measurement tooling only.
  *
  * Usage: `sbt "runMain graft.PlanDump <outDir> <suffix> q69_pagerank,q16_minhash_lsh"`
  *
  * Note: building a composite query's DataFrame executes its eager staging
  * jobs (localCheckpoint leaves), so a dump run does real (bounded) work;
  * the dumped plan is the plan of the RETURNED frame, exactly what the
  * bench's noop write executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: PlanDump <outDir> <suffix> <q1,q2,...>")
    val Array(outDir, suffix, names) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(defaultCpus = "32")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty)
    val byName = SparkEntry.queries
    wanted.foreach { name =>
      byName.get(name) match {
        case Some(fn) =>
          try {
            // staged intermediates' true plans land in a per-query subdir
            // (a staged leaf hides its upstream plan from the final explain)
            spark.conf.set("spark.graft.stageExplainDir",
              java.nio.file.Paths.get(outDir, s"${name}_${suffix}_stages").toString)
            val df = fn(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
            println(s"[plandump] wrote $outDir/${name}_$suffix.txt (${plan.count(_ == '\n')} lines)")
          } catch {
            case e: Throwable => System.err.println(s"[plandump] $name failed: $e")
          } finally spark.conf.unset("spark.graft.stageExplainDir")
        case None => System.err.println(s"[plandump] unknown query: $name")
      }
    }
    spark.stop()
  }
}
