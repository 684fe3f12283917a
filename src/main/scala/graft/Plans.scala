package graft

/** Plan auditor: prints the formatted physical plan of each (or one)
  * registered query so scan pruning (ReadSchema), predicate pushdown
  * (PushedFilters), join strategies (BroadcastHashJoin vs SortMerge) and
  * WholeStageCodegen spans can be reviewed.
  *
  * Usage: runMain graft.Plans [nameRegex] [sfDir]
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val pattern = args.headOption.getOrElse(".*")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Sessions.benchBuilder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Registry.all.filter(_.name.matches(pattern)).foreach { q =>
      println(s"\n========== ${q.name} (${q.surveyOps.mkString(",")}) ==========")
      try q.fn(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
