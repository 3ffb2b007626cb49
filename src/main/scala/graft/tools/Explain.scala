package graft.tools


/** Dev tool: dump formatted physical plans for selected queries so plan
  * regressions (lost pushdown, surprise shuffles, missing broadcasts) are
  * visible. Usage: runMain graft.tools.Explain [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "q_employee_join", "q_filter", "q_theta_join",
        "q_family_2hop", "q_survey_rollup", "q_lang_employee", "q_lang_agg")
    names.foreach { n =>
      println(s"\n================ $n ================")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
