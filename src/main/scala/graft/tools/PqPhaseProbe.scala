package graft.tools

/** Dev probe: phase timing inside sim_pq_topk (VERDICT r12 #1). */
object PqPhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Sessions.local("graft-pqprobe", 32)
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[phase] $label%-24s ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    for (rep <- 1 to 4) {
      println(s"--- rep $rep ---")
      val df = t("build_df") { graft.SparkEntry.queries("sim_pq_topk")(spark, sfDir) }
      t("optimize_plan") { df.queryExecution.executedPlan }
      t("execute") { df.count() }
    }
    spark.stop()
  }
}
