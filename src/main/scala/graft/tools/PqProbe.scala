package graft.tools
object PqProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.engine.Sessions.local("pq", 8)
    spark.sparkContext.setLogLevel("ERROR")
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1")) {
      val brute = graft.operators.Similarity.simTopkBrute(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val pq = graft.operators.Similarity.simPqTopk(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      println(s"PQPROBE $dir recall ${(brute & pq).size}/${brute.size}")
    }
    spark.stop()
  }
}
