package graft.tools
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftExtensions.session("local[4]", 4)
    val dir = "/root/testdata/sf0.001"
    for (q <- args) {
      println(s"===== $q =====")
      graft.Queries.all(q)(spark, dir).explain("formatted")
      graft.operators.Caches.releaseAll()
    }
    spark.stop()
  }
}
