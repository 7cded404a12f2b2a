package perfbench

/** Writes the batch workloads' tables: `graft.tools.GenData` at
  * multiple 1 (sf0.1 row counts), generated once per build.
  *
  * {{{ DataPrep <outDir> <cores> }}} */
object DataPrep {
  def main(args: Array[String]): Unit = {
    val spark = Runner.session(args(1).toInt, s"${args(0)}.work")
    try graft.tools.GenData.gen(spark, args(0), 1)
    finally spark.stop()
  }
}
