package graft.tools

import graft.{LocalSession, SparkEntry}

/** Dev main: print the formatted physical plan of one registered query,
  * from the same session settings the bench runs at `local[nproc]`.
  * Usage: runMain graft.tools.Explain <query_name> [sfDir] */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = LocalSession.build(Runtime.getRuntime.availableProcessors.toString)
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
