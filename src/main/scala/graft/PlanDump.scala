package graft

/** Dev tool: write `.explain("formatted")` output for named queries to
  * files (the optimization rounds' before/after plan evidence —
  * `plans/r16/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val d = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val names = args(3).split(",").toSeq
    java.nio.file.Files.createDirectories(outDir)
    val spark = Sessions.local(logLevel = "ERROR")
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, d)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"${n}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] wrote $n ($suffix)")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $n FAILED: $e")
      }
    }
    spark.stop()
  }
}
