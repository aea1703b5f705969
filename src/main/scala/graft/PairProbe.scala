package graft
object PairProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()
    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[probe] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s ($n rows)")
    }
    for (d <- args) {
      time(s"$d sh-warm") { graft.ext.DedupOps.hashedShinglesForProbe(spark, d).count() }
      time(s"$d broadcast") { graft.ext.DedupOps.scoredPairsPlan(spark, d, broadcastArrays = true).count() }
      SessionStore.clearAll()
      time(s"$d sh-warm2") { graft.ext.DedupOps.hashedShinglesForProbe(spark, d).count() }
      time(s"$d exchange") { graft.ext.DedupOps.scoredPairsPlan(spark, d, broadcastArrays = false).count() }
      SessionStore.clearAll()
    }
    spark.stop()
  }
}
