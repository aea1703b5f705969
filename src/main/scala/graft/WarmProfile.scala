package graft

import org.apache.spark.sql.SparkSession

/** Dev main: time the dedup warm's component builds individually
  * (sequentially, unlike the concurrent production warm) to attribute
  * the cache_dedup_frames line item. */
object WarmProfile {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    def t(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[warmprofile] $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    // rough JVM warm
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    t("dedup_warm_total")(graft.ext.DedupOps.warm(spark, d))
    SessionStore.clearAll()
    t("dedup_warm_again")(graft.ext.DedupOps.warm(spark, d))
    SessionStore.clearAll()
    graft.ext.DedupOps.warmProfileLegs(spark, d).foreach { case (n, s) =>
      println(f"[warmprofile] dedup_leg_$n $s%.3f s")
    }
    t("kmeans_warm")(graft.ext.SimilarityOps.warm(spark, d))
    t("graph_warm")(graft.graph.GraphOps.warm(spark, d))
    spark.stop()
  }
}
