package graft

/** Throwaway dev probe: time named queries N consecutive runs in one
  * JVM (the Bench median-of-3 condition) at an arbitrary SF dir. */
object QProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(",").toSeq
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = Sessions.local()
    names.foreach { n =>
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        Bench.runQuery(n, SparkEntry.queries(n)(spark, dir))
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[qprobe] $n: ${ts.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
