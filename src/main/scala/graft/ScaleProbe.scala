package graft

/** Ad-hoc component profiler for the scale rehearsal: times the dedup
  * warm's constituent frames separately so a super-linear total can be
  * attributed to the right stage. Dev tool, not a driver entry. */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val d = args.lift(0).getOrElse("/tmp/graft-sf1")
    val spark = Sessions.local()
    def time(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[probe] $name: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    time("jaccardPairs (d51 exact join)") {
      graft.ext.DedupOps.jaccardPairs(spark, d).count()
    }
    SessionStore.clearAll()
    time("simhash") { graft.ext.DedupOps.simhash(spark, d).count() }
    SessionStore.clearAll()
    time("minhashLsh (d52)") {
      graft.ext.DedupOps.minhashLsh(spark, d).count()
    }
    spark.stop()
  }
}

/** Exact candidate-volume probe for the s84 band self-join at each
  * given dir — the measured denominator behind SCALE.md's
  * time-per-candidate reading for the kNN-graph tier. */
object CandidateProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.isEmpty)
      Seq("/root/testdata/sf0.1", "/tmp/graft-sf1") else args.toSeq
    val spark = Sessions.local()
    dirs.foreach { d =>
      val c = graft.ext.SimilarityOps.knnGraphCandidates(spark, d)
      println(s"[probe] s84_candidates dir=$d pairs=$c")
    }
    spark.stop()
  }
}
