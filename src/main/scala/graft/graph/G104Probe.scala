package graft.graph

/** Dev probe: time the g104/g105 base warms' bodies (MIN-of-3 with
  * the bench's targeted clears) outside the full bench.
  * Usage: runMain graft.graph.G104Probe [sfDir]
  */
object G104Probe {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val s = graft.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    def t(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    GraphOps.warm(s, d) // cache_graph_edges' builds incl. baseEdges
    for (r <- 1 to 3) {
      graft.SessionStore.drop("graph/incr_cc_base")
      val cc = t { GraphOps.incrementalComponents(s, d).count() }
      graft.SessionStore.drop("graph/incr_pr_base")
      val pr = t { GraphOps.warmStartPagerank(s, d).count() }
      println(f"[g104probe] run$r g104_cc $cc%.3f s  g105_pr $pr%.3f s")
    }
    s.stop()
  }
}
