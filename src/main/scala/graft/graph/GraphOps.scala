package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionStore
import graft.Tables._
import graft.ingest.EmailIngest
import graft.store.EmailStore

/** Driver-contract graph queries.
  *
  * g92/g93 run on the TPC-H fixtures with full DuckDB oracles (the CC
  * oracle is a recursive transitive-closure CTE — GraphX's component id
  * is the min reachable vertex id, which the closure recomputes
  * exactly). g90/g91 exercise the email graph (threading, typed
  * vertex/edge builders) over a deterministic in-memory corpus — not
  * SQL-expressible, so they carry rows-only checks.
  */
object GraphOps {

  // --------------------------- co-purchase graph over the fixtures

  /** Sparsified co-purchase edges: parts appearing together in one
    * order, both with near-max quantity — sparse enough for an exact
    * SQL closure oracle, dense enough for non-trivial components. */
  // six driver queries (g92–g97) start from the same edge frame; the
  // lineitem self-join + distinct is the expensive part, so cache it
  // per (session, dir) in the SessionStore "graph" family
  /** Materialize the shared edge frame (bench pre-warm line item). */
  def warm(s: SparkSession, d: String): Unit = {
    copurchaseEdges(s, d).count()
    // the g95/g101-shared triangle pipeline (deg + counts): built here
    // so its one-time cost is a separate bench line item, not charged
    // to whichever of the two queries runs first
    val (deg, counts) = trianglesCached(s, d)
    deg.count(); counts.count()
    // the g94/g97-shared PageRank operands (vertex set + degree-joined
    // edges) — same rationale
    prVerts(s, d).count(); prEdgeDeg(s, d).count()
    // the g104/g105-shared BASE-graph edge frame (round-17): built and
    // timed here so each base warm times only its own CC/PR pass
    baseEdges(s, d).count()
    ()
  }

  private def copurchaseEdges(s: SparkSession, d: String): DataFrame =
    SessionStore.frame(s, d, "graph/edges") {
      val hi = lineitem(s, d).filter(col("l_quantity") >= 48)
        .select("l_orderkey", "l_partkey")
      hi.toDF("l_orderkey", "p1")
        .join(hi.toDF("l_orderkey", "p2"), "l_orderkey")
        .filter(col("p1") < col("p2"))
        .select("p1", "p2").distinct()
    }

  private val copurchaseEdgesSql =
    """SELECT DISTINCT a.l_partkey p1, b.l_partkey p2
      |  FROM (SELECT l_orderkey, l_partkey FROM lineitem
      |        WHERE l_quantity >= 48) a
      |  JOIN (SELECT l_orderkey, l_partkey FROM lineitem
      |        WHERE l_quantity >= 48) b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey""".stripMargin

  /** g92: connected components of the co-purchase graph — GraphX
    * (iterative Pregel fixpoint) checked against a recursive
    * transitive-closure oracle. */
  def copurchaseComponents(s: SparkSession, d: String): DataFrame =
    EmailGraph.components(s,
      copurchaseEdges(s, d).toDF("src", "dst"))
      .select(col("id").as("part_id"), col("component"))
      .orderBy("part_id")

  /** g102: the SAME components on the DATAFRAME substrate — the
    * large-star/small-star loop ([[EmailGraph.componentsLargeSmallStar]])
    * over the identical edge frame, sharing g92's oracle. A green row
    * here plus a green g92 is the substrate-parity proof: GraphX Pregel
    * and the pure-DataFrame O(log n) loop compute identical components,
    * so either can serve the CC surface (the DataFrame one is the
    * AQE/codegen-native choice on a shared cluster). */
  def copurchaseComponentsDF(s: SparkSession, d: String): DataFrame =
    EmailGraph.componentsLargeSmallStar(s,
      copurchaseEdges(s, d).toDF("src", "dst"))
      .select(col("id").as("part_id"), col("component"))
      .orderBy("part_id")

  val copurchaseComponentsSql: String =
    s"""WITH RECURSIVE edges AS ($copurchaseEdgesSql),
      |ue AS (SELECT p1 a, p2 b FROM edges UNION SELECT p2, p1 FROM edges),
      |reach(a, b) AS (
      |  SELECT p1, p1 FROM (SELECT p1 FROM edges UNION SELECT p2 FROM edges) t(p1)
      |  UNION
      |  SELECT reach.a, ue.b FROM reach JOIN ue ON reach.b = ue.a)
      |SELECT a AS part_id, min(b) AS component FROM reach
      |GROUP BY a ORDER BY part_id""".stripMargin

  /** g93: degree centrality on the co-purchase graph (DataFrame-land
    * graph query — no GraphX needed for one-hop shapes). */
  def copurchaseDegrees(s: SparkSession, d: String): DataFrame = {
    val e = copurchaseEdges(s, d)
    e.select(col("p1").as("part_id"))
      .union(e.select(col("p2").as("part_id")))
      .groupBy("part_id")
      .agg(count(lit(1)).as("degree"))
      .orderBy(col("degree").desc, col("part_id"))
      .limit(25)
  }

  val copurchaseDegreesSql: String =
    s"""WITH edges AS ($copurchaseEdgesSql)
      |SELECT part_id, count(*) AS degree FROM (
      |  SELECT p1 AS part_id FROM edges
      |  UNION ALL SELECT p2 FROM edges)
      |GROUP BY part_id ORDER BY degree DESC, part_id LIMIT 25""".stripMargin

  // ---------------------------- g104 incremental component maintenance

  /** Co-purchase edges restricted to an order predicate — the
    * base/batch split behind g104 (the shared [[copurchaseEdges]]
    * frame is the unrestricted union). */
  private def copurchaseEdgesWhere(s: SparkSession, d: String,
      pred: org.apache.spark.sql.Column): DataFrame = {
    val hi = lineitem(s, d).filter(col("l_quantity") >= 48)
      .filter(pred).select("l_orderkey", "l_partkey")
    hi.toDF("l_orderkey", "p1")
      .join(hi.toDF("l_orderkey", "p2"), "l_orderkey")
      .filter(col("p1") < col("p2"))
      .select("p1", "p2").distinct()
  }

  /** The BASE-graph edge frame (orders with l_orderkey % 5 != 0),
    * store-cached: g104's base CC and g105's base PR each ran the
    * same lineitem self-join from scratch (round-17: one build instead
    * of two). Warmed — and therefore timed — under the
    * cache_graph_edges line item, whose re-time cycles drop the whole
    * "graph" family; the g104/g105 warms' targeted clears deliberately
    * leave it in place, so their MIN-of-3 times the CC/PR build alone
    * and the edge build's cost stays attributed to cache_graph_edges. */
  private def baseEdges(s: SparkSession, d: String): DataFrame =
    SessionStore.frame(s, d, "graph/base_edges") {
      copurchaseEdgesWhere(s, d, col("l_orderkey") % 5 =!= 0)
    }

  /** The "already deployed" component-label table: CC of the BASE
    * graph (orders with l_orderkey % 5 != 0 — the 4/5 discipline of
    * s81/s88/d58), cached per (session, dir). This is the artifact a
    * deployment maintains; g104's line item times the ABSORB. */
  private def incrCcBase(s: SparkSession, d: String): DataFrame =
    SessionStore.frame(s, d, "graph/incr_cc_base") {
      EmailGraph.componentsLargeSmallStar(s,
        baseEdges(s, d).toDF("src", "dst"))
    }

  /** The g104 absorb: fold a new edge batch into an existing
    * component labeling WITHOUT recomputing over the corpus. New
    * edges are projected into COMPONENT space (each endpoint replaced
    * by its current label; unseen vertices stand for themselves), CC
    * runs on that QUOTIENT graph — whose size is bounded by the batch
    * and the components it touches, never the corpus — and the
    * resulting label→label remap is applied back as one broadcast
    * join over the label table. Labels are min-member-ids throughout,
    * and the min over a merged group of quotient vertices (old
    * labels, i.e. min ids of their components, plus new vertex ids)
    * IS the min id of the merged component — so the absorbed labeling
    * is bit-identical to a from-scratch CC over the union graph,
    * which is exactly what sharing g92's oracle checks. */
  private[graft] def absorbEdgesIntoCc(s: SparkSession,
      baseLabels: DataFrame, batch: DataFrame): DataFrame = {
    val lab = baseLabels.toDF("id", "comp")
    val proj = batch.toDF("a", "b")
      .join(lab.toDF("a", "ca"), Seq("a"), "left")
      .join(lab.toDF("b", "cb"), Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("src"),
        coalesce(col("cb"), col("b")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    // quotient CC, materialized once (used for both the remap and the
    // new-vertex labels; bounded by touched components + batch)
    val merge = EmailGraph.componentsLargeSmallStar(s, proj)
      .localCheckpoint()
    val oldOut = lab
      .join(broadcast(merge.toDF("comp", "newc")), Seq("comp"), "left")
      .select(col("id"), coalesce(col("newc"), col("comp")).as("component"))
    // vertices the base never saw: every one appears in the quotient
    // graph (its projected edge cannot collapse — its own id stands in,
    // and no base label equals a non-base id), so the inner join is
    // total over them
    val newOut = batch.select(col("p1").as("id"))
      .union(batch.select(col("p2")))
      .distinct()
      .join(lab.select("id"), Seq("id"), "left_anti")
      .join(broadcast(merge.toDF("id", "component")), Seq("id"))
    oldOut.unionByName(newOut)
  }

  /** g104: INCREMENTAL connected-components maintenance — the graph
    * twin of the index-absorb tier (s81/s88/m79/d58): a new day of
    * orders adds co-purchase edges, and the deployed component
    * labeling must absorb them at batch cost, not corpus cost. The
    * update work is O(batch + touched components): the quotient-graph
    * CC and the broadcast remap never scan or shuffle the corpus-wide
    * label table beyond one equi-join. Shares g92's oracle — the
    * absorbed labeling must be bit-identical to a from-scratch CC
    * over the full graph (base ∪ batch covers every edge, since an
    * edge pair arising in both cohorts is idempotent under union). */
  def incrementalComponents(s: SparkSession, d: String): DataFrame =
    absorbEdgesIntoCc(s, incrCcBase(s, d),
      copurchaseEdgesWhere(s, d, col("l_orderkey") % 5 === 0))
      .select(col("id").as("part_id"), col("component"))
      .orderBy("part_id")

  // --------------------------------------- g94 fixed-point PageRank

  private val prScale = 1000000L // rank 1.0 == 1e6
  private val prIters = 10

  /** Registry-cached PageRank operands shared by g94 and g97: the
    * distinct vertex set, and the edge frame PRE-JOINED with source
    * out-degree. The pre-join halves the joins inside the iteration
    * (rank × edgeDeg instead of rank × outdeg followed by × edges) —
    * 10 fewer shuffled joins per query, 20 across the pair — and the
    * joined frame is built once per (session, dir) instead of per
    * query. `rank div deg` per edge equals the per-source contribution
    * joined onto each edge, so results are bit-identical. */
  private def prVerts(s: SparkSession, d: String): DataFrame =
    SessionStore.frame(s, d, "graph/prverts") {
      val e = copurchaseEdges(s, d)
      e.select(col("p1").as("id")).union(e.select(col("p2"))).distinct()
    }

  private def prEdgeDeg(s: SparkSession, d: String): DataFrame =
    SessionStore.frame(s, d, "graph/predgedeg") {
      val e = copurchaseEdges(s, d).toDF("src", "dst")
      e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
        .select("src", "dst", "deg")
    }

  /** g94: PageRank over the co-purchase graph in FIXED-POINT integer
    * arithmetic — contributions use integer division by out-degree and
    * the damping step is (85·x) div 100, so every iteration is exact
    * BIGINT math and the ten-step loop is bit-reproducible in the
    * DuckDB oracle (measured: double PageRank lands values exactly on
    * round() tie boundaries, so no float formulation can hash-check).
    * Quantization error ≤ 1e-6·deg per step — far below rank gaps.
    *
    * DataFrame iteration with an eager localCheckpoint per step: the
    * checkpoint breaks lineage so the plan stays constant-size across
    * iterations (and avoids self-join ambiguity) — the standard shape
    * for iterative DataFrame algorithms at scale. GraphX double-typed
    * PageRank remains available as [[EmailGraph.pageRank]]. */
  private def withVolumeShuffle[T](s: SparkSession, rows: Long)(body: => T): T =
    graft.operators.Salting.withVolumeShuffle(s, rows)(body)

  /** The fixed-point PR iteration loop shared by g94/g97/g105/g106:
    * from a (id, rank) frame, `iters` exact-integer steps over the
    * degree-joined edge frame `ed`, per-vertex teleport mass given by
    * `teleport`. Checkpoint every few iterations, not every one: each
    * eager localCheckpoint is a full job (~1s of scheduling at
    * fixture scale); a 5-deep iteration lineage is still a small
    * plan. */
  private[graft] def prSteps(r0: DataFrame, ed: DataFrame, iters: Int,
      teleport: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : DataFrame =
    prStepsTap(r0, ed, iters, teleport, -1)._1

  /** [[prSteps]] that additionally returns the (checkpointed) iterate
    * at step `tapAt` — a shorter run from the same init IS the longer
    * chain's intermediate state, so an eval comparing two budgets from
    * one init (g106's cold-vs-ref) taps the shared chain instead of
    * re-running the first `tapAt` iterations. Checkpointing the tap
    * does not change values, only lineage. */
  private[graft] def prStepsTap(r0: DataFrame, ed: DataFrame, iters: Int,
      teleport: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      tapAt: Int): (DataFrame, Option[DataFrame]) = {
    var r = r0
    var tap: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val contrib = r.join(ed, r("id") === ed("src"))
        .groupBy("dst").agg(sum(expr("rank div deg")).as("s"))
      val next = r.alias("l")
        .join(contrib.alias("co"), col("l.id") === col("co.dst"), "left")
        .select(col("l.id").as("id"),
          (teleport(col("l.id")) +
            expr("(coalesce(s, 0) * 85) div 100")).as("rank"))
      r = if (i % 5 == 0 || i == iters || i == tapAt)
            next.localCheckpoint(true)
          else next
      if (i == tapAt) tap = Some(r)
    }
    (r, tap)
  }

  private def uniformTeleport(
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lit(prScale * 15 / 100)

  def pagerankFixed(s: SparkSession, d: String): DataFrame = {
    // store-cached shared operands; the rename projection on top is
    // free — a second .cache() here held a duplicate copy
    val ed = prEdgeDeg(s, d)
    withVolumeShuffle(s, ed.count()) {
      val verts = prVerts(s, d)
      prSteps(verts.withColumn("rank", lit(prScale)).localCheckpoint(true),
          ed, prIters, uniformTeleport)
        .select(col("id").as("part_id"), col("rank").as("rank_fp"))
        .orderBy("part_id")
    }
  }
  // (the returned plan reads only the final checkpointed RDD, so the
  // restored shuffle setting applies just to the trivial orderBy)

  /** g97: PERSONALIZED PageRank — the teleport mass lands only on a
    * seed set (part_id % 50 == 0) instead of uniformly, ranking every
    * part RELATIVE to the seeds (topic-sensitive ranking / related-item
    * discovery over the co-purchase graph). Same fixed-point integer
    * arithmetic and checkpointed DataFrame loop as g94, so the whole
    * 10-iteration personalized walk is oracle-checked bit-for-bit. */
  def personalizedPagerankFixed(s: SparkSession, d: String): DataFrame = {
    val ed = prEdgeDeg(s, d)
    def teleport(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(id % 50 === 0, lit(prScale * 15 / 100)).otherwise(lit(0L))
    withVolumeShuffle(s, ed.count()) {
      val verts = prVerts(s, d)
      prSteps(verts.withColumn("rank",
            when(col("id") % 50 === 0, lit(prScale)).otherwise(lit(0L)))
          .localCheckpoint(true),
          ed, prIters, teleport)
        .select(col("id").as("part_id"), col("rank").as("pprank_fp"))
        .orderBy("part_id")
    }
  }

  val personalizedPagerankSql: String = {
    val tele = "CASE WHEN v.id % 50 = 0 THEN " + (prScale * 15 / 100) +
      " ELSE 0 END"
    val iters = (1 to prIters).map { k =>
      s"""pp$k AS (
        |  SELECT v.id,
        |    $tele + (coalesce(c.s, 0) * 85) // 100 AS rank
        |  FROM verts v LEFT JOIN (
        |    SELECT e.p2 id, sum(p.rank // d.deg) s
        |    FROM pp${k - 1} p JOIN edges e ON e.p1 = p.id
        |    JOIN outdeg d ON d.src = p.id GROUP BY 1) c ON c.id = v.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($copurchaseEdgesSql),
      |verts AS (SELECT p1 id FROM edges UNION SELECT p2 FROM edges),
      |outdeg AS (SELECT p1 src, count(*) deg FROM edges GROUP BY 1),
      |pp0 AS (SELECT id, CAST(CASE WHEN id % 50 = 0 THEN $prScale ELSE 0 END
      |  AS BIGINT) rank FROM verts),
      |$iters
      |SELECT id AS part_id, CAST(rank AS BIGINT) AS pprank_fp
      |FROM pp$prIters ORDER BY part_id""".stripMargin
  }

  val pagerankFixedSql: String = {
    val iters = (1 to prIters).map { k =>
      s"""pr$k AS (
        |  SELECT v.id,
        |    ${prScale * 15 / 100} + (coalesce(c.s, 0) * 85) // 100 AS rank
        |  FROM verts v LEFT JOIN (
        |    SELECT e.p2 id, sum(p.rank // d.deg) s
        |    FROM pr${k - 1} p JOIN edges e ON e.p1 = p.id
        |    JOIN outdeg d ON d.src = p.id GROUP BY 1) c ON c.id = v.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH edges AS ($copurchaseEdgesSql),
      |verts AS (SELECT p1 id FROM edges UNION SELECT p2 FROM edges),
      |outdeg AS (SELECT p1 src, count(*) deg FROM edges GROUP BY 1),
      |pr0 AS (SELECT id, CAST($prScale AS BIGINT) rank FROM verts),
      |$iters
      |SELECT id AS part_id, CAST(rank AS BIGINT) AS rank_fp
      |FROM pr$prIters ORDER BY part_id""".stripMargin
  }

  // -------------------------- g105/g106 warm-start PageRank maintenance

  private val warmIters = 4 // post-batch iterations from the warm state
  private val refIters = 15 // the "converged" reference for the g106 eval

  /** The "already deployed" rank table: g94's fixed-point PR over the
    * BASE graph (orders with l_orderkey % 5 != 0 — g104's split),
    * cached per (session, dir). This is the rank artifact a
    * deployment maintains; g105's line item times the warm-start
    * ABSORB over the updated graph. */
  private def incrPrBase(s: SparkSession, d: String): DataFrame =
    SessionStore.frame(s, d, "graph/incr_pr_base") {
      val e = baseEdges(s, d).toDF("src", "dst")
      val ed = e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
        .select("src", "dst", "deg")
      val verts = e.select(col("src").as("id"))
        .union(e.select(col("dst"))).distinct()
      prSteps(verts.withColumn("rank", lit(prScale)).localCheckpoint(true),
        ed, prIters, uniformTeleport)
    }

  /** g105: WARM-START PageRank maintenance — the g104/s81 absorb
    * contract on the rank tier: a new day of orders perturbs the
    * co-purchase graph, and the deployed ranks must absorb it without
    * paying a from-scratch run. The update initializes from the BASE
    * graph's converged ranks (new vertices start at the uniform mass)
    * and runs `warmIters` = 4 exact-integer iterations over the FULL
    * degree-joined edge frame — under half g94's schedule, because
    * the warm state is already near the new fixed point everywhere
    * the batch didn't touch. g106 MEASURES that claim rather than
    * assuming it: on the fixture, warm reaches the exact integer
    * fixed point at budget 4 (L1 = 0 vs a 15-iteration reference)
    * while cold-from-uniform is still 73,951 micro-units off — and
    * warm dominates at EVERY budget (36.7M vs 250M at 1, 3.8M vs
    * 29.2M at 2, 0.35M vs 3.0M at 3). The iteration schedule is
    * deterministic (base-10 → warm-4), so the DuckDB oracle replays
    * both phases bit-for-bit. At scale: the base artifact is
    * maintained, never recomputed; per-batch cost is warmIters ×
    * (one edge join + one label join), the same plan shape g94's
    * exponent already measured at 0.10–0.16/decade. */
  def warmStartPagerank(s: SparkSession, d: String): DataFrame = {
    val ed = prEdgeDeg(s, d)
    withVolumeShuffle(s, ed.count()) {
      warmRanks(s, d, ed)
        .select(col("id").as("part_id"), col("rank").as("rank_fp"))
        .orderBy("part_id")
    }
  }

  private def warmRanks(s: SparkSession, d: String,
      ed: DataFrame): DataFrame = {
    val base = incrPrBase(s, d).toDF("id", "base_rank")
    val init = prVerts(s, d).join(base, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("base_rank"), lit(prScale)).as("rank"))
      .localCheckpoint(true)
    prSteps(init, ed, warmIters, uniformTeleport)
  }

  /** g106: the warm-start EVAL — does the warm state actually buy
    * convergence, or is warmIters-from-warm no better than the same
    * budget from uniform?
    * Both candidates run the IDENTICAL post-batch budget (warmIters
    * iterations over the full graph); each is scored by its exact
    * integer L1 distance to a deeper reference run (refIters = 15
    * from uniform — the "converged" stand-in at this damping). One
    * row per strategy; the design claim holds iff warm's distance is
    * the smaller, measured on the same corpus the operator ships
    * against (the s89→s91 discipline: evals justify designs with
    * numbers, and a regression ships loudly). */
  def warmStartGain(s: SparkSession, d: String): DataFrame = {
    val ed = prEdgeDeg(s, d)
    withVolumeShuffle(s, ed.count()) {
      val verts = prVerts(s, d)
      val uni = verts.withColumn("rank", lit(prScale)).localCheckpoint(true)
      // cold (warmIters from uniform) IS the reference chain's
      // warmIters-th iterate — tap it instead of paying those
      // iterations twice (round-16: 4 of 23 iterations removed,
      // identical integer arithmetic either way)
      val (ref0, coldTap) =
        prStepsTap(uni, ed, refIters, uniformTeleport, warmIters)
      val ref = ref0.toDF("id", "ref")
      val cold = coldTap.get.toDF("id", "cold")
      val warm = warmRanks(s, d, ed).toDF("id", "warm")
      val a = ref.join(cold, "id").join(warm, "id")
        .agg(sum(abs(col("cold") - col("ref"))).as("cold_l1"),
          sum(abs(col("warm") - col("ref"))).as("warm_l1"))
        .localCheckpoint(true)
      a.select(lit("cold").as("strategy"), col("cold_l1").as("l1_u"))
        .unionByName(
          a.select(lit("warm").as("strategy"), col("warm_l1").as("l1_u")))
        .orderBy("strategy")
    }
  }

  /** Generated iteration CTEs for the oracle replays (the
    * pagerankFixedSql block parameterized by CTE names). */
  private def prIterSqlChain(prefix: String, from: Int, to: Int,
      vertsN: String, edgesN: String, outdegN: String): String =
    (from to to).map { k =>
      val prev = if (k == from) s"${prefix}0" else s"$prefix${k - 1}"
      s"""$prefix$k AS (
        |  SELECT v.id,
        |    ${prScale * 15 / 100} + (coalesce(c.s, 0) * 85) // 100 AS rank
        |  FROM $vertsN v LEFT JOIN (
        |    SELECT e.p2 id, sum(p.rank // d.deg) s
        |    FROM $prev p JOIN $edgesN e ON e.p1 = p.id
        |    JOIN $outdegN d ON d.src = p.id GROUP BY 1) c ON c.id = v.id)"""
        .stripMargin
    }.mkString(",\n")

  private val baseEdgesSql =
    """SELECT DISTINCT a.l_partkey p1, b.l_partkey p2
      |  FROM (SELECT l_orderkey, l_partkey FROM lineitem
      |        WHERE l_quantity >= 48 AND l_orderkey % 5 <> 0) a
      |  JOIN (SELECT l_orderkey, l_partkey FROM lineitem
      |        WHERE l_quantity >= 48 AND l_orderkey % 5 <> 0) b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"""
      .stripMargin

  /** Shared oracle prefix: full + base graphs, the base-10 run, and
    * the warmIters-iteration warm run from the coalesced init. */
  private lazy val warmSqlPrefix: String =
    s"""WITH edges AS ($copurchaseEdgesSql),
      |verts AS (SELECT p1 id FROM edges UNION SELECT p2 FROM edges),
      |outdeg AS (SELECT p1 src, count(*) deg FROM edges GROUP BY 1),
      |bedges AS ($baseEdgesSql),
      |bverts AS (SELECT p1 id FROM bedges UNION SELECT p2 FROM bedges),
      |boutdeg AS (SELECT p1 src, count(*) deg FROM bedges GROUP BY 1),
      |bp0 AS (SELECT id, CAST($prScale AS BIGINT) rank FROM bverts),
      |${prIterSqlChain("bp", 1, prIters, "bverts", "bedges", "boutdeg")},
      |wp0 AS (
      |  SELECT v.id, CAST(coalesce(b.rank, $prScale) AS BIGINT) rank
      |  FROM verts v LEFT JOIN bp$prIters b ON b.id = v.id),
      |${prIterSqlChain("wp", 1, warmIters, "verts", "edges", "outdeg")}"""
      .stripMargin

  lazy val warmStartPagerankSql: String =
    s"""$warmSqlPrefix
      |SELECT id AS part_id, CAST(rank AS BIGINT) AS rank_fp
      |FROM wp$warmIters ORDER BY part_id""".stripMargin

  lazy val warmStartGainSql: String =
    s"""$warmSqlPrefix,
      |rp0 AS (SELECT id, CAST($prScale AS BIGINT) rank FROM verts),
      |${prIterSqlChain("rp", 1, refIters, "verts", "edges", "outdeg")},
      |cp0 AS (SELECT id, CAST($prScale AS BIGINT) rank FROM verts),
      |${prIterSqlChain("cp", 1, warmIters, "verts", "edges", "outdeg")},
      |l1 AS (
      |  SELECT CAST(sum(abs(c.rank - r.rank)) AS BIGINT) AS cold_l1,
      |    CAST(sum(abs(w.rank - r.rank)) AS BIGINT) AS warm_l1
      |  FROM rp$refIters r
      |  JOIN cp$warmIters c ON c.id = r.id
      |  JOIN wp$warmIters w ON w.id = r.id)
      |SELECT 'cold' AS strategy, cold_l1 AS l1_u FROM l1
      |UNION ALL SELECT 'warm', warm_l1 FROM l1
      |ORDER BY strategy""".stripMargin

  // ------------------------------------ email graph demo corpus (g90/g91)

  /** Deterministic in-memory RFC-822 corpus with reply threads — goes
    * through the REAL parser + merge (integration, not fixture rows):
    * 3 threads of depth 4/3/2 plus 3 standalone messages, some linked
    * only via References. */
  def demoStore(s: SparkSession): DataFrame = {
    import s.implicits._
    def msg(id: Int, replyTo: Option[Int], refs: Seq[Int], user: String): String = {
      val headers = Seq(
        s"Message-ID: <m$id@corp>",
        s"Date: ${1 + id % 27} May 2001 0${id % 10}:15:00 +0000",
        s"From: $user@corp.com",
        "To: team@corp.com",
        s"Subject: ${if (replyTo.isDefined) "Re: " else ""}topic ${id / 10}") ++
        replyTo.map(r => s"In-Reply-To: <m$r@corp>").toSeq ++
        (if (refs.nonEmpty) Seq(s"References: ${refs.map(r => s"<m$r@corp>").mkString(" ")}")
         else Seq.empty)
      (headers ++ Seq("", s"body of message $id")).mkString("\r\n")
    }
    // thread 1: 10 <- 11 <- 12 <- 13 ; thread 2: 20 <- 21, 22 (refs-only)
    // thread 3: 30 <- 31 ; standalone: 40, 41, 42
    val raw: Seq[(Int, String)] = Seq(
      10 -> msg(10, None, Nil, "alice"),
      11 -> msg(11, Some(10), Seq(10), "bob"),
      12 -> msg(12, Some(11), Seq(10, 11), "carol"),
      13 -> msg(13, Some(12), Seq(10, 11, 12), "alice"),
      20 -> msg(20, None, Nil, "dave"),
      21 -> msg(21, Some(20), Seq(20), "erin"),
      22 -> msg(22, None, Seq(20), "frank"),
      30 -> msg(30, None, Nil, "gina"),
      31 -> msg(31, Some(30), Seq(30), "hank"),
      40 -> msg(40, None, Nil, "alice"),
      41 -> msg(41, None, Nil, "bob"),
      42 -> msg(42, None, Nil, "carol"))
    val parsed = raw.map { case (id, text) =>
      val doc = graft.codec.Rfc822Parser.parse(
        text.getBytes("UTF-8"), s"user${id % 5}", "inbox", s"${id}_")
      (s"mem://$id", doc)
    }
    val docs = s.createDataset(parsed).toDF("path", "doc")
      .select(col("path"), col("doc.*"))
    EmailStore.mergeBatch(docs)
  }

  /** g90: email threading — reply-edge connected components assign
    * thread_id. Over the fixture-derived corpus the reply chains
    * partition messages exactly by doc_id decade, so the GraphX CC
    * output is oracle-checked: thread root = min dedupe_key in the
    * component = the decade's smallest doc_id (same digit count within
    * a decade → lexicographic min == numeric min). */
  def emailThreads(s: SparkSession, d: String): DataFrame =
    emailThreadAssignment(s, d).orderBy("dedupe_key")

  /** The (dedupe_key, thread_id) assignment cached per (session, dir)
    * — ONE GraphX CC run shared by g90 (the listing) and g107 (the
    * per-thread statistics), the cache_semantic_cc discipline (g103 +
    * d62 share one CC run the same way); timed as the
    * cache_email_threads warm line item. */
  private[graft] def emailThreadAssignment(s: SparkSession, d: String)
      : DataFrame =
    SessionStore.frame(s, d, "graph/email_threads") {
      EmailGraph.assignThreadIds(s, graft.query.FixtureCorpus.store(s, d))
        .select(col("dedupe_key"), col("thread_id"))
    }

  val emailThreadsSql: String =
    s"""${graft.query.FixtureCorpus.sqlPrelude}
      |SELECT dedupe_key,
      |  '<d' || min(doc_id) OVER (PARTITION BY doc_id // 10) || '@corp>'
      |    AS thread_id
      |FROM m ORDER BY dedupe_key""".stripMargin

  /** g107: per-THREAD statistics — the reference's planned thread
    * graph (`thread_id`, ingest_enron.py:138; relationship agent,
    * README.md:88) consumed the way a mail-analytics user actually
    * reads it: g90's GraphX reply-edge components joined back to the
    * message table and aggregated per thread — size, distinct
    * participants, exact time span in epoch seconds (UTC-pinned
    * integer arithmetic), and the root message's subject via
    * `min_by(subject, dedupe_key)` (the component label IS the min
    * key, so the argmin is the thread root by construction).
    *
    * The graph→relational composition is the point: thread labels are
    * one CC output joined on the store's unique key, then a single
    * hash aggregation — at scale the join shuffles on dedupe_key once
    * and the aggregate is map-side combined. Oracle: reply chains
    * partition the fixture corpus exactly by doc_id decade (the g90
    * contract), so every statistic is re-derived from the synthesis
    * rules without running a graph engine. */
  def threadStats(s: SparkSession, d: String): DataFrame = {
    val st = graft.query.FixtureCorpus.store(s, d)
    val threads = emailThreadAssignment(s, d)
    st.select(col("dedupe_key"), col("from"), col("subject"), col("date"))
      .join(threads, Seq("dedupe_key"))
      .groupBy("thread_id")
      .agg(count(lit(1)).as("n_messages"),
        count_distinct(col("from")).as("n_participants"),
        (max(col("date").cast("long")) - min(col("date").cast("long")))
          .as("span_secs"),
        expr("min_by(subject, dedupe_key)").as("root_subject"))
      .orderBy("thread_id")
  }

  val threadStatsSql: String =
    s"""${graft.query.FixtureCorpus.sqlPrelude}
      |SELECT '<d' || min(doc_id) || '@corp>' AS thread_id,
      |  count(*)::BIGINT AS n_messages,
      |  count(DISTINCT sender)::BIGINT AS n_participants,
      |  (epoch(max(dt)) - epoch(min(dt)))::BIGINT AS span_secs,
      |  min_by(subject, dedupe_key) AS root_subject
      |FROM m GROUP BY doc_id // 10
      |ORDER BY thread_id""".stripMargin

  /** g91: typed vertex/edge census of the email graph — counts per
    * vertex/edge kind, each SQL-derivable from the synthesis rules. */
  def emailGraphCensus(s: SparkSession, d: String): DataFrame = {
    val store = graft.query.FixtureCorpus.store(s, d)
    val v = EmailGraph.vertices(store)
      .groupBy("kind").agg(count(lit(1)).as("n"))
      .withColumn("element", lit("vertex"))
    val e = EmailGraph.edges(store)
      .groupBy("kind").agg(count(lit(1)).as("n"))
      .withColumn("element", lit("edge"))
    v.unionByName(e).select("element", "kind", "n")
      .orderBy("element", "kind")
  }

  // --------------------------------------- g95 triangle counting

  /** g95: per-vertex triangle counts on the co-purchase graph via
    * DEGREE-ORDERED orientation — each undirected edge points from its
    * (degree, id)-smaller endpoint to the larger, so every wedge is
    * generated at its lowest-degree apex and the join fan-out is
    * bounded by Σ min-deg² (the arboricity bound of the standard
    * distributed triangle algorithm) instead of Σ deg², which a hub
    * vertex would otherwise blow up. Three equi-joins on integers —
    * DuckDB repeats them exactly, so the counts hash-check. */
  def triangleCounts(s: SparkSession, d: String): DataFrame =
    trianglesCached(s, d)._2

  /** Store-cached triangle pipeline outputs — g95 serves the counts
    * directly and g101 derives coefficients from (deg, counts), so the
    * degree aggregate, orientation, and wedge-closing joins (the
    * expensive part of both queries) run once per (session, dir). */
  private def trianglesCached(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    lazy val built = trianglesWithDeg(copurchaseEdges(s, d))
    (SessionStore.frame(s, d, "graph/tri.deg")(built._1),
      SessionStore.frame(s, d, "graph/tri.counts")(built._2))
  }

  /** Degree-ordered triangle counting over (p1, p2) undirected distinct
    * edges with p1 < p2. */
  private[graft] def trianglesFrom(e: DataFrame): DataFrame =
    trianglesWithDeg(e)._2

  /** The triangle pipeline with its per-vertex degree frame exposed —
    * g101 divides by exactly the degree the orientation used, so the
    * two can never drift (and the union+groupBy runs once). */
  private[graft] def trianglesWithDeg(e: DataFrame): (DataFrame, DataFrame) = {
    val deg = e.select(col("p1").as("v")).union(e.select(col("p2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val withDeg = e
      .join(deg.toDF("p1", "da"), "p1")
      .join(deg.toDF("p2", "db"), "p2")
    val lowFirst = struct(col("da"), col("p1")) < struct(col("db"), col("p2"))
    val o = withDeg.select(
      when(lowFirst, col("p1")).otherwise(col("p2")).as("src"),
      when(lowFirst, col("p2")).otherwise(col("p1")).as("dst"))
    val od = o.join(deg.toDF("dst", "ddeg"), "dst").select("src", "dst", "ddeg")
    val tri = od.toDF("src", "b", "db_")
      .join(od.toDF("src", "c", "dc_"), "src")
      .filter(struct(col("db_"), col("b")) < struct(col("dc_"), col("c")))
      .join(o.toDF("b", "c"), Seq("b", "c")) // closing edge (oriented b→c)
      .select(col("src").as("a"), col("b"), col("c"))
    val counts = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("part_id"))
      .groupBy("part_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("part_id")
    (deg, counts)
  }

  val triangleCountsSql: String =
    s"""WITH edges AS ($copurchaseEdgesSql),
      |deg AS (
      |  SELECT v, count(*) AS deg FROM (
      |    SELECT p1 AS v FROM edges UNION ALL SELECT p2 FROM edges)
      |  GROUP BY 1),
      |o AS (
      |  SELECT CASE WHEN (da.deg, e.p1) < (db.deg, e.p2)
      |              THEN e.p1 ELSE e.p2 END AS src,
      |         CASE WHEN (da.deg, e.p1) < (db.deg, e.p2)
      |              THEN e.p2 ELSE e.p1 END AS dst
      |  FROM edges e JOIN deg da ON da.v = e.p1 JOIN deg db ON db.v = e.p2),
      |od AS (SELECT o.src, o.dst, dd.deg AS ddeg
      |       FROM o JOIN deg dd ON dd.v = o.dst),
      |tri AS (
      |  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
      |  FROM od w1 JOIN od w2 ON w1.src = w2.src
      |    AND (w1.ddeg, w1.dst) < (w2.ddeg, w2.dst)
      |  JOIN o cl ON cl.src = w1.dst AND cl.dst = w2.dst)
      |SELECT part_id, count(*) AS n_triangles FROM (
      |  SELECT a AS part_id FROM tri
      |  UNION ALL SELECT b FROM tri
      |  UNION ALL SELECT c FROM tri)
      |GROUP BY 1 ORDER BY part_id""".stripMargin

  // ------------------------------------------ g96 2-core peeling

  private val coreRounds = 4

  /** g96: bounded 2-core decomposition — `coreRounds` rounds of degree
    * peeling (drop vertices with degree < 2, with their edges, repeat).
    * The iterative-subgraph shape: each round is one aggregation + two
    * semi-joins, lineage kept flat by the fixed unroll. Like the
    * k-means tier, the round count is part of the operator definition,
    * which is what lets DuckDB replay the exact same peels as an
    * unrolled CTE chain and hash-check an iterative graph algorithm.
    * Output: vertices surviving all rounds with their residual degree. */
  def twoCore(s: SparkSession, d: String): DataFrame = {
    // eager localCheckpoint per round (the g94 pattern): each round's
    // TWO semi-joins both consume the previous round's frame, so
    // without lineage truncation the recompute DAG doubles per round —
    // measured 39s at sf0.1 unchecked vs ~1s checkpointed
    var e = copurchaseEdges(s, d).localCheckpoint()
    for (_ <- 1 to coreRounds) {
      val keep = e.select(col("p1").as("v"))
        .union(e.select(col("p2").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 2)
      e = e.join(keep.select(col("v").as("p1")), Seq("p1"), "left_semi")
        .join(keep.select(col("v").as("p2")), Seq("p2"), "left_semi")
        .localCheckpoint()
    }
    e.select(col("p1").as("part_id"))
      .union(e.select(col("p2").as("part_id")))
      .groupBy("part_id").agg(count(lit(1)).as("core_degree"))
      .orderBy("part_id")
  }

  val twoCoreSql: String = {
    def peel(i: Int) =
      s"""deg$i AS (
        |  SELECT v, count(*) AS deg FROM (
        |    SELECT p1 AS v FROM e$i UNION ALL SELECT p2 FROM e$i)
        |  GROUP BY 1),
        |e${i + 1} AS (
        |  SELECT e.p1, e.p2 FROM e$i e
        |  JOIN deg$i a ON a.v = e.p1 AND a.deg >= 2
        |  JOIN deg$i b ON b.v = e.p2 AND b.deg >= 2)""".stripMargin
    s"""WITH e0 AS ($copurchaseEdgesSql),
      |${(0 until coreRounds).map(peel).mkString(",\n")}
      |SELECT part_id, count(*) AS core_degree FROM (
      |  SELECT p1 AS part_id FROM e$coreRounds
      |  UNION ALL SELECT p2 FROM e$coreRounds)
      |GROUP BY 1 ORDER BY part_id""".stripMargin
  }

  // --------------------------------------- g98 label propagation

  private val lpaIters = 3

  /** g98: community detection by synchronous label propagation over the
    * co-purchase graph, made DETERMINISTIC (classic LPA breaks
    * frequency ties randomly; here every vertex adopts its neighbors'
    * most frequent label with ties to the SMALLEST label, so the whole
    * trajectory is engine-reproducible and the 3-iteration loop
    * hash-checks against an unrolled-CTE oracle). Each round is two
    * aggregations — neighbor-label counts, then the per-vertex argmax
    * as `min(struct(-cnt, lbl))` with map-side partials, no window
    * sort — and a `localCheckpoint` bounds the plan DAG per round (the
    * g96 lesson: two self-references per round double the recompute
    * tree otherwise). Scale: each round shuffles edges once on the
    * neighbor key — the Pregel message pattern in DataFrame form. */
  def labelPropagation(s: SparkSession, d: String): DataFrame = {
    val e = copurchaseEdges(s, d)
    val ue = e.select(col("p1").as("v"), col("p2").as("u"))
      .union(e.select(col("p2").as("v"), col("p1").as("u")))
    var labels = ue.select(col("v").as("id")).distinct()
      .withColumn("lbl", col("id"))
    for (_ <- 1 to lpaIters) {
      labels = ue
        .join(labels.toDF("u", "ulbl"), "u")
        .groupBy("v", "ulbl").agg(count(lit(1)).as("cnt"))
        .groupBy("v")
        .agg(min(struct((-col("cnt")).as("nc"), col("ulbl").as("l"))).as("m"))
        .select(col("v").as("id"), col("m.l").as("lbl"))
        .localCheckpoint()
    }
    labels.select(col("id").as("part_id"), col("lbl").as("community"))
      .orderBy("part_id")
  }

  val labelPropagationSql: String = {
    def step(i: Int): String =
      s"""l$i AS (
        |  SELECT v AS id, lbl FROM (
        |    SELECT ue.v, l.lbl, count(*) AS cnt,
        |      row_number() OVER (PARTITION BY ue.v
        |        ORDER BY count(*) DESC, l.lbl) AS rn
        |    FROM ue JOIN l${i - 1} l ON l.id = ue.u
        |    GROUP BY ue.v, l.lbl)
        |  WHERE rn = 1)""".stripMargin
    s"""WITH edges AS ($copurchaseEdgesSql),
      |ue AS (SELECT p1 v, p2 u FROM edges UNION ALL SELECT p2, p1 FROM edges),
      |l0 AS (SELECT DISTINCT v AS id, v AS lbl FROM ue),
      |${(1 to lpaIters).map(step).mkString(",\n")}
      |SELECT id AS part_id, lbl AS community FROM l$lpaIters
      |ORDER BY part_id""".stripMargin
  }

  // --------------------------------------------- g99 BFS hop distance

  private val bfsRounds = 4
  private val bfsInf = 999L // sentinel: unreached

  /** g99: bounded multi-source BFS — hop distance from the seed set
    * (part_id % 97 == 0) over the co-purchase graph, `bfsRounds` rounds
    * of synchronous min-distance propagation. Each round is one
    * edge-shuffle on the neighbor key plus a map-side-partial `min`
    * aggregation (the Pregel message pattern in DataFrame form, same
    * shape as g98), with a `localCheckpoint` bounding the plan per
    * round. Only the reached frontier-so-far joins the edges (unreached
    * vertices carry the sentinel and contribute nothing), so each
    * round's shuffle is bounded by edges incident to reached vertices —
    * the property that keeps early BFS rounds cheap at 100×. */
  def bfsHops(s: SparkSession, d: String): DataFrame = {
    val e = copurchaseEdges(s, d)
    val ue = e.select(col("p1").as("v"), col("p2").as("u"))
      .union(e.select(col("p2").as("v"), col("p1").as("u")))
    var dist = ue.select(col("v")).distinct()
      .withColumn("dist",
        when(col("v") % 97 === 0, 0L).otherwise(lit(bfsInf)))
    for (_ <- 1 to bfsRounds) {
      val prop = ue
        .join(dist.filter(col("dist") < bfsInf).toDF("u", "du"), "u")
        .groupBy("v").agg(min(col("du") + 1L).as("nd"))
      dist = dist.join(prop, Seq("v"), "left")
        .select(col("v"),
          least(col("dist"), coalesce(col("nd"), lit(bfsInf))).as("dist"))
        .localCheckpoint()
    }
    dist.filter(col("dist") < bfsInf)
      .select(col("v").as("part_id"), col("dist").as("hops"))
      .orderBy("part_id")
  }

  val bfsHopsSql: String = {
    def step(i: Int): String =
      s"""p$i AS (
        |  SELECT ue.v, min(d.dist) + 1 AS nd
        |  FROM ue JOIN d${i - 1} d ON d.v = ue.u AND d.dist < $bfsInf
        |  GROUP BY ue.v),
        |d$i AS (
        |  SELECT d.v, least(d.dist, coalesce(p.nd, $bfsInf)) AS dist
        |  FROM d${i - 1} d LEFT JOIN p$i p USING (v))""".stripMargin
    s"""WITH edges AS ($copurchaseEdgesSql),
      |ue AS (SELECT p1 v, p2 u FROM edges UNION ALL SELECT p2, p1 FROM edges),
      |d0 AS (SELECT v, CASE WHEN v % 97 = 0 THEN 0 ELSE $bfsInf END AS dist
      |       FROM (SELECT DISTINCT v FROM ue)),
      |${(1 to bfsRounds).map(step).mkString(",\n")}
      |SELECT v AS part_id, CAST(dist AS BIGINT) AS hops FROM d$bfsRounds
      |WHERE dist < $bfsInf ORDER BY part_id""".stripMargin
  }

  // ------------------------------- g100 edge neighborhood similarity

  /** g100: neighborhood Jaccard similarity of every co-purchase edge —
    * |N(a)∩N(b)| / |N(a)∪N(b)| per linked pair, the link-strength
    * signal behind "customers also bought" ranking (union counts the
    * endpoints themselves; exact integer ppm). Common neighbors are
    * counted by enumerating wedges from the LOWER-degree endpoint of
    * each edge (ties → p1) and probing the adjacency of the other —
    * the g95 degree-orientation trick, which bounds the wedge fan-out
    * by each edge's MIN degree (arboricity-style bound) instead of
    * letting hub vertices explode the join. Two equi-joins + one
    * narrow agg; the degree frame is vertex-sized. */
  def edgeJaccard(s: SparkSession, d: String): DataFrame = {
    val e = copurchaseEdges(s, d)
    val ue = e.select(col("p1").as("v"), col("p2").as("u"))
      .union(e.select(col("p2").as("v"), col("p1").as("u")))
    val deg = ue.groupBy("v").agg(count(lit(1)).as("deg"))
    val oriented = e
      .join(deg.toDF("p1", "deg1"), "p1")
      .join(deg.toDF("p2", "deg2"), "p2")
      .withColumn("src",
        when(col("deg1") <= col("deg2"), col("p1")).otherwise(col("p2")))
    val cn = oriented.select("p1", "p2", "src")
      .join(ue.toDF("src", "w"), "src")
      .join(ue.toDF("bv", "bw"),
        col("bv") === col("p1") + col("p2") - col("src") &&
          col("bw") === col("w"))
      .groupBy("p1", "p2").agg(count(lit(1)).as("common_n"))
    oriented.join(cn, Seq("p1", "p2"), "left")
      .select(col("p1"), col("p2"), col("deg1"), col("deg2"),
        coalesce(col("common_n"), lit(0L)).as("common_n"))
      .withColumn("jaccard_ppm",
        expr("(common_n * 1000000) div (deg1 + deg2 - common_n)"))
      .orderBy("p1", "p2")
  }

  val edgeJaccardSql: String =
    s"""WITH edges AS ($copurchaseEdgesSql),
      |ue AS (SELECT p1 v, p2 u FROM edges UNION ALL SELECT p2, p1 FROM edges),
      |deg AS (SELECT v, count(*) AS deg FROM ue GROUP BY v),
      |o AS (
      |  SELECT e.p1, e.p2, da.deg AS deg1, db.deg AS deg2,
      |    CASE WHEN da.deg <= db.deg THEN e.p1 ELSE e.p2 END AS src
      |  FROM edges e
      |  JOIN deg da ON da.v = e.p1
      |  JOIN deg db ON db.v = e.p2),
      |cn AS (
      |  SELECT o.p1, o.p2, count(*) AS c
      |  FROM o JOIN ue a ON a.v = o.src
      |         JOIN ue b ON b.v = o.p1 + o.p2 - o.src AND b.u = a.u
      |  GROUP BY 1, 2)
      |SELECT o.p1, o.p2, CAST(deg1 AS BIGINT) AS deg1,
      |  CAST(deg2 AS BIGINT) AS deg2,
      |  CAST(coalesce(c, 0) AS BIGINT) AS common_n,
      |  (coalesce(c, 0) * 1000000) // (deg1 + deg2 - coalesce(c, 0))
      |    AS jaccard_ppm
      |FROM o LEFT JOIN cn USING (p1, p2)
      |ORDER BY p1, p2""".stripMargin

  // ------------------------------- g101 local clustering coefficient

  /** g101: per-vertex local clustering coefficient over the
    * co-purchase graph — 2·triangles(v) / (deg(v)·(deg(v)−1)) for every
    * vertex of degree ≥ 2, reported in exact ppm (integer division, no
    * fp). The standard cohesion census (how club-like is each part's
    * neighborhood) on top of g95's degree-oriented triangle pipeline,
    * so the wedge fan-out stays arboricity-bounded; the extra work over
    * g95 is one degree aggregate and a broadcast-sized left join. */
  def clusteringCoefficient(s: SparkSession, d: String): DataFrame = {
    val (degV, counts) = trianglesCached(s, d)
    val deg = degV.toDF("part_id", "deg")
    val tri = counts.toDF("part_id", "n_triangles")
    deg.filter(col("deg") >= 2)
      .join(tri, Seq("part_id"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("coef_ppm",
        expr("(2 * n_triangles * 1000000) div (deg * (deg - 1))"))
      .select("part_id", "deg", "n_triangles", "coef_ppm")
      .orderBy("part_id")
  }

  val clusteringCoefficientSql: String =
    s"""WITH edges AS ($copurchaseEdgesSql),
      |deg AS (
      |  SELECT v, count(*) AS deg FROM (
      |    SELECT p1 AS v FROM edges UNION ALL SELECT p2 FROM edges)
      |  GROUP BY 1),
      |o AS (
      |  SELECT CASE WHEN (da.deg, e.p1) < (db.deg, e.p2)
      |              THEN e.p1 ELSE e.p2 END AS src,
      |         CASE WHEN (da.deg, e.p1) < (db.deg, e.p2)
      |              THEN e.p2 ELSE e.p1 END AS dst
      |  FROM edges e JOIN deg da ON da.v = e.p1 JOIN deg db ON db.v = e.p2),
      |od AS (SELECT o.src, o.dst, dd.deg AS ddeg
      |       FROM o JOIN deg dd ON dd.v = o.dst),
      |tri AS (
      |  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
      |  FROM od w1 JOIN od w2 ON w1.src = w2.src
      |    AND (w1.ddeg, w1.dst) < (w2.ddeg, w2.dst)
      |  JOIN o cl ON cl.src = w1.dst AND cl.dst = w2.dst),
      |tc AS (
      |  SELECT part_id, count(*) AS n_triangles FROM (
      |    SELECT a AS part_id FROM tri
      |    UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri)
      |  GROUP BY 1)
      |SELECT d.v AS part_id, CAST(d.deg AS BIGINT) AS deg,
      |  CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
      |  CAST((2 * coalesce(tc.n_triangles, 0) * 1000000)
      |    // (d.deg * (d.deg - 1)) AS BIGINT) AS coef_ppm
      |FROM deg d LEFT JOIN tc ON tc.part_id = d.v
      |WHERE d.deg >= 2 ORDER BY part_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g107_thread_stats"   -> threadStats _,
    "g90_email_threads"   -> emailThreads _,
    "g91_email_graph"     -> emailGraphCensus _,
    "g92_copurchase_cc"   -> copurchaseComponents _,
    "g93_copurchase_deg"  -> copurchaseDegrees _,
    "g94_pagerank"        -> pagerankFixed _,
    "g95_triangles"       -> triangleCounts _,
    "g96_two_core"        -> twoCore _,
    "g97_personalized_pr" -> personalizedPagerankFixed _,
    "g98_label_prop"      -> labelPropagation _,
    "g99_bfs_hops"        -> bfsHops _,
    "g100_edge_jaccard"   -> edgeJaccard _,
    "g101_clustering_coef" -> clusteringCoefficient _,
    "g102_cc_dataframe"   -> copurchaseComponentsDF _,
    "g103_semantic_cc"    -> semanticComponents _,
    "g104_incremental_cc" -> incrementalComponents _,
    "g105_warm_pagerank"  -> warmStartPagerank _,
    "g106_warmstart_gain" -> warmStartGain _,
  )

  /** g103: SEMANTIC clusters — connected components over the s90 IVF
    * kNN graph's strong edges (cosine ≥ the d61 semantic threshold):
    * the cluster assignment a curation pipeline uses for topic-level
    * dedup, balancing, and diversity sampling, built by COMPOSING
    * three proven tiers — the one cached k-means model (s66 family),
    * the s90 cell-blocked neighbor graph, and g102's large-star/
    * small-star O(log n) DataFrame CC loop. Vectors with no strong
    * neighbor form no row (singletons are the corpus minus the edge
    * set — a broadcast anti-join away when a pipeline needs them).
    * Scale shape: edge volume is bounded by s90's top-3 output
    * (≤ 3n rows pre-filter), and the CC loop is the audited g102
    * substrate (constant-size plans via per-round localCheckpoint). */
  def semanticComponents(s: SparkSession, d: String): DataFrame =
    semanticComponentsCached(s, d).orderBy("vec_id")

  /** The cached (vec_id, component) assignment behind g103 — store-
    * cached per (session, dir) because TWO driver entries ride it
    * (g103's census and d62's representative selection) and the build
    * is the iterative large-star/small-star loop: without the cache,
    * every d62 call would re-run the whole CC job the g103 line item
    * already times. Its one-time cost is the `cache_semantic_cc`
    * bench/rehearsal warm line item; dropping "graph/semantic_cc" is
    * that warm's targeted re-time clear. */
  private[graft] def semanticComponentsCached(s: SparkSession,
      d: String): DataFrame =
    SessionStore.frame(s, d, "graph/semantic_cc") {
      EmailGraph.componentsLargeSmallStar(s,
        graft.ext.SimilarityOps.ivfKnnGraph(s, d)
          .filter(col("cosine") >= graft.ext.DedupOps.semTau)
          .select(col("vec_id").as("src"), col("nbr_id").as("dst")))
        .select(col("id").as("vec_id"), col("component"))
    }

  // LAZY: composed from SimilarityOps' SQL and read by DedupOps'
  // d62 oracle during ITS initializer — a plain val here closes an
  // object-init cycle (GraphOps -> SimilarityOps -> DedupOps ->
  // GraphOps.semanticComponentsSql) that NPEs depending on which
  // object the JVM initializes first (Round14Spec hit it)
  lazy val semanticComponentsSql: String = {
    val g = graft.ext.SimilarityOps.ivfKnnGraphSql
      .replaceAll("ORDER BY vec_id, rank$", "")
    s"""WITH RECURSIVE g0 AS ($g),
      |sede AS (SELECT vec_id AS a, nbr_id AS b FROM g0
      |         WHERE cosine >= ${graft.ext.DedupOps.semTau}),
      |ue AS (SELECT a, b FROM sede UNION SELECT b, a FROM sede),
      |reach(a, b) AS (
      |  SELECT a, a FROM (SELECT DISTINCT a FROM ue) t
      |  UNION
      |  SELECT reach.a, ue.b FROM reach JOIN ue ON reach.b = ue.a)
      |SELECT a AS vec_id, min(b) AS component FROM reach
      |GROUP BY a ORDER BY vec_id""".stripMargin
  }

  val emailGraphCensusSql: String =
    s"""${graft.query.FixtureCorpus.sqlPrelude},
      |addr AS (
      |  SELECT sender AS a FROM m
      |  UNION SELECT 'team@corp.com' FROM m
      |  UNION SELECT second_to FROM m WHERE has_second_to
      |  UNION SELECT cc_addr FROM m WHERE has_cc)
      |SELECT * FROM (
      |  SELECT 'vertex' AS element, 'user' AS kind,
      |    count(DISTINCT usr) AS n FROM m
      |  UNION ALL SELECT 'vertex', 'folder',
      |    count(DISTINCT usr || '/' || folder) FROM m
      |  UNION ALL SELECT 'vertex', 'message', count(*) FROM m
      |  UNION ALL SELECT 'vertex', 'address', count(*) FROM addr
      |  UNION ALL SELECT 'edge', 'contains',
      |    (SELECT count(DISTINCT (usr, folder)) FROM m)
      |      + (SELECT count(*) FROM m)
      |  UNION ALL SELECT 'edge', 'sent', count(*) FROM m
      |  UNION ALL SELECT 'edge', 'received',
      |    (SELECT count(*) FROM m)
      |      + (SELECT count(*) FROM m WHERE has_second_to)
      |      + (SELECT count(*) FROM m WHERE has_cc))
      |ORDER BY element, kind""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "g107_thread_stats"  -> threadStatsSql,
    "g90_email_threads"  -> emailThreadsSql,
    "g91_email_graph"    -> emailGraphCensusSql,
    "g92_copurchase_cc"  -> copurchaseComponentsSql,
    "g93_copurchase_deg" -> copurchaseDegreesSql,
    "g94_pagerank"       -> pagerankFixedSql,
    "g95_triangles"      -> triangleCountsSql,
    "g96_two_core"       -> twoCoreSql,
    "g97_personalized_pr" -> personalizedPagerankSql,
    "g98_label_prop"     -> labelPropagationSql,
    "g99_bfs_hops"       -> bfsHopsSql,
    "g100_edge_jaccard"  -> edgeJaccardSql,
    "g101_clustering_coef" -> clusteringCoefficientSql,
    // identical oracle to g92: substrate parity is the point
    "g102_cc_dataframe"  -> copurchaseComponentsSql,
    "g103_semantic_cc"   -> semanticComponentsSql,
    "g104_incremental_cc" -> copurchaseComponentsSql,
    "g105_warm_pagerank"  -> warmStartPagerankSql,
    "g106_warmstart_gain" -> warmStartGainSql,
  )
}
