package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.TextOps
import graft.operators.Sketches

/** Round-22: the round-16 additions — the model-tier FOLD + generation
  * turnover (t84/t86), the composed release pipeline (t85), the
  * persisted scored-frame artifact (cache_ppl_scored), and the
  * exactRankStat struct group key. Pins the properties the shared
  * oracles cannot see: fold row-set equality against a from-scratch
  * rebuild (V counts keys), turnover ≡ full rebuild at the MODEL
  * level, artifact-serve ≡ direct-compute for the scored frame,
  * release-set composition against the public per-stage entries, and
  * bracket-group separation for separator-bearing statuses. */
class Round22Spec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // ----------------------- t84: DSIR fold + turnover at model level

  test("t84: the folded DSIR segment equals a rebuild-without-cohort in VALUES and ROW SET, and the turnover model equals the full rebuild") {
    val folded = spark.read
      .parquet(s"${TextOps.dsirCountsFoldedDir(spark, sf)}/counts")
    val rebuilt = TextOps.dsirCountsOf(TextOps.dsirFeaturesOf(
      graft.Tables.documents(spark, sf).filter(col("doc_id") % 10 =!= 7)))
    def set3(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(set3(folded) === set3(rebuilt),
      "signed three-segment sum + zero-row drop must equal the " +
        "post-erasure rebuild's count table exactly")
    // turnover: gen-1 ⊎ re-admitted cohort ≡ the full-corpus model
    val merged = folded
      .unionByName(spark.read
        .parquet(s"${TextOps.dsirCountsRetractDir(spark, sf)}/counts"))
      .groupBy("bucket")
      .agg(sum("rcnt").as("rcnt"), sum("tcnt").as("tcnt"))
    val turnover = TextOps.dsirModelOf(TextOps.dsirLrFromCounts(merged))
    val full = TextOps.dsirModel(spark, sf)
    assert(java.util.Arrays.equals(turnover, full),
      "fold → absorb-after-fold must reproduce the full-corpus model " +
        "cell-for-cell")
    // fixture sanity: the fold is load-bearing (erasure moves the model)
    val foldedModel = TextOps.dsirModelOf(TextOps.dsirLrFromCounts(folded))
    assert(!java.util.Arrays.equals(foldedModel, full),
      "fixture sanity: the folded (post-erasure) generation must " +
        "differ from the full model, or the turnover proves nothing")
  }

  // ------------------------ t86: LM fold + turnover at table level

  test("t86: the folded LM segment equals a rebuild-without-cohort, and the turnover table equals the full-corpus c2 (so c1 and V follow)") {
    val remaining = graft.Tables.documents(spark, sf)
      .filter(col("doc_id") % 10 =!= 7)
    def set3(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val folded = spark.read
      .parquet(s"${TextOps.pplC2FoldedDir(spark, sf)}/c2")
    val c2Rebuilt = TextOps.bigramRowsOf(remaining)
      .filter(col("lang") === "en")
      .groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    assert(set3(folded) === set3(c2Rebuilt),
      "the persisted fold must carry the zero-drop: its row set IS " +
        "what V counts")
    val turnover = folded
      .unionByName(spark.read
        .parquet(s"${TextOps.pplC2RetractDir(spark, sf)}/c2"))
      .groupBy("w1", "w2").agg(sum("c2").as("c2"))
    val (c2Full, _, _) = TextOps.pplRefLm(spark, sf)
    assert(set3(turnover) === set3(c2Full),
      "gen-1 ⊎ re-admitted cohort must equal the full-corpus bigram " +
        "table in values and keys")
  }

  // ------------- cache_ppl_scored: artifact serve ≡ direct compute

  test("cache_ppl_scored: the persisted scored frame is row-identical to the direct scoring pass") {
    def setRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    assert(setRows(TextOps.pplScoredCached(spark, sf)
        .select("doc_id", "lang", "n_bigrams", "avg_nlp_micro"))
      === setRows(TextOps.pplScoreFrame(spark, sf)
        .select("doc_id", "lang", "n_bigrams", "avg_nlp_micro")),
      "t75/t77/t78/e130 serve from the artifact — it must equal the " +
        "pass it replaced, nulls included")
  }

  // --------------------- t85: release composition + census algebra

  test("t85: the census's doc total equals the public stages' AND-composed verdict count, and shares sum to one within rounding") {
    val census = TextOps.releasePipeline(spark, sf).collect()
    assert(census.nonEmpty, "fixture sanity: someone must ship")
    val nsrc = census.length
    val shareSum = census.map(_.getAs[Long]("share_ppm")).sum
    assert(shareSum <= 1000000L && shareSum > 1000000L - nsrc,
      s"ppm shares must sum to 1e6 up to one floor per source, got $shareSum")
    // independent composition count via the PUBLIC per-stage entries
    val keepQ = TextOps.pplFilterCalibrated(spark, sf)
      .filter(col("keep")).select("doc_id")
    val train = TextOps.docSplitsOf(graft.Tables.documents(spark, sf))
      .filter(col("split") === "train").select("doc_id")
    val sampled = TextOps.dsirResample(spark, sf)
      .filter(col("sampled")).select("doc_id")
    val expected = keepQ.join(train, Seq("doc_id"))
      .join(sampled, Seq("doc_id")).count()
    val nDocs = census.map(_.getAs[Long]("n_docs")).sum
    // sources whose released docs are ALL empty after cleaning drop
    // from the census (no words) — on this fixture none are
    assert(nDocs === expected,
      "the composed release set must be exactly the intersection of " +
        "the three public verdicts")
  }

  // ---- t87: the manifest's released set is t85's release, exactly

  test("t87: released count equals the t85 census doc total, and every verdict column is individually consistent with its public stage") {
    val man = TextOps.releaseManifest(spark, sf).collect()
    val released = man.count(_.getAs[Boolean]("released"))
    val censusDocs = TextOps.releasePipeline(spark, sf).collect()
      .map(_.getAs[Long]("n_docs")).sum
    assert(released.toLong === censusDocs,
      "t87's composed flag must select exactly the docs t85 accounts")
    // released ⇔ the conjunction, row by row
    assert(man.forall(r => r.getAs[Boolean]("released") ===
      (r.getAs[Boolean]("keep_q") && r.getAs[String]("split") == "train"
        && r.getAs[Boolean]("sampled"))),
      "released must be the AND of the three verdicts on every row")
    assert(man.exists(_.getAs[Boolean]("released")) &&
      man.exists(!_.getAs[Boolean]("released")),
      "fixture sanity: both verdict populations non-trivial")
  }

  // ------- exactRankStat: struct gkey separates would-be collisions

  test("exactRankStat: statuses that collide under a '#' concat key bracket independently under the struct key") {
    import spark.implicits._
    // under concat(status,'#',qid): ("a#b","c") and ("a","b#c") both
    // key "a#b#c" and the groups silently merge; the struct key must
    // answer each from its own rows
    val rows = Seq.tabulate(50)(i => ("a#b", i.toLong, i.toLong)) ++
      Seq.tabulate(50)(i => ("a", 1000L + i, 100L + i))
    val targets = Seq(("a#b", "c", 1L), ("a", "b#c", 50L))
    val out = Sketches.exactRankStat(
        rows.toDF("status", "cents", "uid"),
        targets.toDF("status", "qid", "rk"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out.size === 2)
    assert(out(("a#b", "c")) === 0L, "rank 1 of the a#b group")
    assert(out(("a", "b#c")) === 1049L, "rank 50 of the a group")
  }

  // ------- e133/e134: the shared turnover accessors equal the rebuild

  test("turnover accessors: dsirModelTurnover equals the full-rebuild model and pplLmTurnover's tables equal pplRefLm's (the e133/e134 sidecars serve the exact artifact)") {
    assert(java.util.Arrays.equals(
        TextOps.dsirModelTurnover(spark, sf), TextOps.dsirModel(spark, sf)),
      "the post-turnover DSIR model must be cell-identical to the " +
        "full rebuild — e133 pins its sidecar from this accessor")
    def set3(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    def set2(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val (m, c1, v) = TextOps.pplLmTurnover(spark, sf)
    val (c2F, c1F, vF) = TextOps.pplRefLm(spark, sf)
    assert(set3(m) === set3(c2F), "turnover c2 ≡ rebuild c2")
    assert(set2(c1) === set2(c1F), "derived c1 ≡ rebuild c1")
    assert(v.head().getLong(0) === vF.head().getLong(0),
      "V over the merged table's keys ≡ rebuild V")
  }

  // shared-store hygiene: drop what this suite built
  test("zz cleanup (not a behavior test)") {
    SessionStore.clearAll()
  }
}
