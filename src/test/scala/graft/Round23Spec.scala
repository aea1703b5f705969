package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-23 (optimization round 16): pins the internals the round's
  * performance changes touched — the month-clustered upsert write
  * (small-files rule: an upsert must not emit one file per
  * (task, month)), the rehearsal fragmenter's content invariance, and
  * the prStepsTap chain-tap identity (g106's cold candidate IS the
  * reference chain's 4th iterate). The oracle hashes already pin the
  * VALUES of every consumer query; these pin the file-layout and
  * shared-chain mechanics the hashes cannot see. */
class Round23Spec extends AnyFunSuite with SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def freshStore(): (graft.store.PartitionedEmailStore, String) = {
    val docs = graft.query.FixtureCorpus.parsedDocs(spark, d)
      .withColumn("date",
        expr("timestampadd(MONTH, CAST(doc_id % 12 AS INT), date)"))
      .drop("doc_id")
    val root = java.nio.file.Files
      .createTempDirectory("graft-r23-spec").toString
    val store = new graft.store.PartitionedEmailStore(spark, root + "/store")
    store.upsert(docs)
    (store, root)
  }

  test("upsert writes are month-clustered: no month holds more files than the rebalanced task count") {
    val (store, root) = freshStore()
    try {
      val census = store.fileCensus()
      assert(census.nonEmpty)
      // pre-round-16 the write emitted up to #shuffle-partitions files
      // per month (measured: 4 per month under the 4-partition spec
      // session); the rebalanced write packs the whole fixture batch
      // into ~one task, so every month lands in very few files
      census.foreach { case (m, n) =>
        assert(n <= 2, s"month $m fragmented into $n files by one upsert")
      }
      // and a second upsert touching every month keeps it that way
      val docs2 = graft.query.FixtureCorpus.parsedDocs(spark, d)
        .withColumn("date",
          expr("timestampadd(MONTH, CAST(doc_id % 12 AS INT), date)"))
        .drop("doc_id")
        .withColumn("subject", concat(col("subject"), lit(" v2")))
      store.upsert(docs2)
      store.fileCensus().foreach { case (m, n) =>
        assert(n <= 2, s"month $m fragmented into $n files after re-upsert")
      }
    } finally Fs.deleteTree(root)
  }

  test("fragment() is content-invariant and actually fragments (the compaction rehearsal's planted state)") {
    val (store, root) = freshStore()
    try {
      val content = store.read()
        .select(col("dedupe_key"), col("subject"), col("date_month"),
          size(col("mailboxes")).as("n_mailboxes"))
        .collect().map(_.toSeq).toSet
      store.fragment(8)
      val census = store.fileCensus()
      assert(census.values.sum > census.size,
        s"fragment(8) left the store unfragmented: $census")
      val after = store.read()
        .select(col("dedupe_key"), col("subject"), col("date_month"),
          size(col("mailboxes")).as("n_mailboxes"))
        .collect().map(_.toSeq).toSet
      assert(after == content, "fragment changed store content")
    } finally Fs.deleteTree(root)
  }

  test("the persisted DSIR selection artifact serves the same model and manifest the per-call derive computes") {
    SessionStore.drop("dsir-manifest", "bpe-vocab")
    try {
      // model: cached lr collect == from-scratch estimator collect
      val cached = graft.ext.TextOps.dsirModelCached(spark, d)
      val direct = graft.ext.TextOps.dsirModel(spark, d)
      assert(java.util.Arrays.equals(cached, direct))
      // manifest: artifact rows == the inline derive (re-run the exact
      // pre-artifact pipeline here: score with the direct model, then
      // the same wmax/cut/manifest stage)
      val w = graft.ext.TextOps.dsirScoreOf(
          graft.Tables.documents(spark, d), direct)
        .select("doc_id", "lang", "w_micro").localCheckpoint()
      val wmax = w.agg(max("w_micro").as("__wmax"))
      val cut = graft.ext.TextOps.dsirCutFrame(w)
      val inline = graft.ext.TextOps.dsirManifestStage(
          w.crossJoin(broadcast(wmax)).crossJoin(broadcast(cut)),
          col("__wmax"), col("cut_w"), col("cut_uid"))
        .collect().map(_.toSeq).toSet
      val served = graft.ext.TextOps.dsirManifestFrame(spark, d)
        .collect().map(_.toSeq).toSet
      assert(served == inline, "artifact manifest != inline derive")
      // vocabulary artifact == the inline induction input
      val vocabServed = graft.ext.TextOps.bpeVocabCached(spark, d)
        .collect().map(_.toSeq).toSet
      val vocabInline = graft.Tables.documents(spark, d)
        .select(explode(graft.ext.TextOps.tokens(col("text"))).as("w"))
        .groupBy("w").agg(count(lit(1)).as("n"))
        .collect().map(_.toSeq).toSet
      assert(vocabServed == vocabInline, "vocab artifact != inline")
    } finally {
      SessionStore.drop("dsir-manifest", "bpe-vocab")
    }
  }

  test("prStepsTap at k equals a separate k-iteration run (g106's shared-chain identity)") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
      .toDF("src", "dst")
    val ed = e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .select("src", "dst", "deg")
    val verts = e.select(col("src").as("id"))
      .union(e.select(col("dst"))).distinct()
    val init = verts.withColumn("rank", lit(1000000L)).localCheckpoint(true)
    val tele = (_: org.apache.spark.sql.Column) => lit(1000000L * 15 / 100)
    val (ref, tap) =
      graft.graph.GraphOps.prStepsTap(init, ed, 7, tele, 3)
    val direct = graft.graph.GraphOps.prSteps(init, ed, 3, tele)
    val tapped = tap.get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val alone = direct.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(tapped == alone, "tap at 3 != a 3-iteration run")
    // and the full chain still runs to its own budget
    assert(ref.count() == verts.count())
  }
}
