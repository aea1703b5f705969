package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Salting, Sketches}

/** Round-18: the round-12 ADVICE closures and the substring
  * detect→gate→apply ladder's final rung (d68). Pins (1) the Bloom
  * semi-join's empty-dim edge (an all-zero filter, never an
  * annihilated result), (2) hot-key candidate sampling that survives
  * a key-CLUSTERED layout (the `limit()` partition-prefix trap), and
  * (3) d68's keep-first / overlap-merge / token-boundary cut
  * semantics plus the window-length composition algebra the d69 eval
  * measures. */
class Round18Spec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // ----------------------------------- k82 Bloom semi-join: empty dim

  test("k82: an empty dim side yields an all-zero filter — every fact group returns with cand_rows = 0, never an empty result") {
    val out = Sketches.bloomSemijoinFor(spark, sf, "ATLANTIS").collect()
    assert(out.nonEmpty, "groups must survive an empty dim side")
    out.foreach { r =>
      assert(r.getAs[Long]("fact_rows") > 0L)
      assert(r.getAs[Long]("cand_rows") === 0L,
        s"empty filter must reject every probe: $r")
      assert(r.getAs[Long]("true_rows") === 0L)
      assert(r.getAs[Long]("set_bits") === 0L)
      assert(r.getAs[Long]("filter_bits") === 64L,
        "ndv=0 must floor the filter at one 64-bit word")
    }
  }

  // ------------------------- hot-key candidate sample vs clustering

  /** 4 range partitions clustered by key: partitions 0–2 hold 30k
    * rows of cold keys (10k distinct), partition 3 holds the hot key
    * ("zzz_hot", 10k rows = 25% share). A partition-prefix limit(4096)
    * reads only partition 0 and cannot see the hot key; the
    * per-partition candidateSample must. */
  private def clusteredToks() = {
    import spark.implicits._
    val rows = (0 until 30000).map(i => f"cold_${i % 10000}%05d") ++
      Seq.fill(10000)("zzz_hot")
    rows.toDF("tok").repartitionByRange(4, col("tok"))
  }

  test("candidateSample: finds the hot key on a key-clustered layout where limit() misses it") {
    val toks = clusteredToks()
    val sampled = Salting.candidateSample(toks, 4096)
      .collect().map(_.getString(0)).toSet
    assert(sampled.contains("zzz_hot"),
      "per-partition sample must cover the hot key's partition")
    // the trap the fix closes: a global limit takes a partition
    // prefix — on this layout it reads only cold keys
    val prefix = toks.limit(4096).distinct()
      .collect().map(_.getString(0)).toSet
    assert(!prefix.contains("zzz_hot"),
      "fixture must actually exhibit the partition-prefix trap")
  }

  test("candidateSample: a SINGLE-partition frame with the hot key clustered at the tail is still covered (the stride closes the prefix trap one level down)") {
    import spark.implicits._
    val rows = (0 until 30000).map(i => f"cold_${i % 10000}%05d") ++
      Seq.fill(10000)("zzz_hot")
    val toks = rows.toDF("tok").coalesce(1)
    val sampled = Salting.candidateSample(toks, 4096)
      .collect().map(_.getString(0)).toSet
    assert(sampled.contains("zzz_hot"),
      "a tail-clustered hot key in one partition must be stride-sampled")
  }

  test("cmHotKeys: detects the clustered 25%-share key end-to-end at a 20% threshold") {
    val hot = Salting.cmHotKeys(clusteredToks(), "tok", sharePpm = 200000L)
      .collect().map(_.getString(0)).toSet
    assert(hot === Set("zzz_hot"),
      s"exactly the planted hot key must be detected, got $hot")
  }

  // ------------------------------- the skew-guard benefit gate

  test("splitPays: map-side-combinable aggregates never split; non-combinable per-key work needs the row floor AND the payload cap") {
    // every Spark aggregate partial-combines map-side (the measured
    // A+B loss regimes) — the gate must never engage for them
    assert(!Salting.splitPays(1L << 40, 8L, mapSideCombinable = true),
      "a combinable aggregate must never split, whatever the skew")
    // non-combinable (window-sort shape) below the row floor
    assert(!Salting.splitPays(100000L, 20L, mapSideCombinable = false),
      "too few hot rows must gate OFF (extra stage never amortizes)")
    // non-combinable above the payload cap
    assert(!Salting.splitPays(3000000L, 300L, mapSideCombinable = false),
      "large elements must gate OFF — the re-exchange re-handles bytes")
    // the win shape: many rows of small elements, no partial mode
    assert(Salting.splitPays(3000000L, 13L, mapSideCombinable = false),
      "millions of small-element rows in a non-combinable op engage")
  }

  test("saltedTopK: identical row set and ranks to the plain window top-k, on a skewed frame") {
    import spark.implicits._
    val df = ((0 until 5000).map(i => ("hot", f"p$i%05d")) ++
      (0 until 300).map(i => (s"c${i % 7}", f"q$i%05d")))
      .toDF("k", "p")
      .repartition(8)
    val ord = Seq(col("p").desc)
    val plain = df.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("k").orderBy(ord: _*)))
      .filter(col("rank") <= 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    val salted = Salting.saltedTopK(df, "k", ord, k = 10, numSalts = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .toSet
    assert(salted === plain,
      "salted per-key top-k must equal the single-sort window plan")
    // groups smaller than k keep all their rows, ranked
    assert(salted.count(_._1 == "c0") ===
      plain.count(_._1 == "c0"))
  }

  test("gatedHotSetAggregate: an unprofitable hot set degrades to the literal plain plan; a profitable one splits and matches it") {
    import spark.implicits._
    val df = (0 until 2000).map(i =>
      (if (i % 2 == 0) "hot" else s"c${i % 7}", s"p$i")).toDF("k", "v")
    val plainOut = df.groupBy(col("k"))
      .agg(sort_array(collect_list(col("v"))).as("vs"))
    def viaGate(minRows: Long) = Salting.gatedHotSetAggregate(
      df, "k", hotEst = Seq(("hot", 1000L)), avgPayloadBytes = 4L,
      mapSideCombinable = false, numSalts = 4,
      partials = Seq(collect_list(col("v")).as("__pl")),
      finals = Seq(sort_array(flatten(collect_list(col("__pl")))).as("vs")),
      plain = Seq(sort_array(collect_list(col("v"))).as("vs")),
      minHotRows = minRows)
    // unprofitable (1000 est rows < the 1M floor): the plain plan
    assert(viaGate(1000000L).queryExecution.optimizedPlan.canonicalized ===
      plainOut.queryExecution.optimizedPlan.canonicalized,
      "gated-off must return the literal single-phase plan")
    // profitable (floor 1 row): split engages, same result set
    val split = viaGate(1L).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val plain = plainOut.collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(split === plain, "engaged split must be result-identical")
  }

  // --------------------------- d68 substring APPLY (planted corpus)

  /** Run d68 over a planted documents table; doc_id →
    * (n_spans_cut, tokens_removed, clean_text). */
  private def applied(
      docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] = {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-d68-spec").toString
    try {
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      graft.ext.DedupOps.substringApply(spark, dir).collect().toSeq
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    } finally Fs.deleteTree(dir)
  }

  private def toks(n: Int, p: String) =
    (1 to n).map(i => s"$p$i").mkString(" ")

  test("d68: keep-first — the earliest doc keeps the shared run; every later doc cuts it") {
    val run = toks(12, "s") // exactly the 12-token gate
    val out = applied(Seq(
      1L -> s"a1 a2 $run a3",
      2L -> s"b1 $run b2 b3",
      3L -> s"$run c1"))
    assert(out(1L) === ((0L, 0L, s"a1 a2 $run a3")),
      "first occurrence must stay intact")
    assert(out(2L) === ((1L, 12L, "b1 b2 b3")))
    assert(out(3L) === ((1L, 12L, "c1")))
  }

  test("d68: runs below the 12-token gate survive the apply") {
    val run = toks(11, "s")
    val out = applied(Seq(1L -> s"a1 $run", 2L -> s"$run b1"))
    assert(out(2L) === ((0L, 0L, s"$run b1")),
      "an 11-token run must not cut (quotation-length matches survive)")
  }

  test("d68: overlapping spans from different earlier docs merge before cutting") {
    val m = (1 to 18).map(i => s"m$i")
    val out = applied(Seq(
      1L -> ("a0 " + m.take(12).mkString(" ")),          // m1..m12
      2L -> ("b0 " + m.drop(6).mkString(" ")),           // m7..m18
      3L -> ("c0 " + m.mkString(" ") + " c1")))          // m1..m18
    // doc3 vs doc1 → span [2,13]; doc3 vs doc2 → span [8,19]; merged [2,19]
    assert(out(3L) === ((1L, 18L, "c0 c1")),
      s"overlap must merge to ONE 18-token span; got ${out(3L)}")
    assert(out(2L)._1 === 0L,
      "doc2's 6-token overlap with doc1 is below the gate")
  }

  test("d68: exactly-adjacent spans merge; gapped spans stay separate") {
    val r = toks(12, "r")
    val q = toks(12, "q")
    val adj = applied(Seq(
      1L -> s"a0 $r", 2L -> s"b0 $q", 3L -> s"c0 $r $q c1"))
    assert(adj(3L) === ((1L, 24L, "c0 c1")),
      s"spans [2,13] and [14,25] are adjacent and must merge; got ${adj(3L)}")
    val gap = applied(Seq(
      1L -> s"a0 $r", 2L -> s"b0 $q", 3L -> s"c0 $r c1 $q c2"))
    assert(gap(3L) === ((2L, 24L, "c0 c1 c2")),
      s"a 1-token gap must keep two spans; got ${gap(3L)}")
  }

  test("d68: a middle document both cuts (vs earlier) and donates (to later) the same span") {
    val run = toks(12, "s")
    val out = applied(Seq(
      1L -> s"a0 $run",
      2L -> s"b0 b1 $run",
      3L -> s"$run c0"))
    // doc2 cuts vs doc1; doc3 cuts vs BOTH (same merged span)
    assert(out(1L)._1 === 0L)
    assert(out(2L) === ((1L, 12L, "b0 b1")))
    assert(out(3L) === ((1L, 12L, "c0")))
  }

  test("d68: clean_text is the token normal form for untouched docs (lowercased, whitespace-collapsed)") {
    val out = applied(Seq(1L -> "  Mixed   CASE\ttokens  "))
    assert(out(1L) === ((0L, 0L, "mixed case tokens")))
  }

  test("d68: a corpus with no gated runs returns every document unchanged") {
    val out = applied(Seq(1L -> "a b c d e f", 2L -> "g h i j k l"))
    assert(out(1L) === ((0L, 0L, "a b c d e f")))
    assert(out(2L) === ((0L, 0L, "g h i j k l")))
  }

  test("d68: a document that is entirely one duplicated run cleans to the empty string") {
    val run = toks(12, "s")
    val out = applied(Seq(1L -> s"a0 $run a1", 2L -> run))
    assert(out(2L) === ((1L, 12L, "")),
      "whole-doc duplicate must cut to empty, not drop the row")
    assert(out(1L)._1 === 0L)
  }

  // -------------- d70 served substring gate (artifact round trip)

  test("d70: serving from the persisted window index is row-identical to d66's rebuild; the artifact builds once and clears clean") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-d70-spec").toString
    try {
      val run = toks(12, "s")
      Seq(1L -> s"a0 $run",                 // base: donates the run
          2L -> "b0 b1 b2 b3 b4 b5",        // base: clean
          4L -> s"c0 $run c1",              // batch: must read dup
          9L -> "d0 d1 d2 d3 d4 d5")        // batch: must read keep
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val served = graft.ext.DedupOps.servedSubstringGate(spark, dir)
        .collect().map(_.toString).toSeq
      val rebuilt = graft.ext.DedupOps.incrSubstringDedup(spark, dir)
        .collect().map(_.toString).toSeq
      assert(served === rebuilt,
        "serve-from-artifact must equal rebuild-from-corpus row for row")
      assert(served.exists(_.contains("dup")) &&
        served.exists(_.contains("keep")),
        "fixture must exercise both verdicts")
      val d1 = graft.ext.DedupOps.windowIndexDir(spark, dir)
      val d2 = graft.ext.DedupOps.windowIndexDir(spark, dir)
      assert(d1 === d2, "the artifact must be reused, not rebuilt")
      SessionStore.drop("windex")
      assert(!new java.io.File(d1).exists(),
        "dropping the windex family must delete the artifact dir")
    } finally {
      // in the finally so a failed assertion cannot leak the artifact
      SessionStore.drop("windex")
      Fs.deleteTree(dir)
    }
  }

  // ------------------- d69 window-length composition algebra

  test("d69: runs at or above the gate are IDENTICAL across w ∈ {5, 8, 12}; sub-gate runs drop as w rises") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-d69-spec").toString
    try {
      val long = toks(13, "L")  // 13-token run: gated at every w ≤ 12
      val short = toks(6, "S")  // 6-token run: visible at w=5 only
      Seq(1L -> s"a0 $long x1 $short",
          2L -> s"$long b0 b1 $short b2")
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def runsAt(w: Int) = graft.ext.DedupOps
        .substringRunsCore(spark, dir, w).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sorted
      val at5 = runsAt(5); val at8 = runsAt(8); val at12 = runsAt(12)
      def gated(rs: Seq[(Long, Long, Long, Long, Long)]) =
        rs.filter(_._5 >= 12L)
      assert(gated(at5) === gated(at8) && gated(at8) === gated(at12),
        s"gated runs must be w-independent: $at5 / $at8 / $at12")
      assert(gated(at5) === Seq((1L, 2L, 2L, 1L, 13L)),
        "the 13-token run must appear with identical bounds at every w")
      assert(at5.exists(_._5 === 6L) && !at8.exists(_._5 === 6L),
        "the 6-token run is visible at w=5 and below the w=8 floor")
      val eval = graft.ext.DedupOps.windowSensitivityEval(spark, dir)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(3), r.getLong(4))).toMap
      assert(eval(5L) === eval(8L) && eval(8L) === eval(12L),
        s"the eval's gated columns must agree across w: $eval")
    } finally Fs.deleteTree(dir)
  }

  test("d69 caveat: the >16-doc hot-hash cap interacts with w — a hot SHORT phrase is dropped at small w while a long run in few docs gates at every w") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-d69cap-spec").toString
    try {
      // 17 docs share a 5-token phrase (hot at w=5: its windows sit in
      // 17 > 16 docs); two of those docs ALSO share a 13-token run.
      val hot = toks(5, "h")
      val long = toks(13, "L")
      val docs = (1 to 17).map { i =>
        val extra = if (i <= 2) s" $long" else ""
        i.toLong -> s"f${i}a $hot f${i}b$extra"
      }
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def gatedAt(w: Int) = graft.ext.DedupOps
        .substringRunsCore(spark, dir, w)
        .filter(col("run_tokens") >= 12L).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).sorted
      // the hot phrase never pairs (capped at w=5, below the floor at
      // w=8/12); the 13-token run gates identically at every w
      (Seq(5, 8, 12)).foreach { w =>
        assert(gatedAt(w) === Seq((1L, 2L, 13L)),
          s"w=$w: only the 13-token run may gate")
      }
      val at5 = graft.ext.DedupOps.substringRunsCore(spark, dir, 5)
        .collect()
      assert(!at5.exists(_.getLong(4) === 5L),
        "the 17-doc hot phrase must be dropped by the cap at w=5")
    } finally Fs.deleteTree(dir)
  }
}
