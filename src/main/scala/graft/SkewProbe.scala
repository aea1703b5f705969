package graft

/** Skewed-key rehearsal (round-9 verdict item 6): a real Enron-like
  * corpus has a power-law sender head — one sender owning a
  * double-digit share of all mail (ingest_enron.py:126 from-field).
  * [[ScaleGen.generateSkewed]] builds a documents variant whose doc_id
  * remapping puts ~30% of rows on sender u0 AND mailbox user0; this
  * probe times the email-surface queries that group/join on those keys
  * (em64 comm edges, em65 mailbox counts, g91 sender graph) plus the
  * store build itself on the uniform vs the skewed corpus at the SAME
  * row count. The claim under test: partial (map-side) aggregation
  * bounds every hot-key fan-in before the exchange, so a 30%-hot key
  * costs ~nothing — a skew-sensitive plan (e.g. a shuffle carrying raw
  * hot-key rows into one reducer) would show up as a skewed/uniform
  * ratio well above 1.
  *
  * The event tier carries the one shape that genuinely CANNOT
  * partial-aggregate — per-user windows (e82/e93/e113 sort each
  * user's events inside one task) — so a second block measures those
  * against [[ScaleGen.generateSkewedEvents]] (one user owning 30% of
  * all events).
  *
  * Measurement discipline: every uniform/skewed sample pair is
  * INTERLEAVED (uniform run i immediately followed by skewed run i,
  * ×3; queries reduce by median, builds by min — the Bench warm
  * discipline) so time-separated ambient drift cannot masquerade as,
  * or mask, a skew signal. The first committed record measured the
  * two corpora in separate sequential blocks and its sibling ratios
  * drifted to 0.65–0.90 on structurally skew-free plans — exactly
  * that artifact. */
object SkewProbe {

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/tmp/graft-sf1")
    val skew = args.lift(1).getOrElse("/tmp/graft-sf1-skew")
    val evSkew = args.lift(2).getOrElse("/tmp/graft-sf1-evskew")
    val spark = Sessions.local()

    if (!new java.io.File(s"$base/documents.parquet").exists())
      ScaleGen.generate(spark, "/root/testdata/sf0.1", base, 10)
    if (!new java.io.File(s"$skew/documents.parquet").exists())
      ScaleGen.generateSkewed(spark, base, skew, share = 0.3)
    if (!new java.io.File(s"$evSkew/events.parquet").exists())
      ScaleGen.generateSkewedEvents(spark, base, evSkew, share = 0.3)

    val emailQueries = Seq("em64_comm_edges", "em65_mailbox_counts",
      "g91_email_graph")
    val eventQueries = Seq("e82_sessionize", "e93_funnel",
      "e113_transition_matrix")

    // untimed JIT pre-warm at the smallest SF
    val jit = "/root/testdata/sf0.001"
    try {
      graft.query.FixtureCorpus.store(spark, jit).count()
      (emailQueries ++ eventQueries)
        .foreach(q => SparkEntry.queries(q)(spark, jit).count())
    } catch { case e: Throwable =>
      System.err.println(s"[skew] JIT pre-warm failed (non-fatal): $e") }

    // the store-backed frames this probe times: the fixture corpus and
    // the graph frames built over it
    SessionStore.drop("fixture", "graph")

    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def timeOne(f: => Unit): Double = {
      val t0 = System.nanoTime()
      // A failing sample records -1.0 instead of aborting the probe: the
      // ratio code treats tA/tB <= 0 as missing, and all samples already
      // collected stay in SKEW_DETAIL.json. NonFatal only — an OOM or
      // other fatal error leaves the JVM corrupted, so later samples
      // would be garbage; let it abort the probe instead.
      try { f } catch {
        case e if scala.util.control.NonFatal(e) =>
          System.err.println(s"[skew] sample failed (recorded -1): $e")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

    /** Interleaved A/B sampling: (base run i, dirB run i) pairs ×3,
      * reduced per side; a side with any failed sample reduces to -1. */
    def interleaved(dirB: String, reduce: Seq[Double] => Double)(
        run: String => Unit): (Double, Double) = {
      val sa = scala.collection.mutable.ArrayBuffer[Double]()
      val sb = scala.collection.mutable.ArrayBuffer[Double]()
      var i = 0
      while (i < 3) {
        sa += timeOne(run(base))
        sb += timeOne(run(dirB))
        i += 1
      }
      def red(xs: Seq[Double]) = if (xs.exists(_ <= 0)) -1.0 else reduce(xs)
      (red(sa.toSeq), red(sb.toSeq))
    }

    val items = scala.collection.mutable.ArrayBuffer[(String, Double, Double)]()
    var cmHotUniform = -1L
    var cmHotSkewed = -1L
    var blobHotRows = -1L
    var blobPayloadB = -1L
    var blobGateEngaged = false
    var winHotRows = -1L
    var winPayloadB = -1L
    var winGateEngaged = false

    // ---- email tier (vs the skewed-documents corpus)
    locally {
      val (wa, wb) = interleaved(skew, _.min) { dir =>
        SessionStore.drop("fixture", "graph")
        graft.query.FixtureCorpus.store(spark, dir).count(); ()
      }
      items += (("cache_fixture_corpus", wa, wb))
      SessionStore.drop("fixture", "graph")
      // warm both corpora's stores once so query samples are serve-side
      graft.query.FixtureCorpus.store(spark, base).count()
      graft.query.FixtureCorpus.store(spark, skew).count()
      emailQueries.foreach { q =>
        val (qa, qb) = interleaved(skew, median) { dir =>
          SparkEntry.queries(q)(spark, dir).count(); ()
        }
        items += ((q, qa, qb))
      }
      SessionStore.drop("fixture", "graph")
    }

    // ---- event tier (vs the skewed-events corpus)
    eventQueries.foreach { q =>
      val (qa, qb) = interleaved(evSkew, median) { dir =>
        SparkEntry.queries(q)(spark, dir).count(); ()
      }
      items += ((q, qa, qb))
    }

    // ---- CM-guarded hot-key split (the k80 sketch composed into the
    // Salting guard). Target: per-sender adjacency-list assembly —
    // collect_list partials are size-preserving, the one aggregation
    // family map-side combine cannot shrink, so a hot sender's rows
    // all reach its reducer. The guard detects heavy senders from the
    // CM table (threshold 20% — above the uniform corpus's 1/7 per-
    // sender share, so it stays DORMANT on uniform and fires exactly
    // on the skewed u0 at 30%; the engaged/dormant key counts are
    // recorded in the JSON) and splits only detected keys 16 ways.
    locally {
      import org.apache.spark.sql.functions.{col, collect_list, flatten, size, sum}
      graft.query.FixtureCorpus.store(spark, base).count()
      graft.query.FixtureCorpus.store(spark, skew).count()
      // The CM cell table is a CACHED per-corpus artifact (at 100 TB
      // it is maintained by the ingest scan — the k83 absorb story);
      // its one-scan build is timed below as its own warm line item,
      // and per-query detection probes the cached 768 cells.
      val cmTables = scala.collection.mutable.Map[
        String, org.apache.spark.sql.DataFrame]()
      def cmTable(dir: String): org.apache.spark.sql.DataFrame =
        cmTables.getOrElseUpdate(dir, {
          val toks = graft.query.FixtureCorpus.store(spark, dir)
            .select(col("from").cast("string").as("tok"))
          val cells = graft.operators.Sketches.cmCellsOf(toks).cache()
          cells.count()
          cells
        })
      def clearCmTables(): Unit = {
        cmTables.values.foreach(df => { df.unpersist(); () })
        cmTables.clear()
      }
      val (cwa, cwb) = interleaved(skew, _.min) { dir =>
        clearCmTables()
        cmTable(dir); ()
      }
      items += (("cache_cm_table", cwa, cwb))
      clearCmTables(); cmTable(base); cmTable(skew)
      // detection: sample-bounded probes against the cached 768
      // cells — runs once per ingest BATCH in production, so it is
      // timed as its own line item and the detected (key, cm_est)
      // set is what every aggregation over that batch reuses
      def detectEst(dir: String): Seq[(String, Long)] = {
        val cand = graft.operators.Salting.candidateSample(
          graft.query.FixtureCorpus.store(spark, dir)
            .select(col("from").cast("string").as("tok")))
        graft.operators.Salting
          .cmHotKeysFrom(cmTable(dir), cand, sharePpm = 200000L)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      }
      val (da, db) = interleaved(skew, median) { dir => detectEst(dir); () }
      items += (("cm_detect", da, db))
      val hotEsts = Map(base -> detectEst(base), skew -> detectEst(skew))
      val hotSets = hotEsts.map { case (k, v) => k -> v.map(_._1) }
      cmHotUniform = hotSets(base).size.toLong
      cmHotSkewed = hotSets(skew).size.toLong
      def adjacency(dir: String, guarded: Boolean): Unit = {
        val st = graft.query.FixtureCorpus.store(spark, dir)
          .select(col("from").as("sender"), col("dedupe_key"))
        val out =
          if (!guarded)
            st.groupBy("sender")
              .agg(collect_list("dedupe_key").as("msgs"))
          else
            graft.operators.Salting.hotSetGuardedAggregate(
              st, "sender", hotSets(dir), numSalts = 16,
              partials = Seq(collect_list(col("dedupe_key")).as("__pl")),
              finals = Seq(flatten(collect_list(col("__pl"))).as("msgs")),
              plain = Seq(collect_list(col("dedupe_key")).as("msgs")))
        // force full list materialization (a bare count() could prune)
        out.agg(sum(size(col("msgs")))).head()
        ()
      }
      Seq(false, true).foreach { g =>
        val nm = if (g) "comm_adjacency_cm_guarded" else "comm_adjacency_plain"
        val (qa, qb) = interleaved(skew, median)(dir => adjacency(dir, g))
        items += ((nm, qa, qb))
      }

      // ---- the BENEFIT gate (round-12 verdict item 2, resolved by
      // falsification — see the next block): detection firing is
      // necessary but not sufficient, and for map-side-combinable
      // aggregates never sufficient. This row pins the gate's one
      // job on the round-12 regression corpus: with collect_list
      // declared combinable, the gate must return the literal plain
      // plan (ratio ≈ comm_adjacency_plain's), where the ungated
      // guard above reads 1.6–1.8.
      def avgPayload(dir: String, c: String): Long = {
        import org.apache.spark.sql.functions.{avg, length}
        val v = graft.query.FixtureCorpus.store(spark, dir)
          .agg(avg(length(col(c)))).head().getDouble(0)
        math.max(1L, math.round(v))
      }
      // Detection + payload-width inputs reuse the hotEsts computed
      // above (the cm_detect discipline: they amortize per ingest
      // batch, never per aggregation), so the timed run is the gate
      // verdict + the chosen plan alone.
      val keyBytes = Map(base -> avgPayload(base, "dedupe_key"),
        skew -> avgPayload(skew, "dedupe_key"))
      def adjacencyGated(dir: String): Unit = {
        val st = graft.query.FixtureCorpus.store(spark, dir)
          .select(col("from").as("sender"), col("dedupe_key").as("p"))
        val out = graft.operators.Salting.gatedHotSetAggregate(
          st, "sender", hotEsts(dir), keyBytes(dir),
          mapSideCombinable = true, numSalts = 16,
          partials = Seq(collect_list(col("p")).as("__pl")),
          finals = Seq(flatten(collect_list(col("__pl"))).as("msgs")),
          plain = Seq(collect_list(col("p")).as("msgs")))
        out.agg(sum(size(col("msgs")))).head()
        ()
      }
      locally {
        val (qa, qb) = interleaved(skew, median)(adjacencyGated)
        items += (("comm_adjacency_gated", qa, qb))
      }
      clearCmTables()
      SessionStore.drop("fixture", "graph")
    }

    // ---- the aggregate-split LOSS evidence and the window-sort WIN
    // (the splitPays redesign's three measured facts):
    //  A. LARGE elements (500k rows, ~278 B body payloads, 86 MB hot
    //     volume): the FORCED split loses — phase 2 re-handles every
    //     payload byte after an extra exchange.
    //  B. MANY SMALL elements (5M rows, ~15 B key payloads, 60%
    //     share → 3.2M hot rows): the forced split STILL loses —
    //     partial_collect_list runs map-side, so the per-row work the
    //     salt was supposed to parallelize was never on the reducer
    //     to begin with. Together A+B falsify every aggregate win
    //     regime; the gate (mapSideCombinable = true for all Spark
    //     aggregates) must therefore return the plain plan on both.
    //  C. per-key TOP-K on B's corpus: a window sort has NO partial
    //     mode — the hot key's sort runs in one task — and
    //     saltedTopK's per-salt local top-k must WIN.
    // Each reading is interleaved plain/alternative on the SAME
    // corpus (the A/B here is the PLAN, not the data).
    locally {
      import org.apache.spark.sql.functions.{avg, col, collect_list,
        concat, explode, flatten, length, lit, sequence, size, sum}
      def planAB(run: String => Unit, alt: String): (Double, Double) = {
        val sa = scala.collection.mutable.ArrayBuffer[Double]()
        val sb = scala.collection.mutable.ArrayBuffer[Double]()
        var i = 0
        while (i < 3) {
          sa += timeOne(run("plain"))
          sb += timeOne(run(alt))
          i += 1
        }
        def red(xs: Seq[Double]) =
          if (xs.exists(_ <= 0)) -1.0 else median(xs.toSeq)
        (red(sa.toSeq), red(sb.toSeq))
      }
      def detectOn(df: org.apache.spark.sql.DataFrame)
          : Seq[(String, Long)] = {
        val toks = df.select(col("sender").cast("string").as("tok"))
        val cells = graft.operators.Sketches.cmCellsOf(toks).cache()
        cells.count()
        val est = graft.operators.Salting
          .cmHotKeysFrom(cells, graft.operators.Salting
            .candidateSample(toks), sharePpm = 200000L)
          .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        cells.unpersist()
        est
      }
      def adjacency(df: org.apache.spark.sql.DataFrame,
          hotEst: Seq[(String, Long)], payloadB: Long)(
          mode: String): Unit = {
        val out = mode match {
          case "plain" =>
            df.groupBy("sender").agg(collect_list("p").as("msgs"))
          case m =>
            graft.operators.Salting.gatedHotSetAggregate(
              df, "sender", hotEst, payloadB,
              // collect_list IS map-side combinable — "forced" lies
              // to the gate to expose the raw split trade the gate
              // exists to prevent
              mapSideCombinable = m != "forced", numSalts = 16,
              partials = Seq(collect_list(col("p")).as("__pl")),
              finals = Seq(flatten(collect_list(col("__pl"))).as("msgs")),
              plain = Seq(collect_list(col("p")).as("msgs")),
              minHotRows = if (m == "forced") 1L else 1000000L,
              maxPayloadBytes =
                if (m == "forced") Long.MaxValue else 64L)
        }
        out.agg(sum(size(col("msgs")))).head()
        ()
      }
      // regime A: body payloads on a ×10 replicated 60%-share corpus
      val winBase = args.lift(3).getOrElse("/tmp/graft-win-base")
      val winDir = args.lift(4).getOrElse("/tmp/graft-win")
      if (!new java.io.File(s"$winDir/documents.parquet").exists()) {
        val docs = spark.read.parquet(s"$base/documents.parquet")
        val big = docs.withColumn("i", explode(sequence(lit(0), lit(9))))
          .withColumn("doc_id", col("doc_id") * 10L + col("i")).drop("i")
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(winBase))
        graft.Fs.writeSingleParquet(big,
          java.nio.file.Paths.get(winBase, "documents.parquet"))
        ScaleGen.generateSkewed(spark, winBase, winDir, share = 0.6)
      }
      locally {
        graft.query.FixtureCorpus.store(spark, winDir).count()
        val st = graft.query.FixtureCorpus.store(spark, winDir)
          .select(col("from").as("sender"), col("body").as("p"))
        val hotEst = detectOn(st)
        val bodyB = math.max(1L, math.round(
          st.agg(avg(length(col("p")))).head().getDouble(0)))
        val run = adjacency(st, hotEst, bodyB) _
        locally { val (pa, pb) = planAB(run, "forced")
          items += (("blob_body_plain_vs_forced_split", pa, pb)) }
        locally { val (pa, pb) = planAB(run, "gated")
          items += (("blob_body_plain_vs_gated", pa, pb)) }
        val maxEst = if (hotEst.isEmpty) 0L else hotEst.map(_._2).max
        blobHotRows = maxEst
        blobPayloadB = bodyB
        blobGateEngaged = graft.operators.Salting
          .splitPays(maxEst, bodyB, mapSideCombinable = true)
      }
      SessionStore.drop("fixture", "graph")
      // regime B: 5M rows of ~13-byte elements, 60% hot share —
      // documents-derived directly (the store build isn't what's
      // under test), sender u0 owning the remapped hot ids
      val rowsDir = args.lift(5).getOrElse("/tmp/graft-win-rows")
      if (!new java.io.File(s"$rowsDir/documents.parquet").exists()) {
        val docs = spark.read.parquet(s"$base/documents.parquet")
          .select("doc_id")
        val big = docs.withColumn("i", explode(sequence(lit(0), lit(99))))
          .select((col("doc_id") * 100L + col("i")).as("doc_id"),
            lit("x").as("text"))
        val tmpBase = rowsDir + "-base"
        java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(tmpBase))
        graft.Fs.writeSingleParquet(big,
          java.nio.file.Paths.get(tmpBase, "documents.parquet"))
        ScaleGen.generateSkewed(spark, tmpBase, rowsDir, share = 0.6)
      }
      locally {
        val st = spark.read.parquet(s"$rowsDir/documents.parquet")
          .select(
            concat(lit("u"), (col("doc_id") % 7).cast("string"))
              .as("sender"),
            concat(lit("<d"), col("doc_id").cast("string"), lit("@corp>"))
              .as("p"))
        val hotEst = detectOn(st)
        val keyB = math.max(1L, math.round(
          st.agg(avg(length(col("p")))).head().getDouble(0)))
        val run = adjacency(st, hotEst, keyB) _
        locally { val (pa, pb) = planAB(run, "forced")
          items += (("small_agg_plain_vs_forced_split", pa, pb)) }
        locally { val (pa, pb) = planAB(run, "gated")
          items += (("small_agg_plain_vs_gated", pa, pb)) }
        val maxEst = if (hotEst.isEmpty) 0L else hotEst.map(_._2).max
        winHotRows = maxEst
        winPayloadB = keyB
        winGateEngaged = graft.operators.Salting
          .splitPays(maxEst, keyB, mapSideCombinable = true)
        // regime C: per-key top-100 on the same 5M-row skewed corpus —
        // the window-sort shape where salting genuinely pays. The
        // ordering carries p (unique per row) as the total-order
        // tiebreak; count() forces the full ranked output.
        import org.apache.spark.sql.expressions.Window
        def topk(mode: String): Unit = {
          val ord = Seq(col("p").desc)
          val out = mode match {
            case "plain" => st
              .withColumn("rank", org.apache.spark.sql.functions
                .row_number().over(
                  Window.partitionBy("sender").orderBy(ord: _*)))
              .filter(col("rank") <= 100)
            case _ => graft.operators.Salting
              .saltedTopK(st, "sender", ord, k = 100, numSalts = 16)
          }
          out.agg(sum(length(col("p"))), sum(col("rank"))).head()
          ()
        }
        locally {
          val (pa, pb) = planAB(topk, "salted")
          items += (("topk_window_plain_vs_salted", pa, pb))
        }
      }
      SessionStore.drop("fixture", "graph")
    }

    // max key share, measured on both corpora so the report carries
    // the actual skew (not just the generator's intent)
    def hotShare(dir: String, key: String, table: String): Double = {
      import org.apache.spark.sql.functions._
      val t = spark.read.parquet(s"$dir/$table.parquet")
      val n = t.count().toDouble
      t.groupBy(expr(key)).count().agg(max("count")).head().getLong(0) / n
    }
    val shareA = hotShare(base, "doc_id % 7", "documents")
    val shareB = hotShare(skew, "doc_id % 7", "documents")
    val userShareA = hotShare(base, "user_id", "events")
    val userShareB = hotShare(evSkew, "user_id", "events")

    val itemsJson = items.map { case (name, tA, tB) =>
      val ratio = if (tA > 0 && tB > 0) tB / tA else -1.0
      s""""$name":{"uniform":${fmt(tA)},"skewed":${fmt(tB)},"ratio":${fmt(ratio)}}"""
    }
    val line = s"""{"scale":"skew_rehearsal","uniform":"$base","skewed":"$skew","hot_sender_share":{"uniform":${fmt(shareA)},"skewed":${fmt(shareB)}},"ev_skewed":"$evSkew","hot_user_share":{"uniform":${fmt(userShareA)},"skewed":${fmt(userShareB)}},"cm_hot_keys":{"uniform":$cmHotUniform,"skewed":$cmHotSkewed},"split_regimes":{"blob":{"hot_rows":$blobHotRows,"payload_bytes":$blobPayloadB,"gate_engaged":$blobGateEngaged},"small":{"hot_rows":$winHotRows,"payload_bytes":$winPayloadB,"gate_engaged":$winGateEngaged}},"interleaved":true,"items":{${itemsJson.mkString(",")}}}"""
    println(line)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get("SKEW_DETAIL.json"),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    spark.stop()
  }
}
