package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SessionStore
import graft.Tables._
import graft.ext.TextOps.{md5Long, shingles3, tokens}

/** Deduplication operators over `documents`/`embeddings` — the core
  * LLM-training-data tier: exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * embedding-cosine near-dup.
  *
  * Scale design notes:
  *  - Exact dedup is one hash aggregation on a fingerprint (map-side
  *    partial, single shuffle).
  *  - MinHash/LSH is the 100 TB path: per-doc signatures (one shuffle on
  *    doc_id), band buckets (explode ×4), candidate generation by
  *    equi-join on bucket (shuffle on bucket key — never an n² cross
  *    join), exact verify only on candidates.
  *  - The md5-derived 60-bit hash (TextOps.md5Long) is used everywhere
  *    so every stage is bit-reproducible in the DuckDB oracle.
  *  - SimHash pairs and embedding pairs use integer/blocked comparisons
  *    to bound the pair space (hamming ≤ 2 within signature, cosine
  *    within same-label block).
  */
object DedupOps {

  private val normText = regexp_replace(trim(lower(col("text"))), TextOps.wsClass, " ")

  /** (doc_id, shingle) distinct pairs — the shared input of the
    * Jaccard/minhash family. The token array is materialized through a
    * projection boundary first: Spark does NOT common-subexpression-
    * eliminate inside higher-order-function lambdas, so inlining
    * `tokens(text)` into `shingles3` re-runs the split per element_at
    * (measured 20x slower). */
  private[ext] def shingleRows(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(shingles3(col("toks")))).as("shingle"))

  private[ext] val shingleRowsSql =
    """SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(toks) - 1, 1)),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
      |  FROM (SELECT doc_id, list_filter(
      |        regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
      |        FROM documents)""".stripMargin

  // ---------------------------------------- shared cached shingle frame

  // d51/d53/d55 all start from the same (doc_id, md5Long(shingle)) rows;
  // materialize it once per (session, dir) as the SessionStore "dedup"
  // family — per-query .cache() calls leaked storage for the session
  // lifetime (round-1 ADVICE).

  // ------------- persisted window-index artifact (d70's serve side)

  /** The full-corpus (doc_id, pos, hw) window-hash frame, cached per
    * (session, dir) — round-17: the substring tier computed
    * [[windowFrame]] over a dozen doc_id slices (base 4/5, the %5==4
    * probe repeated by d66/d70/d71/d72, the %10 and %20 delta/probe
    * cohorts, the full-corpus d65/d68 passes), each re-running the
    * tokenize + rolling-hash stage from the parquet scan. The stage is
    * per-doc stateless, so slicing commutes with it exactly:
    * windowFrame(docs.filter(p)) == corpusWindows.filter(p). One
    * frame in the "windex" family, dropped with the windex artifacts,
    * so the cache_d70_window_index warm pays — and re-pays on each of
    * its MIN-of-3 cycles — the one build, the hashedShingles
    * discipline applied to windows. */
  private[graft] def corpusWindows(s: SparkSession, d: String): DataFrame =
    SessionStore.frame(s, d, "windex/frames")(windowFrame(documents(s, d)))

  /** Build-or-get the PERSISTED corpus window index — d66's
    * base-segment artifact written once to parquet (the s87/k83
    * artifact discipline): (hw, base_id, pa) rows of the base 4/5,
    * hot hashes already dropped. At 100 TB this is the standing
    * table the ingest maintains; here it is built once per
    * (session, dir) and d70 serves from it. */
  private[graft] def windowIndexDir(s: SparkSession, d: String): String =
    SessionStore.artifact(s, d, "windex") {
      dir =>
        baseWindowIndex(s, d).write.mode("overwrite")
          .parquet(s"$dir/windex")
        // the PRE-cap per-hash doc-count census — the mergeable state
        // d73's absorb maintains (hot-cap re-derivation over segment
        // sums); the index rows alone cannot serve this: capped hashes
        // have no rows left but their counts must keep accumulating
        corpusWindows(s, d).filter(col("doc_id") % 5 =!= 4)
          .groupBy("hw")
          .agg(count_distinct(col("doc_id")).as("nd"))
          .write.mode("overwrite").parquet(s"$dir/census")
    }

  /** The persisted substring-CLEANED corpus (d68's per-doc frame:
    * doc_id, n_spans_cut, tokens_removed, clean_text) per
    * (session, dir) — the release payload artifact, built once and
    * served to d68 (presentation sort) and t85's release census
    * (round-16: each was re-running the full d65 run-detection +
    * span-merge + re-cut per call; the cache_ppl_scored shared-stage
    * discipline, cost attributed in the cache_d70_window_index warm's
    * `substring_clean` sub-build). */
  private[graft] def substringCleanDir(s: SparkSession, d: String): String =
    SessionStore.artifact(s, d, "windex/sclean") {
      dir =>
        substringCleanDerive(s, d).write.mode("overwrite")
          .parquet(s"$dir/clean")
    }

  private[graft] def substringCleanCached(s: SparkSession, d: String)
      : DataFrame =
    s.read.parquet(s"${substringCleanDir(s, d)}/clean")

  // the cached-frame builders are shared between the query sites and
  // warm(): warm re-stating the build expressions under the same keys
  // meant an edited query site could silently bench the stale
  // warm-built frame while Verify checked the new one

  /** Cached SimHash signature frame (d53's output; both sides of the
    * d53b band self-join). */
  private def simhashCached(s: SparkSession, d: String): DataFrame =
    SessionStore.frame(s, d, "dedup/sig")(simhash(s, d))

  /** Cached d51 pair graph as (src, dst) edges (read three times by the
    * d56 CC path: partition sizing, vertices, edges). */
  private def pairEdgesCached(s: SparkSession, d: String): DataFrame =
    SessionStore.frame(s, d, "dedup/pairs") {
      jaccardPairs(s, d).select(col("doc_a").as("src"), col("doc_b").as("dst"))
    }

  /** Materialize the shared cached frames (bench pre-warm: their build
    * cost becomes a separately-timed line item instead of being charged
    * to whichever query hits the store first). The signature and
    * pair frames both derive from the (already-cached) shingle frame
    * and are independent of each other, so they build CONCURRENTLY —
    * Spark schedules jobs from both threads and fills scheduler gaps
    * (shuffle barriers) with the other job's tasks. */
  def warm(s: SparkSession, d: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    hashedShingles(s, d).count()
    val sig = Future { simhashCached(s, d).count() }
    val pairs = Future { pairEdgesCached(s, d).count() }
    // the d52/d60-shared LSH frames (same auto dict-path decision as
    // the query sites, so the cache keys line up)
    val lsh = Future {
      val (sigs, _, verified) =
        lshPipeline(s, d, shardDict = estShingles(s, d) > dictBroadcastCeiling)
      sigs.count(); verified.count()
    }
    // await ALL before propagating a failure: bailing on the first
    // would leave another future's Spark job running underneath the
    // next timed bench line item
    val rs = Seq(sig, pairs, lsh)
      .map(f => scala.util.Try(Await.result(f, Duration.Inf)))
    rs.foreach(_.get)
    ()
  }

  /** Dev-probe: time the warm's component builds SEQUENTIALLY (the
    * production warm overlaps them) so the cache_dedup_frames line
    * item is attributable leg by leg. */
  private[graft] def warmProfileLegs(s: SparkSession, d: String)
      : Seq[(String, Double)] = {
    def t(name: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      f
      name -> (System.nanoTime() - t0) / 1e9
    }
    Seq(
      t("shingles")(hashedShingles(s, d).count()),
      t("simhash")(simhashCached(s, d).count()),
      t("scored_pairs")(pairEdgesCached(s, d).count()),
      t("lsh_sigs") {
        val (sigs, _, _) =
          lshPipeline(s, d, shardDict = estShingles(s, d) > dictBroadcastCeiling)
        sigs.count()
      },
      t("lsh_verify") {
        val (_, _, verified) =
          lshPipeline(s, d, shardDict = estShingles(s, d) > dictBroadcastCeiling)
        verified.count()
      })
  }

  /** Estimated distinct-shingle count — upper bound from a one-column
    * parquet aggregate (≈ one shingle per token at ~6 chars/token;
    * total occurrences ≥ distinct). Shared by every dictionary-join
    * path selection. */
  private[graft] def estShingles(s: SparkSession, d: String): Long =
    documents(s, d).agg(sum("n_chars")).head().getLong(0) / 6

  // NOTE: d52's dictionary trick (md5 distinct shingles once, join
  // back) was tried here and measured SLOWER (+3.3s at sf0.1): with no
  // per-shingle hash amortization to win back, the extra distinct is a
  // full shuffle of the raw shingle strings. Direct per-row hashing is
  // the right shape for the single-hash frame.
  /** Probe-only accessor (dev mains). */
  private[graft] def hashedShinglesForProbe(s: SparkSession, d: String): DataFrame =
    hashedShingles(s, d)

  private def hashedShingles(s: SparkSession, d: String): DataFrame =
    SessionStore.frame(s, d, "dedup/sh") {
      shingleRows(s, d).select(col("doc_id"), md5Long(col("shingle")).as("sh"))
    }

  /** Document-frequency cap for the inverted-index self-joins (d51/d55):
    * a shingle present in n docs emits n² candidate rows, so one
    * boilerplate 3-gram shared by 1M docs would emit 10¹² pairs. Shingles
    * with DF > dfCap are dropped from the representation (sizes AND
    * intersections — standard inverted-index practice; they carry no
    * discriminating signal). Measured fixture max DF: 7 at sf0.01,
    * 25 at sf0.1 — the 1000 cap is a pure scale guard with a 40×
    * margin, so oracle results are unchanged. */
  private[graft] val dfCap = 1000

  private[graft] def dfCappedShingles(s: SparkSession, d: String): DataFrame =
    dfCapped(hashedShingles(s, d))

  /** The capped representation of an arbitrary (doc_id, sh) frame. The
    * hot set is tiny by construction → broadcast anti-join, no extra
    * shuffle of the postings. */
  private[graft] def dfCapped(sh: DataFrame, cap: Int = dfCap): DataFrame =
    // the USING join moves `sh` first — restore (doc_id, sh) because the
    // callers rename positionally via toDF
    sh.join(broadcast(hotSet(sh, cap)), Seq("sh"), "left_anti")
      .select("doc_id", "sh")

  /** The over-cap ("hot") shingle set of a (doc_id, sh) frame — tiny
    * by construction. Exposed separately so e109 can FREEZE the full
    * corpus's hot set batch-side and anti-join a document stream
    * against it (the capped representation of the stream side must
    * match the batch twin's, which caps against the whole corpus). */
  private[graft] def hotSet(sh: DataFrame, cap: Int = dfCap): DataFrame =
    sh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap).select("sh")

  /** Corpus-frozen hot set for the streaming twin (see [[hotSet]]). */
  private[graft] def frozenHotShingles(s: SparkSession, d: String): DataFrame =
    hotSet(hashedShingles(s, d))

  /** The (doc_id, sh) hashed-shingle transform of an arbitrary frame
    * with (doc_id, text) — stateless column expressions only, so it
    * applies unchanged to a STREAMING frame (e109). */
  private[graft] def hashedShinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(array_distinct(shingles3(col("toks")))).as("shingle"))
      .select(col("doc_id"), md5Long(col("shingle")).as("sh"))

  // ------------------------------------------------------ d50 exact

  /** d50: exact dedup on the normalized-text fingerprint — groups plus
    * the chosen representative (min doc_id = deterministic keeper). */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(col("doc_id"), md5(normText).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_doc_id")

  val exactDedupSql: String =
    """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
      |  min(doc_id) AS keep_doc_id, count(*) AS n_copies
      |FROM documents GROUP BY 1 ORDER BY keep_doc_id""".stripMargin

  // -------------------------------------------- d51 n-gram jaccard

  /** d51: near-dup pairs by exact word-3-gram Jaccard ≥ 0.5. The pair
    * space comes from an equi-join on shingle (inverted-index style),
    * never a cross join; the 0.5 threshold sits in the empty gap of the
    * corpus distribution (observed: clusters ≥ 0.9, background ≤ 0.07),
    * and Jaccard is a ratio of ints — no fp instability at the cut. */
  /** Cached near-dup pair frame (doc_a, doc_b, jaccard, containment):
    * candidate pairs from ONE inverted-index self-join, scored with
    * BOTH similarity measures and kept when either passes its
    * threshold. d51 (Jaccard ≥ 0.5) and d55 (containment ≥ 0.8) are
    * each a scalar filter over this frame, so the self-join — the
    * expensive part of both queries — runs once per (session, dir).
    * Only the thresholded union is materialized (near-dup-sized, like
    * d51's output — NOT the pre-threshold candidate set, whose cache
    * footprint measurably inflated unrelated queries via GC pressure
    * at sf0.1). */
  private def scoredPairsCached(s: SparkSession, d: String): DataFrame =
    SessionStore.frame(s, d, "dedup/scored_pairs") {
      scoredPairsPlan(s, d, broadcastArrays = false)
    }

  /** Exact scored-pair computation, two physical strategies with
    * spec-pinned identical output:
    *
    *  - `broadcastArrays = false` (the DEFAULT): the exchange plan —
    *    postings self-join on hashed shingle, `groupBy(pair).count()`
    *    for the intersection, join per-doc sizes. Pays one
    *    candidate-proportional exchange + hash agg, which Spark spills
    *    gracefully past memory. MEASURED (shingle frame warm,
    *    local[32]): 1.8 s at sf0.1 / 17.0 s at sf1 — linear-ish in
    *    candidate volume (×92 candidates → ×9.4 time).
    *  - `broadcastArrays = true` (kept as the zero-agg-state
    *    alternative): each doc's sorted shingle array is broadcast and
    *    a pair is emitted exactly once, on its smallest shared
    *    shingle, with the exact intersection computed from the two
    *    arrays — no post-join exchange, no aggregation state at all.
    *    MEASURED SLOWER on the same conditions (24.5 s at sf0.1 /
    *    74.1 s at sf1): the per-candidate-ROW `array_intersect`
    *    (hash-set build + result alloc per row) costs far more than
    *    the exchange it avoids. It only won in a 4-thread spill-bound
    *    sandbox (215+ s exchange) — the regime a real cluster sizes
    *    memory to avoid. Recorded here so the idea isn't retried; not
    *    auto-selected.
    *
    * Candidate-pair volume itself is data-intrinsic for an EXACT
    * similarity join (every qualifying-or-near pair must be examined,
    * and the fixture's saturated 31-word shingle space makes it grow
    * ×92 per ×10 docs — worst-case by construction); the DF cap bounds
    * per-shingle fanout, and the corpus-scale near-dup path remains
    * d52's banded LSH (measured exponent 0.01). */
  private[graft] def scoredPairsPlan(s: SparkSession, d: String,
      broadcastArrays: Boolean): DataFrame = {
    // join on 60-bit hashed shingle ids: ~4x smaller shuffle than the
    // raw shingle strings, same counts (md5-family, collision-free
    // here and bit-identical in the oracle); DF-capped vs hot shingles
    val sh = dfCappedShingles(s, d)
    val a = sh.toDF("i", "sh")
    val b = sh.toDF("j", "sh")
    if (broadcastArrays) {
      val arrs = sh.groupBy("doc_id")
        .agg(sort_array(collect_list(col("sh"))).as("arr"),
          count(lit(1)).as("n"))
      a.join(b, "sh").filter(col("i") < col("j"))
        .join(broadcast(arrs.select(col("doc_id").as("i"),
          col("arr").as("arr_i"), col("n").as("ni"))), "i")
        .join(broadcast(arrs.select(col("doc_id").as("j"),
          col("arr").as("arr_j"), col("n").as("nj"))), "j")
        // one row per (pair, shared shingle) reaches here; keep the row
        // carrying the SMALLEST shared shingle — dedup without exchange
        .withColumn("inter_arr", array_intersect(col("arr_i"), col("arr_j")))
        .filter(col("sh") === array_min(col("inter_arr")))
        .withColumn("inter", size(col("inter_arr")).cast("long"))
        .withColumn("jaccard",
          round(col("inter") / (col("ni") + col("nj") - col("inter")), 4))
        .withColumn("containment",
          round(col("inter") / least(col("ni"), col("nj")), 4))
        .filter(col("jaccard") >= 0.5 || col("containment") >= 0.8)
        .select(col("i").as("doc_a"), col("j").as("doc_b"),
          col("jaccard"), col("containment"))
    } else {
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      a.join(b, "sh").filter(col("i") < col("j"))
        .groupBy("i", "j").agg(count(lit(1)).as("inter"))
        .join(sizes.toDF("i", "ni"), "i")
        .join(sizes.toDF("j", "nj"), "j")
        .withColumn("jaccard",
          round(col("inter") / (col("ni") + col("nj") - col("inter")), 4))
        .withColumn("containment",
          round(col("inter") / least(col("ni"), col("nj")), 4))
        .filter(col("jaccard") >= 0.5 || col("containment") >= 0.8)
        .select(col("i").as("doc_a"), col("j").as("doc_b"),
          col("jaccard"), col("containment"))
    }
  }

  def jaccardPairs(s: SparkSession, d: String): DataFrame =
    scoredPairsCached(s, d)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")

  /** d51's near-dup pair set (doc_a, doc_b) from the session cache —
    * the input to the v77 cross-split leakage audit. */
  private[graft] def nearDupPairs(s: SparkSession, d: String): DataFrame =
    scoredPairsCached(s, d)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b")

  val jaccardPairsSql: String =
    s"""WITH shs AS ($shingleRowsSql),
      |sh AS (SELECT doc_id,
      |  ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sh FROM shs),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id i, b.doc_id j, count(*) inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT i AS doc_a, j AS doc_b,
      |  round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
      |FROM inter JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
      |WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  // --------------------------------------------- d52 minhash + LSH

  private val numHashes = 8
  private val bandSize = 2 // 4 bands of 2 → catches jaccard ≳ 0.5 w.h.p.

  /** Broadcast ceiling for the shingle dictionary, in DISTINCT-shingle
    * entries. Each dictionary row carries the shingle string plus 9
    * 8-byte hashes (~100 B hashed-relation overhead included), so 4M
    * entries ≈ 400 MB on the driver — beyond that the sharded
    * shuffle_hash path wins and there is no driver-memory ceiling. */
  private[graft] val dictBroadcastCeiling = 4000000L

  /** d52: MinHash signatures + banded LSH candidates + exact verify.
    * Identical md5-derived hash family on both engines, so the whole
    * approximate pipeline is oracle-checked, not just smoke-tested.
    *
    * The dictionary join auto-selects broadcast vs sharded by an upper
    * bound on the distinct-shingle count — `sum(n_chars)/6` (≈ one
    * shingle per token, ≥ distinct): a single-column parquet aggregate,
    * far cheaper than counting the dictionary it sizes. */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLshAuto(s, d)

  private[graft] def minhashLshAuto(s: SparkSession, d: String,
      ceiling: Long = dictBroadcastCeiling): DataFrame =
    minhashLshImpl(s, d, shardDict = estShingles(s, d) > ceiling)

  /** The 100 TB dictionary path: instead of broadcasting the distinct-
    * shingle dictionary (driver-memory-bound at scale), shard it by
    * shingle hash — a plain shuffled hash join keyed on shingle, so
    * both sides partition by the same key and no single node ever holds
    * the whole dictionary. Same results as the broadcast path
    * (spec-asserted); the broadcast stays the small-SF fast path. */
  def minhashLshSharded(s: SparkSession, d: String): DataFrame =
    minhashLshImpl(s, d, shardDict = true)

  private def minhashLshImpl(s: SparkSession, d: String,
      shardDict: Boolean): DataFrame = {
    val (_, _, verified) = lshPipeline(s, d, shardDict)
    verified
      .filter(col("jaccard") >= 0.5)
      .select(col("i").as("doc_a"), col("j").as("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** The shared MinHash/LSH pipeline: returns (per-doc signatures,
    * per-row (doc_id, sh) hashes, exact-verified candidate pairs with
    * true jaccard, UNFILTERED) — d52 applies the ≥0.5 dedup threshold,
    * d60 keeps the whole candidate set to measure the sketch. The
    * signature and verified frames are store-cached per
    * (session, dir, dict path) so d52 and d60 run the expensive
    * stages once between them. */
  private def lshPipeline(s: SparkSession, d: String, shardDict: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    // cache the SIGNATURE frame first and build the verify stage from
    // the cached frame (round-17): the old shape built `verified` from
    // the raw signature lineage, so one `verified` materialization
    // re-ran the scan→explode→dictionary-join up to 5× (buckets ×2
    // self-join sides, shingle sets ×2, sizes) where the cached
    // signatures and the store (doc_id, sh) frame already hold
    // every input it needs. Identical values: hashedShingles' per-row
    // md5Long(shingle) IS the dictionary's `sh` column.
    val tag = if (shardDict) "lsh_sh" else "lsh_bc"
    val sigsC = SessionStore.frame(s, d, s"dedup/$tag.sigs")(
      lshSigsRaw(s, d, shardDict))
    val shh = hashedShingles(s, d)
    (sigsC, shh, SessionStore.frame(s, d, s"dedup/$tag.verified")(
      lshVerifyRaw(sigsC, shh)))
  }

  /** The signature half of the pipeline: per-doc 8-component MinHash
    * via the dictionary trick (hash each DISTINCT shingle once — 9
    * md5s over the ~small dictionary, join back — ~10x fewer md5 evals
    * than hashing per (doc, shingle) row).
    *
    * The join-back probes the CACHED (doc_id, sh) frame on `sh`
    * instead of re-running the scan→tokenize→explode pass on the raw
    * shingle string (round-17: the corpus was tokenized twice per sigs
    * build — once for the dictionary distinct, once for the probe —
    * and the probe rows shuffled ~40 B of string vs 16 B of longs on
    * the sharded path). `sh` IS the pipeline's shingle identity:
    * d51/d55 intersections, the DF cap and the verify stage all join
    * on it, and the oracle computes the same 60-bit md5 — so keying
    * the dictionary by it is the established semantics, not a new
    * approximation. */
  private[graft] def lshSigsRaw(s: SparkSession, d: String,
      shardDict: Boolean): DataFrame = {
    val dict = shingleRows(s, d).select("shingle").distinct()
      .select(md5Long(col("shingle")).as("sh") +:
        (1 to numHashes).map(j =>
          md5Long(concat(lit(s"$j:"), col("shingle"))).as(s"hs$j")): _*)
    val sh = hashedShingles(s, d)
    val hashed =
      if (shardDict) sh.join(dict.hint("shuffle_hash"), "sh")
      else sh.join(broadcast(dict), "sh")
    val sigCols = (1 to numHashes).map(j => min(col(s"hs$j")).as(s"h$j"))
    hashed.groupBy("doc_id").agg(sigCols.head, sigCols.tail: _*)
  }

  /** The candidate+verify half: banded buckets over a signature frame,
    * self-joined into candidate pairs, exact-verified against the
    * (doc_id, sh) hashed-shingle frame — exploding only candidate
    * docs' shingle sets, never the all-pairs intersection. */
  private[graft] def lshVerifyRaw(sigs: DataFrame,
      shh: DataFrame): DataFrame = {
    // band buckets: (band, h_{2b-1}, h_{2b})
    val bands = (1 to numHashes / bandSize).map { bnd =>
      struct(lit(bnd).as("band"),
        col(s"h${bandSize * bnd - 1}").as("x"),
        col(s"h${bandSize * bnd}").as("y"))
    }
    val buckets = sigs
      .select(col("doc_id"), explode(array(bands: _*)).as("bkt"))
      .select(col("doc_id"), col("bkt.band"), col("bkt.x"), col("bkt.y"))
    val cand = buckets.toDF("i", "band", "x", "y")
      .join(buckets.toDF("j", "band", "x", "y"), Seq("band", "x", "y"))
      .filter(col("i") < col("j"))
      .select("i", "j").distinct()
    val sizes = shh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val candA = cand.join(shh.toDF("i", "sh"), "i")
    val inter = candA.join(shh.toDF("j", "sh"), Seq("j", "sh"))
      .groupBy("i", "j").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.toDF("i", "ni"), "i")
      .join(sizes.toDF("j", "nj"), "j")
      .withColumn("jaccard",
        round(col("inter") / (col("ni") + col("nj") - col("inter")), 4))
  }

  private[graft] def lshPipelineRaw(s: SparkSession, d: String, shardDict: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    val sigs = lshSigsRaw(s, d, shardDict)
    val shh = hashedShingles(s, d)
    (sigs, shh, lshVerifyRaw(sigs, shh))
  }

  // ------------------------------------ d60 minhash sketch quality

  /** d60: MinHash ESTIMATE vs true Jaccard over the full (unfiltered)
    * LSH candidate set — the sketch-quality evaluation that tells a
    * data team whether 8 hashes are enough before they trust d52's
    * threshold at corpus scale (the dedup twin of the s63/s68/s72
    * recall evals on the ANN side). est = matching signature
    * components / 8, an exact rational on both engines.
    *
    * Scale shape: reuses d52's pipeline (signatures + banded
    * candidates + exact verify); the extra work is one broadcast-sized
    * join of the candidate pairs against the 8-column signature frame
    * — no new corpus-wide stage. */
  def minhashEstimate(s: SparkSession, d: String): DataFrame = {
    // same auto dictionary-path decision as d52/warm(), so the shared
    // cache keys line up and no corpus ever forces a broadcast the
    // ceiling exists to prevent
    val (sigs, _, verified) =
      lshPipeline(s, d, shardDict = estShingles(s, d) > dictBroadcastCeiling)
    val a = sigs.toDF("i" +: (1 to numHashes).map(j => s"a$j"): _*)
    val b = sigs.toDF("j" +: (1 to numHashes).map(j => s"b$j"): _*)
    val matches = (1 to numHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    verified.join(a, "i").join(b, "j")
      .withColumn("est_jaccard", round(matches / lit(numHashes.toDouble), 4))
      .select(col("i").as("doc_a"), col("j").as("doc_b"),
        col("est_jaccard"), col("jaccard").as("true_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  val minhashEstimateSql: String = {
    val hashExprs = (1 to numHashes).map { j =>
      s"min(('0x' || substr(md5('$j:' || shingle), 1, 15))::BIGINT) AS h$j"
    }.mkString(", ")
    val bandSelects = (1 to numHashes / bandSize).map { bnd =>
      s"SELECT doc_id, $bnd AS band, h${bandSize * bnd - 1} AS x, " +
        s"h${bandSize * bnd} AS y FROM sigs"
    }.mkString(" UNION ALL ")
    val matchSum = (1 to numHashes)
      .map(j => s"CASE WHEN sa.h$j = sb.h$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH sh AS ($shingleRowsSql),
      |sigs AS (SELECT doc_id, $hashExprs FROM sh GROUP BY doc_id),
      |bkts AS ($bandSelects),
      |cand AS (
      |  SELECT DISTINCT a.doc_id i, b.doc_id j
      |  FROM bkts a JOIN bkts b
      |    ON a.band = b.band AND a.x = b.x AND a.y = b.y AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT ca.i, ca.j, count(*) inter
      |  FROM (SELECT cand.i, cand.j, a.shingle FROM cand
      |        JOIN sh a ON a.doc_id = cand.i) ca
      |  JOIN sh b ON b.doc_id = ca.j AND b.shingle = ca.shingle
      |  GROUP BY 1, 2)
      |SELECT cand.i AS doc_a, cand.j AS doc_b,
      |  round(($matchSum) / $numHashes.0, 4) AS est_jaccard,
      |  round(inter * 1.0 / (sa2.n + sb2.n - inter), 4) AS true_jaccard
      |FROM cand JOIN inter ON inter.i = cand.i AND inter.j = cand.j
      |JOIN sigs sa ON sa.doc_id = cand.i JOIN sigs sb ON sb.doc_id = cand.j
      |JOIN sizes sa2 ON sa2.doc_id = cand.i
      |JOIN sizes sb2 ON sb2.doc_id = cand.j
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  val minhashLshSql: String = {
    val hashExprs = (1 to numHashes).map { j =>
      s"min(('0x' || substr(md5('$j:' || shingle), 1, 15))::BIGINT) AS h$j"
    }.mkString(", ")
    val bandSelects = (1 to numHashes / bandSize).map { bnd =>
      s"SELECT doc_id, $bnd AS band, h${bandSize * bnd - 1} AS x, " +
        s"h${bandSize * bnd} AS y FROM sigs"
    }.mkString(" UNION ALL ")
    s"""WITH sh AS ($shingleRowsSql),
      |sigs AS (SELECT doc_id, $hashExprs FROM sh GROUP BY doc_id),
      |bkts AS ($bandSelects),
      |cand AS (
      |  SELECT DISTINCT a.doc_id i, b.doc_id j
      |  FROM bkts a JOIN bkts b
      |    ON a.band = b.band AND a.x = b.x AND a.y = b.y AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT ca.i, ca.j, count(*) inter
      |  FROM (SELECT cand.i, cand.j, a.shingle FROM cand
      |        JOIN sh a ON a.doc_id = cand.i) ca
      |  JOIN sh b ON b.doc_id = ca.j AND b.shingle = ca.shingle
      |  GROUP BY 1, 2)
      |SELECT cand.i AS doc_a, cand.j AS doc_b,
      |  round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
      |FROM cand JOIN inter ON inter.i = cand.i AND inter.j = cand.j
      |JOIN sizes sa ON sa.doc_id = cand.i JOIN sizes sb ON sb.doc_id = cand.j
      |WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ------------------------------------------- d55 containment

  /** d55: containment pairs — |A∩B| / min(|A|,|B|) ≥ 0.8. Catches the
    * asymmetric near-dup case Jaccard under-scores: a short document
    * quoted inside a much longer one (reply chains, boilerplate
    * wrappers) has high containment but low Jaccard. Shares d51's
    * cached scored-pair frame — the inverted-index self-join runs once
    * for both queries. */
  def containmentPairs(s: SparkSession, d: String): DataFrame =
    scoredPairsCached(s, d)
      .filter(col("containment") >= 0.8)
      .select("doc_a", "doc_b", "containment")
      .orderBy("doc_a", "doc_b")

  val containmentPairsSql: String =
    s"""WITH shs AS ($shingleRowsSql),
      |sh AS (SELECT doc_id,
      |  ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sh FROM shs),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id i, b.doc_id j, count(*) inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT i AS doc_a, j AS doc_b,
      |  round(inter * 1.0 / least(sa.n, sb.n), 4) AS containment
      |FROM inter JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
      |WHERE round(inter * 1.0 / least(sa.n, sb.n), 4) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------ d53 simhash

  private val simhashBits = 32

  /** d53: 32-bit SimHash per document from md5 bit votes over distinct
    * word-3-gram shingles (bit k set iff more shingles have bit k set
    * than clear). Shingle features, not tokens: this corpus shares one
    * small vocabulary, so token-level SimHash collides for unrelated
    * docs; shingles discriminate. */
  def simhash(s: SparkSession, d: String): DataFrame = {
    // single pass: 32 conditional-sum aggregates in one groupBy — no
    // 32x row explosion, stays inside whole-stage codegen; reuses the
    // shared hashed-shingle frame (uncapped: every shingle votes)
    val withHash = hashedShingles(s, d).withColumnRenamed("sh", "h")
    val voteCols = (0 until simhashBits).map { k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$k")
    }
    val votes = withHash.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
    votes.select(col("doc_id"),
      (0 until simhashBits).map(k =>
        when(col(s"v$k") > 0, lit(1L << k)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
      .orderBy("doc_id")
  }

  val simhashSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(toks) - 1, 1)),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS token
      |  FROM (SELECT doc_id, list_filter(
      |        regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
      |        FROM documents)),
      |votes AS (
      |  SELECT doc_id, k,
      |    sum(CASE WHEN (('0x' || substr(md5(token), 1, 15))::BIGINT >> k) % 2 = 1
      |        THEN 1 ELSE -1 END) AS v
      |  FROM tok, generate_series(0, ${simhashBits - 1}) AS g(k)
      |  GROUP BY doc_id, k)
      |SELECT doc_id,
      |  CAST(sum(CASE WHEN v > 0 THEN CAST(2 ** k AS BIGINT) ELSE 0 END)
      |       AS BIGINT) AS simhash
      |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d53b: near-dup pairs by SimHash hamming distance ≤ 3. Candidate
    * generation is an equi-join on byte bands, never n²: hamming ≤ 3
    * over 32 bits means ≤ 3 bytes differ, so by pigeonhole at least one
    * of the 4 bytes is identical — banding has perfect recall at this
    * threshold. Integer comparisons → exact on both engines. */
  def simhashPairs(s: SparkSession, d: String): DataFrame = {
    // the signature frame feeds both sides of the band self-join; cache
    // it (via the store, one row per doc) so the shingle→vote
    // pipeline runs once, not twice
    val sh = simhashCached(s, d)
    val banded = sh.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), 8 * b).bitwiseAND(lit(255L)).as("byte"))): _*))
        .as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band"), col("bb.byte"))
    val cand = banded.toDF("doc_a", "sig_a", "band", "byte")
      .join(banded.toDF("doc_b", "sig_b", "band", "byte"), Seq("band", "byte"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "sig_a", "doc_b", "sig_b").distinct()
    cand
      .withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("bigint"))
      .filter(col("hamming") <= 3)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  val simhashPairsSql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(toks) - 1, 1)),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS token
      |  FROM (SELECT doc_id, list_filter(
      |        regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
      |        FROM documents)),
      |votes AS (
      |  SELECT doc_id, k,
      |    sum(CASE WHEN (('0x' || substr(md5(token), 1, 15))::BIGINT >> k) % 2 = 1
      |        THEN 1 ELSE -1 END) AS v
      |  FROM tok, generate_series(0, ${simhashBits - 1}) AS g(k)
      |  GROUP BY doc_id, k),
      |sig AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN v > 0 THEN CAST(2 ** k AS BIGINT) ELSE 0 END) AS simhash
      |  FROM votes GROUP BY doc_id)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------- d54 embedding-cosine dups

  /** d54: embedding near-dup pairs, blocked by `label` (IVF-style
    * blocking: at 100 TB you never cross-join the corpus — you compare
    * within coarse clusters only). Cosine on doubles, rounded before
    * the threshold on both engines. */
  /** Max vectors per comparison block (d54). A label block of n vectors
    * emits n²/2 pairs, so an oversized block (skewed label) is sub-split
    * by a vec_id hash into ceil(n/maxBlock) sub-blocks before the
    * self-join — pair count stays ~n·maxBlock. Pairs across sub-blocks
    * are forfeited by design (IVF-style approximation, same contract as
    * LSH banding). Measured fixture max block: 59 at sf0.01, 218 at
    * sf0.1 → one sub-block, oracle results unchanged. */
  private[graft] val maxBlock = 1024

  def embeddingDupPairs(s: SparkSession, d: String): DataFrame =
    embeddingPairsFrom(embeddings(s, d), maxBlock)

  private[graft] def embeddingPairsFrom(emb: DataFrame, cap: Int): DataFrame = {
    // norms precomputed per VECTOR (n rows), not per pair (n²/blocks):
    // the pair stage then runs one fold (dot) instead of three
    val e = emb
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm",
        sqrt(graft.functions.VecExprs.dot_d(col("v"), col("v"))))
    // block-size guard: sub-split oversized labels (see maxBlock)
    val blockSizes = e.groupBy("label").agg(count(lit(1)).as("bn"))
    val eb = e.join(broadcast(blockSizes), "label")
      .withColumn("nsub", greatest(ceil(col("bn") / cap).cast("long"), lit(1L)))
      .withColumn("sub", pmod(xxhash64(col("vec_id")), col("nsub")))
      .select("vec_id", "label", "sub", "v", "nrm")
    val a = eb.toDF("vec_a", "label", "sub", "va", "na")
    val b = eb.toDF("vec_b", "label", "sub", "vb", "nb")
    a.join(b, Seq("label", "sub")).filter(col("vec_a") < col("vec_b"))
      .withColumn("dot",
        graft.functions.VecExprs.dot_d(col("va"), col("vb")))
      .withColumn("cosine", round(col("dot") / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= 0.4)
      .select("label", "vec_a", "vec_b", "cosine")
      .orderBy("vec_a", "vec_b")
  }

  val embeddingDupPairsSql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
      |p AS (
      |  SELECT a.label, a.vec_id vec_a, b.vec_id vec_b,
      |    list_sum(list_transform(range(1, len(a.v) + 1),
      |      i -> a.v[i] * b.v[i])) AS dot,
      |    sqrt(list_sum(list_transform(a.v, x -> x * x))) AS na,
      |    sqrt(list_sum(list_transform(b.v, x -> x * x))) AS nb
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT label, vec_a, vec_b, round(dot / (na * nb), 6) AS cosine
      |FROM p WHERE round(dot / (na * nb), 6) >= 0.4
      |ORDER BY vec_a, vec_b""".stripMargin

  // --------------------------------------- d56 dedup cluster assignment

  /** d56: near-dup CLUSTER assignment — the step after pair generation
    * in a real dedup pipeline: connected components over the d51 pair
    * graph pick one canonical representative (min doc_id) per cluster,
    * so "drop all but the representative" is a single anti-join. GraphX
    * CC (min-reachable-id invariant) checked against a recursive
    * transitive-closure oracle, the g92 pattern applied to dedup. */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    // the pair graph is tiny relative to the corpus but expensive to
    // produce; cache it — the CC path reads it three times (partition
    // sizing count, vertex derivation, edge RDD)
    val pairs = pairEdgesCached(s, d)
    graft.graph.EmailGraph.components(s, pairs)
      .select(col("id").as("doc_id"), col("component").as("cluster_rep"))
      .orderBy("doc_id")
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($jaccardPairsSql)),
      |ue AS (SELECT doc_a a, doc_b b FROM pairs
      |       UNION SELECT doc_b, doc_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT a, a FROM (SELECT doc_a a FROM pairs
      |                    UNION SELECT doc_b FROM pairs) t
      |  UNION
      |  SELECT reach.a, ue.b FROM reach JOIN ue ON reach.b = ue.a)
      |SELECT a AS doc_id, min(b) AS cluster_rep FROM reach
      |GROUP BY a ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ d57 dedup apply

  /** d57: apply the dedup decision — the end-to-end deliverable the
    * pair/cluster tiers exist for: every document outside the pair
    * graph keeps itself; inside a cluster only the canonical
    * representative (min doc_id) survives. Reported as per-language
    * kept/dropped counts. Scale shape: the cluster table is tiny
    * relative to the corpus (only near-dup members appear), so the
    * corpus LEFT-joins it by broadcast — the full corpus never
    * shuffles to be deduplicated. */
  def dedupApply(s: SparkSession, d: String): DataFrame = {
    val clusters = dedupClusters(s, d)
      .select(col("doc_id"), col("cluster_rep"))
    documents(s, d).select("doc_id", "lang")
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .withColumn("kept",
        col("cluster_rep").isNull || col("cluster_rep") === col("doc_id"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"))
      .orderBy("lang")
  }

  val dedupApplySql: String =
    s"""WITH clusters AS ($dedupClustersSql)
      |SELECT lang, count(*) AS n_docs,
      |  sum(CASE WHEN cluster_rep IS NULL OR cluster_rep = doc_id
      |      THEN 1 ELSE 0 END)::BIGINT AS n_kept,
      |  sum(CASE WHEN cluster_rep IS NULL OR cluster_rep = doc_id
      |      THEN 0 ELSE 1 END)::BIGINT AS n_dropped
      |FROM documents LEFT JOIN clusters USING (doc_id)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ----------------------------------------- t49 benchmark decontamination

  /** t49: decontamination scan — flag training documents sharing word
    * 3-grams with a benchmark/eval set (here: the deterministic
    * doc_id%97 slice). The join is inverted-index on shingle hash with
    * the benchmark side broadcast (eval sets are small by nature), so
    * the corpus never shuffles — the right 100 TB shape for "check the
    * whole training set against the eval suite". */
  def decontamination(s: SparkSession, d: String): DataFrame = {
    val sh = hashedShingles(s, d)
    val bench = sh.filter(col("doc_id") % 97 === 0).select("sh").distinct()
    val train = sh.filter(col("doc_id") % 97 =!= 0)
    val sizes = train.groupBy("doc_id").agg(count(lit(1)).as("n"))
    train.join(broadcast(bench), Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      .join(sizes, "doc_id")
      .withColumn("contamination", round(col("n_hit") / col("n"), 4))
      .select("doc_id", "n_hit", "contamination")
      .orderBy("doc_id")
  }

  val decontaminationSql: String =
    s"""WITH shs AS ($shingleRowsSql),
      |bench AS (SELECT DISTINCT shingle FROM shs WHERE doc_id % 97 = 0),
      |train AS (SELECT * FROM shs WHERE doc_id % 97 <> 0),
      |sizes AS (SELECT doc_id, count(*) n FROM train GROUP BY 1),
      |hits AS (
      |  SELECT t.doc_id, count(*) n_hit FROM train t
      |  JOIN bench b ON t.shingle = b.shingle GROUP BY 1)
      |SELECT doc_id, n_hit, round(n_hit * 1.0 / sizes.n, 4) AS contamination
      |FROM hits JOIN sizes USING (doc_id) ORDER BY doc_id""".stripMargin

  // ------------------------------------------ d58 incremental dedup

  /** d58: incremental near-dup dedup — a "new crawl batch" (doc_id % 7
    * == 3, ~1/7 of the corpus) checked against the EXISTING corpus by
    * 3-gram Jaccard ≥ 0.5, without ever re-pairing the corpus against
    * itself. This is the shape that matters at 100 TB: the corpus-side
    * postings stream through the inverted-index equi-join against the
    * BROADCAST new-batch postings (a crawl increment is small by
    * definition), intersection counts partial-aggregate map-side, and
    * the corpus is never shuffled or self-joined. Output is one row per
    * new doc: its best corpus match (max Jaccard, ties → smallest
    * corpus id, via `min(struct(-jaccard, c_id))` — no window sort) or
    * NULL/is_dup=0 if novel. */
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val sh = dfCappedShingles(s, d)
    val newSh = sh.filter(col("doc_id") % 7 === 3).toDF("n_id", "sh")
    val corpSh = sh.filter(col("doc_id") % 7 =!= 3).toDF("c_id", "sh")
    val inter = corpSh.join(broadcast(newSh), "sh")
      .groupBy("n_id", "c_id").agg(count(lit(1)).as("inter"))
    incrDedupFinish(s, d, inter)
  }

  /** Scoring epilogue shared by d58 and its streaming twin (e109):
    * an (n_id, c_id, inter) intersection-count frame → Jaccard →
    * best corpus match per new doc → a verdict row for EVERY
    * new-batch document. `inter` is bounded by the new batch's
    * candidate fan-out — broadcast it against the per-doc size frame
    * (big at scale) on both joins. */
  private[graft] def incrDedupFinish(s: SparkSession, d: String,
      inter: DataFrame): DataFrame = {
    val sizes = dfCappedShingles(s, d)
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val scored = broadcast(inter)
      .join(sizes.toDF("n_id", "nn"), "n_id")
      .join(sizes.toDF("c_id", "nc"), "c_id")
      .withColumn("jaccard",
        round(col("inter") / (col("nn") + col("nc") - col("inter")), 4))
      .filter(col("jaccard") >= 0.5)
    val best = scored.groupBy("n_id")
      .agg(min(struct((-col("jaccard")).as("nj"), col("c_id").as("cid"))).as("m"))
      .select(col("n_id").as("new_doc_id"), col("m.cid").as("dup_of"),
        (-col("m.nj")).as("best_jaccard"))
    documents(s, d).filter(col("doc_id") % 7 === 3)
      .select(col("doc_id").as("new_doc_id"))
      .join(broadcast(best), Seq("new_doc_id"), "left")
      .select(col("new_doc_id"), col("dup_of"), col("best_jaccard"),
        when(col("dup_of").isNotNull, 1L).otherwise(0L).as("is_dup"))
      .orderBy("new_doc_id")
  }

  val incrementalDedupSql: String =
    s"""WITH shs AS ($shingleRowsSql),
      |sh AS (SELECT doc_id,
      |  ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sh FROM shs),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT b.doc_id n_id, a.doc_id c_id, count(*) inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh
      |  WHERE a.doc_id % 7 <> 3 AND b.doc_id % 7 = 3
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT n_id, c_id,
      |    round(inter * 1.0 / (sn.n + sc.n - inter), 4) AS j
      |  FROM inter
      |    JOIN sizes sn ON sn.doc_id = n_id
      |    JOIN sizes sc ON sc.doc_id = c_id
      |  WHERE round(inter * 1.0 / (sn.n + sc.n - inter), 4) >= 0.5),
      |best AS (
      |  SELECT n_id, c_id, j FROM scored
      |  QUALIFY row_number() OVER (PARTITION BY n_id
      |    ORDER BY j DESC, c_id) = 1)
      |SELECT d.doc_id AS new_doc_id, best.c_id AS dup_of,
      |  best.j AS best_jaccard,
      |  CAST(CASE WHEN best.c_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_dup
      |FROM documents d LEFT JOIN best ON best.n_id = d.doc_id
      |WHERE d.doc_id % 7 = 3 ORDER BY new_doc_id""".stripMargin

  // --------------------------------------------- t57 corpus funnel

  /** t57: the END-TO-END training-corpus preparation funnel — the
    * composed pipeline every tier in this module exists to feed:
    * stage 1 applies t50's quality rules, stage 2 drops non-canonical
    * near-dup cluster members (d56's decision), stage 3 removes the
    * eval slice and every document ≥5% contaminated by it (t49's
    * probe, as an exact integer cross-multiplication), stage 4 keeps
    * the t48 train split. Reported as surviving doc/char counts per
    * stage — the funnel audit a data team reads before a training run.
    *
    * Scale shape: ONE pass over the corpus computes all stage flags
    * (the per-doc quality frame joined against three BROADCAST
    * decision sets — cluster members, contaminated ids — plus the
    * split hash, then a single aggregate + stack unpivot). The corpus
    * is never shuffled; every stage decision is deterministic, so
    * re-runs and backfills produce the identical funnel. */
  def corpusFunnel(s: SparkSession, d: String): DataFrame = {
    val sh = hashedShingles(s, d)
    val bench = sh.filter(col("doc_id") % 97 === 0).select("sh").distinct()
    val train = sh.filter(col("doc_id") % 97 =!= 0)
    val sizes = train.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val contam = train.join(broadcast(bench), Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      .join(sizes, "doc_id")
      .filter(col("n_hit") * 20 >= col("n"))
      .select(col("doc_id"), lit(1L).as("contaminated"))
    val clusters = dedupClusters(s, d).select("doc_id", "cluster_rep")
    val flags = documents(s, d).select("doc_id", "n_chars")
      .join(TextOps.qualityReason(s, d), "doc_id")
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .join(broadcast(contam), Seq("doc_id"), "left")
      .withColumn("p1", col("reason") === "kept")
      .withColumn("p2", col("p1") &&
        (col("cluster_rep").isNull || col("cluster_rep") === col("doc_id")))
      .withColumn("p3", col("p2") && col("doc_id") % 97 =!= 0 &&
        col("contaminated").isNull)
      .withColumn("p4", col("p3") &&
        TextOps.md5Long(concat(lit("split:"), col("doc_id").cast("string")))
          % 100 < 80)
    def cnt(p: String) = sum(when(col(p), 1L).otherwise(0L)).as(s"n_$p")
    def chars(p: String) =
      sum(when(col(p), col("n_chars")).otherwise(0L)).as(s"c_$p")
    flags.agg(count(lit(1)).as("n_all"), sum("n_chars").as("c_all"),
        cnt("p1"), chars("p1"), cnt("p2"), chars("p2"),
        cnt("p3"), chars("p3"), cnt("p4"), chars("p4"))
      .select(expr("stack(5," +
        " '0_all', n_all, c_all," +
        " '1_quality', n_p1, c_p1," +
        " '2_dedup', n_p2, c_p2," +
        " '3_decontam', n_p3, c_p3," +
        " '4_train', n_p4, c_p4) AS (stage, n_docs, total_chars)"))
      .orderBy("stage")
  }

  val corpusFunnelSql: String =
    s"""WITH ${TextOps.qualityReasonCte},
      |clusters AS ($dedupClustersSql),
      |shs AS ($shingleRowsSql),
      |bench AS (SELECT DISTINCT shingle FROM shs WHERE doc_id % 97 = 0),
      |train AS (SELECT * FROM shs WHERE doc_id % 97 <> 0),
      |sizes AS (SELECT doc_id, count(*) n FROM train GROUP BY 1),
      |contam AS (
      |  SELECT t.doc_id FROM (
      |    SELECT tr.doc_id, count(*) n_hit FROM train tr
      |    JOIN bench b ON tr.shingle = b.shingle GROUP BY 1) t
      |  JOIN sizes USING (doc_id) WHERE n_hit * 20 >= n),
      |flags AS (
      |  SELECT d.doc_id, d.n_chars,
      |    (h.reason = 'kept') AS p1,
      |    (h.reason = 'kept'
      |     AND (c.cluster_rep IS NULL OR c.cluster_rep = d.doc_id)) AS p2
      |  FROM documents d
      |    JOIN h USING (doc_id)
      |    LEFT JOIN clusters c ON c.doc_id = d.doc_id),
      |flags2 AS (
      |  SELECT f.*,
      |    (f.p2 AND f.doc_id % 97 <> 0 AND ct.doc_id IS NULL) AS p3
      |  FROM flags f LEFT JOIN contam ct ON ct.doc_id = f.doc_id),
      |flags3 AS (
      |  SELECT f.*, (f.p3 AND
      |    ('0x' || substr(md5('split:' || f.doc_id), 1, 15))::BIGINT % 100
      |      < 80) AS p4
      |  FROM flags2 f)
      |SELECT stage, n_docs, total_chars FROM (
      |  SELECT '0_all' AS stage, count(*) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS total_chars FROM flags3
      |  UNION ALL SELECT '1_quality',
      |    CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(CASE WHEN p1 THEN n_chars ELSE 0 END) AS BIGINT)
      |    FROM flags3
      |  UNION ALL SELECT '2_dedup',
      |    CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(CASE WHEN p2 THEN n_chars ELSE 0 END) AS BIGINT)
      |    FROM flags3
      |  UNION ALL SELECT '3_decontam',
      |    CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(CASE WHEN p3 THEN n_chars ELSE 0 END) AS BIGINT)
      |    FROM flags3
      |  UNION ALL SELECT '4_train',
      |    CAST(sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(sum(CASE WHEN p4 THEN n_chars ELSE 0 END) AS BIGINT)
      |    FROM flags3)
      |ORDER BY stage""".stripMargin

  // --------------------------------------- d59 passage-level dedup

  /** d59: passage-level (chunk) exact dedup — the CCNet/RefinedWeb
    * sub-document pass: each document is cut into consecutive 10-token
    * passages, passages are counted corpus-wide by 60-bit hash, and a
    * passage occurring more than once anywhere is a duplicate. Reported
    * per document as (passages, duplicated passages) — the mask a
    * training pipeline applies to drop boilerplate chunks that
    * whole-document dedup can't see.
    *
    * Scale shape: the passage frame shuffles once on the 60-bit hash
    * for the count and once more joining counts back — both exchanges
    * carry (doc_id, hash) pairs, never passage text, so shuffle bytes
    * are ~16/passage regardless of passage length. At 100 TB the count
    * frame is Zipf-skewed (boilerplate passages are hot keys) but the
    * aggregation is a map-side-combining sum, and the join back is on
    * the high-cardinality hash — AQE's skew split covers the tail. */
  def passageDedup(s: SparkSession, d: String): DataFrame =
    passageDedupOf(documents(s, d))

  /** The (doc_id, ph) 10-token passage-hash frame of a (doc_id, text)
    * frame — the sub-document unit shared by d59 (passage dedup) and
    * t68 (passage decontamination). */
  private[graft] def passageHashes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, (size(toks)-1) div 10)," +
          " i -> concat_ws(' ', slice(toks, i*10+1, 10)))")).as("passage"))
      .select(col("doc_id"), md5Long(col("passage")).as("ph"))

  /** The d59 pass over an arbitrary (doc_id, text) frame — exposed so
    * property tests can drive it with adversarial token streams. */
  private[graft] def passageDedupOf(docs: DataFrame): DataFrame = {
    val p = passageHashes(docs)
    val counts = p.groupBy("ph").agg(count(lit(1)).as("cnt"))
    p.join(counts, "ph")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pass"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .orderBy("doc_id")
  }

  val passageDedupSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(0, (len(toks)-1)//10 + 1),
      |    i -> array_to_string(toks[i*10+1 : i*10+10], ' '))) AS passage
      |  FROM t WHERE len(toks) > 0),
      |p AS (
      |  SELECT doc_id, ('0x' || substr(md5(passage), 1, 15))::BIGINT AS ph
      |  FROM px),
      |c AS (SELECT ph, count(*) AS cnt FROM p GROUP BY ph)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pass,
      |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      |FROM p JOIN c USING (ph) GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --------------------------------- t68 passage-level decontamination

  /** t68: PASSAGE-level benchmark decontamination — t49's check at
    * d59's sub-document granularity: a long training document that
    * embeds a verbatim benchmark excerpt carries near-zero
    * WHOLE-document shingle contamination (t49's blind spot grows
    * with document length), but its 10-token passages hash-match the
    * benchmark's exactly. Every training doc gets an audit row
    * (n_hit = 0 included — the audit lists what it cleared, not just
    * what it caught), with contamination in exact ppm so the twin is
    * engine-exact. Scale shape: the benchmark passage set is tiny by
    * construction → broadcast left joins; the corpus-side passages
    * stream through one scan + one aggregation, exchanges carry
    * 60-bit hashes, never passage text. */
  def passageDecontam(s: SparkSession, d: String): DataFrame =
    passageDecontamOf(documents(s, d))

  /** The t68 pass over an arbitrary (doc_id, text) frame — exposed so
    * the spec can plant a benchmark excerpt inside a training doc and
    * assert the hit path (the fixture corpus has no cross-%97 exact
    * passage at sf0.01, so the oracle alone exercises only zeros). */
  private[graft] def passageDecontamOf(docs: DataFrame): DataFrame = {
    val p = passageHashes(docs)
    val bench = p.filter(col("doc_id") % 97 === 0).select("ph").distinct()
    val train = p.filter(col("doc_id") % 97 =!= 0)
    val hits = train.join(broadcast(bench), Seq("ph"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    train.groupBy("doc_id").agg(count(lit(1)).as("n_pass"))
      .join(broadcast(hits), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_pass"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0) * 1000000 div n_pass").as("contam_ppm"))
      .orderBy("doc_id")
  }

  val passageDecontamSql: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(
      |    regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, unnest(list_transform(
      |    range(0, (len(toks)-1)//10 + 1),
      |    i -> array_to_string(toks[i*10+1 : i*10+10], ' '))) AS passage
      |  FROM t WHERE len(toks) > 0),
      |p AS (
      |  SELECT doc_id, ('0x' || substr(md5(passage), 1, 15))::BIGINT AS ph
      |  FROM px),
      |bench AS (SELECT DISTINCT ph FROM p WHERE doc_id % 97 = 0),
      |train AS (SELECT * FROM p WHERE doc_id % 97 <> 0),
      |hits AS (
      |  SELECT t2.doc_id, CAST(count(*) AS BIGINT) AS n_hit
      |  FROM train t2 JOIN bench b ON t2.ph = b.ph GROUP BY 1),
      |sizes AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pass
      |  FROM train GROUP BY 1)
      |SELECT s.doc_id, s.n_pass,
      |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
      |  COALESCE(h.n_hit, 0) * 1000000 // s.n_pass AS contam_ppm
      |FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
      |ORDER BY s.doc_id""".stripMargin

  // --------------------------------------- d61 semantic dedup (SemDeDup)

  /** Cosine threshold above which two same-cluster vectors are
    * semantic duplicates (matches d54's near-dup threshold). */
  private[graft] val semTau = 0.4

  /** d61: SEMANTIC dedup — the SemDeDup pipeline shape: block the
    * corpus by a TRAINED k-means cluster assignment (the s66 coarse
    * quantizer, shared model cache — not a given metadata column like
    * d54's label blocking), compare pairwise cosine only WITHIN a
    * cluster, and drop every vector that has a lower-id τ-neighbor in
    * its cluster (first-writer-wins, the A2 merge rule applied to
    * embeddings). Output is the per-vector keep/drop manifest.
    *
    * Scale shape: the pair space is n²/K per cluster — at 100 TB you
    * scale K with the corpus so clusters stay bounded, and the d54
    * sub-split guard caps any skewed cluster at `maxBlock` vectors
    * (pairs across sub-blocks forfeited by design, the IVF-style
    * approximation contract). The final apply is a broadcast left join
    * of the tiny dropped set against the corpus — the corpus itself
    * never shuffles to be deduplicated (the d57 contract). The whole
    * pipeline incl. the clustering iteration is oracle-checked thanks
    * to the model's fixed-point integer arithmetic. */
  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    val a = SimilarityOps.kmAssignedFull(s, d)
      .withColumn("nrm",
        sqrt(graft.functions.VecExprs.dot_d(col("v"), col("v"))))
    val sizes = a.groupBy("cid").agg(count(lit(1)).as("bn"))
    val ab = a.join(broadcast(sizes), "cid")
      .withColumn("nsub",
        greatest(ceil(col("bn") / maxBlock).cast("long"), lit(1L)))
      .withColumn("sub", pmod(xxhash64(col("vec_id")), col("nsub")))
      .select("cid", "sub", "vec_id", "v", "nrm")
    val x = ab.toDF("cid", "sub", "vec_a", "va", "na")
    val y = ab.toDF("cid", "sub", "vec_b", "vb", "nb")
    val dropped = x.join(y, Seq("cid", "sub"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        round(graft.functions.VecExprs.dot_d(col("va"), col("vb"))
          / (col("na") * col("nb")), 6))
      .filter(col("cosine") >= semTau)
      .select(col("vec_b").as("vec_id")).distinct()
    a.select("vec_id", "cid")
      .join(broadcast(dropped.withColumn("dropped", lit(true))),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dropped").isNull.as("keep"))
      .orderBy("vec_id")
  }

  val semanticDedupSql: String = {
    val cos = SimilarityOps.cosineSqlSnippetForDedup
      .replace("QV", "a.v").replace("CV", "b.v")
    s"""${SimilarityOps.kmSqlPrefixForDedup},
      |dropped AS (
      |  SELECT DISTINCT b.vec_id FROM aF a JOIN aF b
      |  ON a.cid = b.cid AND a.vec_id < b.vec_id
      |  WHERE round($cos, 6) >= $semTau)
      |SELECT f.vec_id, f.cid, (d.vec_id IS NULL) AS keep
      |FROM aF f LEFT JOIN dropped d ON d.vec_id = f.vec_id
      |ORDER BY f.vec_id""".stripMargin
  }

  /** d62: semantic-cluster REPRESENTATIVE selection — the keep step
    * after g103's transitive clustering: for each semantic cluster
    * (connected component of the s90 strong-edge graph), keep the
    * member closest to the cluster CENTROID (highest cosine, ties to
    * the smallest vec_id) — the SemDeDup-style "one canonical doc per
    * semantic group" decision, but by centroid proximity over the
    * whole transitive cluster rather than d61's greedy lower-id rule
    * within a k-means cell. Output is the per-cluster manifest
    * (representative id, its centroid cosine, member count) a
    * curation pipeline joins back to drop the rest.
    *
    * Scale shape: centroids via posexplode → per-(component, pos)
    * mean — members×dim rows through ONE shuffle, linear in corpus —
    * then an equi-join back on component and a single plain aggregate
    * (min-of-struct argmax — map-side partials, no per-cluster sort
    * or window). Cosines are rounded to 6 digits BEFORE the argmax on
    * both engines, so the representative choice is engine-exact (the
    * s60-family discipline). No pairwise stage anywhere: cost is
    * O(members·dim), not O(cluster²). */
  def semanticRepresentatives(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VecExprs.dot_d
    val members = graft.graph.GraphOps.semanticComponentsCached(s, d)
      .join(SimilarityOps.kmAssignedFull(s, d).select("vec_id", "v"),
        "vec_id")
    // centroid components in exact integer MICRO-units: a plain avg()
    // over shuffled double partials is summation-order-dependent (and
    // DuckDB's avg has its own order), so a member whose cosine sits
    // on a 6-digit rounding boundary could flip the hash between runs
    // or engines. Summing round(x·10⁶) as BIGINT is exact on both
    // sides; the final sx/(n·10⁶) division starts from identical
    // inputs, so every centroid double — and every downstream cosine
    // — is bit-identical cross-engine (the kmMeans fixed-point
    // discipline).
    val cent = members
      .select(col("component"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("component", "pos")
      .agg(sum(round(col("x") * 1000000).cast("long")).as("sx"),
        count(lit(1)).as("n"))
      .select(col("component"), col("pos"),
        (col("sx").cast("double") / (col("n") * 1000000.0)).as("cx"))
      .groupBy("component")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        p => p.getField("cx")).as("cv"))
    members.join(cent, "component")
      .withColumn("cosine", round(
        dot_d(col("v"), col("cv")) /
          (sqrt(dot_d(col("v"), col("v"))) *
            sqrt(dot_d(col("cv"), col("cv")))), 6))
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"),
        min(struct((-col("cosine")).as("nc"), col("vec_id").as("id")))
          .as("m"))
      .select(col("component"), col("m.id").as("rep_vec_id"),
        (-col("m.nc")).as("rep_cosine"), col("n_members"))
      .orderBy("component")
  }

  // lazy for the same object-init-cycle reason as
  // GraphOps.semanticComponentsSql, which this composes
  lazy val semanticRepresentativesSql: String = {
    val comp = graft.graph.GraphOps.semanticComponentsSql
      .replaceAll("ORDER BY vec_id$", "")
    val cos = SimilarityOps.cosineSqlSnippetForDedup
      .replace("QV", "m.v").replace("CV", "cent.cv")
    s"""WITH comp AS ($comp),
      |e2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |mem AS (
      |  SELECT c.component, c.vec_id, e2.v
      |  FROM comp c JOIN e2 ON e2.vec_id = c.vec_id),
      |cent AS (
      |  SELECT component, list(cx ORDER BY i) AS cv FROM (
      |    SELECT component, i,
      |      CAST(sum(CAST(round(v[i] * 1000000) AS BIGINT)) AS DOUBLE)
      |        / (count(*) * 1000000.0) AS cx
      |    FROM mem, generate_series(1, 64) AS g(i)
      |    GROUP BY component, i)
      |  GROUP BY component),
      |scored AS (
      |  SELECT m.component, m.vec_id, round($cos, 6) AS cosine
      |  FROM mem m JOIN cent ON cent.component = m.component),
      |ranked AS (
      |  SELECT component, vec_id, cosine,
      |    row_number() OVER (PARTITION BY component
      |      ORDER BY cosine DESC, vec_id) AS rn,
      |    count(*) OVER (PARTITION BY component) AS nm
      |  FROM scored)
      |SELECT component, vec_id AS rep_vec_id, cosine AS rep_cosine,
      |  CAST(nm AS BIGINT) AS n_members
      |FROM ranked WHERE rn = 1 ORDER BY component""".stripMargin
  }

  // --------------------------- d64 incremental semantic dedup gate

  /** d64: the SemDeDup gate at INGEST time — before s81 absorbs a new
    * embedding batch into the served index, decide which batch
    * vectors are semantic duplicates of the ALREADY-INDEXED corpus
    * and should be dropped instead of absorbed (the d58/m79 absorb
    * contract on the dense tier). The gate runs against the SAME
    * frozen artifact s81 maintains: each batch vector is assigned to
    * its nearest FROZEN base-trained coarse centroid (the artifact's
    * own quantizer — the batch never influences training), compared
    * by round-6 cosine against the BASE members of that cell only,
    * and dropped iff any τ-neighbor exists among them (τ = d61's
    * semTau). Output is the per-batch-vector keep/drop manifest.
    *
    * Scale shape: per-batch work is |batch| × (touched cell sizes) —
    * never corpus×corpus and never batch×batch (intra-batch dups are
    * d61's job after absorb); cells stay bounded because K scales
    * with the corpus (the IVF knob), and the batch assignment is one
    * broadcast-centroid argmin. The manifest join-back is the d57
    * broadcast contract. Oracle: the frozen-model assignment is
    * replayed bit-for-bit in DuckDB (kmSqlPrefixFrom with the base
    * training predicate — fixed-point Lloyd, so even the frozen
    * quantizer hash-checks), then the same cell-blocked batch×base
    * cosine test. */
  def incrementalSemanticDedup(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VecExprs.dot_d
    val idx = SimilarityOps.incrIndexDirForDedup(s, d)
    val b = SimilarityOps.incrBaseCut(s, d)
    val cent = s.read.parquet(s"$idx/centroids")
    val qb = SimilarityOps.kmAssignForDedup(
        SimilarityOps.quantizedForDedup(s, d).filter(col("vec_id") >= b),
        cent)
      .select(col("vec_id"), col("cid"), col("v"))
      .withColumn("nrm", sqrt(dot_d(col("v"), col("v"))))
    val base = gateBaseMembers(s, d)
    val dropped = qb.join(base, "cid")
      .withColumn("cosine",
        round(dot_d(col("v"), col("bv")) / (col("nrm") * col("bn")), 6))
      .filter(col("cosine") >= semTau)
      .select("vec_id").distinct()
    qb.select("vec_id", "cid")
      .join(broadcast(dropped.withColumn("dropped", lit(true))),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("dropped").isNull.as("keep"))
      .orderBy("vec_id")
  }

  val incrementalSemanticDedupSql: String = {
    val cos = SimilarityOps.cosineSqlSnippetForDedup
      .replace("QV", "n.v").replace("CV", "o.v")
    val prefix = SimilarityOps.kmSqlPrefixFromForDedup(
      "vec_id < (SELECT 4 * count(*) // 5 FROM embeddings)")
    s"""$prefix,
      |cut AS (SELECT 4 * count(*) // 5 AS b FROM embeddings),
      |batch AS (
      |  SELECT f.vec_id, f.cid, f.v FROM aF f, cut WHERE f.vec_id >= cut.b),
      |basem AS (
      |  SELECT f.vec_id, f.cid, f.v FROM aF f, cut WHERE f.vec_id < cut.b),
      |dropped AS (
      |  SELECT DISTINCT n.vec_id
      |  FROM batch n JOIN basem o ON o.cid = n.cid
      |  WHERE round($cos, 6) >= $semTau)
      |SELECT b2.vec_id, b2.cid, (d.vec_id IS NULL) AS keep
      |FROM batch b2 LEFT JOIN dropped d ON d.vec_id = b2.vec_id
      |ORDER BY b2.vec_id""".stripMargin
  }

  /** The frozen artifact's BASE cell members with vectors and norms —
    * shared by d64's batch gate and e119's streaming gate (where it is
    * the static side of the stream-static join). */
  private[graft] def gateBaseMembers(s: SparkSession, d: String): DataFrame = {
    import graft.functions.VecExprs.dot_d
    val idx = SimilarityOps.incrIndexDirForDedup(s, d)
    val b = SimilarityOps.incrBaseCut(s, d)
    s.read.parquet(s"$idx/members")
      .filter(col("vec_id") < b)
      .join(SimilarityOps.quantizedForDedup(s, d).select("vec_id", "v"),
        "vec_id")
      .select(col("vec_id").as("b_id"), col("cid"), col("v").as("bv"))
      .withColumn("bn", sqrt(dot_d(col("bv"), col("bv"))))
  }

  /** The STATELESS e119 scoring stage: each batch vector (already
    * cell-assigned, with its norm) LEFT-OUTER joins its cell's base
    * members with the τ test INSIDE the join condition — matched rows
    * are its τ-neighbors, an unmatched vector keeps exactly one
    * null-`b_id` row, so no batch vector can vanish from the gate's
    * manifest (the e115 null-row rule) and the sink carries
    * |τ-matches| + |clean batch| rows, never |batch| × |cell|.
    * Row-local against cell-bounded static partners: append-legal,
    * no stateful operator. */
  private[graft] def gateScores(batch: DataFrame, base: DataFrame): DataFrame = {
    import graft.functions.VecExprs.dot_d
    batch.join(base,
        base("cid") === batch("cid") &&
          round(dot_d(batch("v"), base("bv")) / (batch("nrm") * base("bn")),
            6) >= semTau,
        "left_outer")
      .select(batch("vec_id"), batch("cid"), base("b_id"))
  }

  /** The e119 read-time epilogue: keep ⇔ no τ-neighbor row landed —
    * d64's verdict shape over the drained log. */
  private[graft] def gateVerdict(log: DataFrame): DataFrame =
    log.groupBy("vec_id", "cid")
      .agg(count(col("b_id")).as("nd"))
      .select(col("vec_id"), col("cid"), (col("nd") === 0).as("keep"))
      .orderBy("vec_id")

  // --------------------------------- d63 semantic decontamination

  /** d63: SEMANTIC decontamination — the dense complement of the
    * lexical checks (t49 whole-document shingles, t68 passages): a
    * training document whose EMBEDDING sits too close to a benchmark
    * member leaks eval signal even when not one n-gram matches (a
    * paraphrase, a translation, a reformatted copy), so the gate a
    * careful pipeline runs before training is similarity against the
    * benchmark set in embedding space. The benchmark cohort
    * (vec_id % 37 == 2 — the held-out eval-set stand-in, disjoint
    * from training by t70's routing) broadcasts; every remaining
    * corpus vector gets ONE audit row: its max cosine against the
    * benchmark in exact integer micros (round-6, the d62 discipline,
    * so the argmax is engine-exact), the closest benchmark member
    * (ties to the smallest id via one min-of-struct aggregate), and
    * the verdict at τ = 0.36 — calibrated to the fixture's p99 so
    * the contaminated branch actually fires under the oracle.
    *
    * Scale shape: benchmark sets are bounded by construction (an
    * eval suite, not a corpus), so this is ONE corpus scan against a
    * broadcast |bench|-row table; partial aggregation collapses each
    * scan partition to one row per corpus vector BEFORE the exchange,
    * so the shuffle carries n audit rows, never n×|bench| scored
    * rows — the s60 shape with the bounded heap replaced by a
    * min-struct argmax. Stateless scoring + an upsertable per-vector
    * epilogue, so the same stages gate a crawl stream (e117). */
  def semanticDecontam(s: SparkSession, d: String): DataFrame = {
    val e = normedVectors(embeddings(s, d))
    contamVerdict(contamScores(
      e.filter(col("vec_id") % 37 =!= 2),
      e.filter(col("vec_id") % 37 === 2).toDF("b_id", "bv", "bn")))
  }

  /** (vec_id, v, nrm) with the norm precomputed per vector. */
  private[graft] def normedVectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm",
        sqrt(graft.functions.VecExprs.dot_d(col("v"), col("v"))))

  /** The stateless d63 scoring stage: (vec_id, b_id, cos_u) for every
    * (corpus vector, benchmark member) pair — row-local against the
    * broadcast benchmark, so it runs unchanged on a streaming frame
    * (e117's per-batch gate). */
  private[graft] def contamScores(
      corpus: DataFrame, bench: DataFrame): DataFrame =
    corpus.crossJoin(broadcast(bench))
      .select(col("vec_id"), col("b_id"),
        // integer micro-cosine (the d62 fixed-point discipline)
        round(graft.functions.VecExprs.dot_d(col("v"), col("bv"))
            / (col("nrm") * col("bn")) * 1000000)
          .cast("bigint").as("cos_u"))

  /** The d63 read-time epilogue: per-vector max/argmax + verdict. */
  private[graft] def contamVerdict(scores: DataFrame): DataFrame =
    scores
      .groupBy("vec_id")
      .agg(min(struct((col("cos_u") * -1L).as("nc"), col("b_id"))).as("m"))
      .select(col("vec_id"),
        col("m.b_id").as("bench_id"),
        (col("m.nc") * -1L).as("max_cos_u"),
        when(col("m.nc") * -1L >= 360000L, "contaminated")
          .otherwise("clean").as("verdict"))
      .orderBy("vec_id")

  private val contamCosSql =
    """list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * b.bv[i]))
      | / (sqrt(list_sum(list_transform(c.v, x -> x * x)))
      |    * sqrt(list_sum(list_transform(b.bv, x -> x * x))))""".stripMargin

  val semanticDecontamSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |b AS (SELECT vec_id AS b_id, v AS bv FROM e WHERE vec_id % 37 = 2),
      |c AS (SELECT vec_id, v FROM e WHERE vec_id % 37 <> 2),
      |sc AS (
      |  SELECT c.vec_id, b.b_id,
      |    CAST(round(($contamCosSql) * 1000000) AS BIGINT) AS cos_u
      |  FROM c, b),
      |rk AS (
      |  SELECT vec_id, b_id, cos_u, row_number() OVER (
      |    PARTITION BY vec_id ORDER BY cos_u DESC, b_id) AS rn
      |  FROM sc)
      |SELECT vec_id, b_id AS bench_id, cos_u AS max_cos_u,
      |  CASE WHEN cos_u >= 360000 THEN 'contaminated' ELSE 'clean' END
      |    AS verdict
      |FROM rk WHERE rn = 1 ORDER BY vec_id""".stripMargin

  // ----------------------- d65 arbitrary-offset exact substring dedup

  private[ext] val runWindow = 5   // tokens per window
  private[ext] val runDocCap = 16  // max distinct docs per window hash

  /** d65: cross-document repeated substrings at ARBITRARY alignment —
    * the standard exact-substring pass an LLM corpus runs before
    * training (cf. Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"), and the rung above the d-tier's
    * whole-document (d50) and fixed-boundary passage (d59) dedup: a
    * shared passage is found wherever it starts in either document.
    * Reference anchor: `ingest_enron.py:113-120` deduplicates at
    * whole-document dedupe_key granularity only.
    *
    * Pipeline (never all-pairs — d52's blocking discipline):
    *  1. every-offset token windows (w=5) hashed by the codegen'd
    *     [[graft.functions.RollingWindowHash64]] — O(doc bytes) per
    *     doc via prefix-hash range extraction, not O(w·bytes);
    *  2. inverted index (hash → doc_id, pos): the only wide exchange,
    *     and it carries 24-byte rows, never window text;
    *  3. hot-hash DF cap: window hashes present in > 16 distinct docs
    *     (stop-phrase shingles at corpus scale) are dropped before
    *     pairing, bounding any hash's pair fan-out at cap² — on this
    *     fixture the max is 3 docs/hash so the cap drops nothing
    *     (the guard is pinned by Round17Spec's planted hot window);
    *  4. same-hash equi-join (doc_a < doc_b) → matching offset pairs;
    *  5. maximal-run stitching: matches on one DIAGONAL
    *     (pb − pa constant) at consecutive positions are one run —
    *     gaps-and-islands per (pair, diagonal), all window math;
    *     run_tokens = windows_in_run + w − 1.
    *
    * A run is MAXIMAL by construction (extending it by one token in
    * either direction would require the adjacent window to match,
    * which would have joined the island) — pinned by Round17Spec.
    * Matching is by 64-bit polynomial hash: two distinct w-grams
    * colliding would take ~2^32 distinct windows per diagonal cell to
    * matter (birthday bound) and any collision reproduces identically
    * in the oracle, which rebuilds every window hash from per-token
    * folds through the composition law H(A⧺B) = H(A)·31^|B| + H(B).
    * The fixture discriminates BOTH stitching axes: 26 multi-window
    * runs on the zero diagonal (consecutive-position stitching) and
    * 11 runs on nonzero diagonals (arbitrary-alignment matches). */
  /** (doc_id, pos, hw): the every-offset window-hash frame of a
    * documents frame — one RollingWindowHash64 array per doc,
    * posexploded to 1-based positions. Stateless, so the same helper
    * serves d65/d66 batch-side and e122's stream stage. */
  private[graft] def windowFrame(docs: DataFrame): DataFrame =
    windowFrameW(docs, runWindow)

  /** [[windowFrame]] at an explicit window length — the d69
    * sensitivity eval drives w ∈ {5, 8, 12} through the identical
    * stage. */
  private[graft] def windowFrameW(docs: DataFrame, w: Int): DataFrame = {
    import graft.functions.RollingWindowHash64.rolling_window_hash64
    docs
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"),
        posexplode(rolling_window_hash64(col("ts"), w)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("hw"))
  }

  /** d65's pipeline at an explicit window length, unordered — the
    * shared core of d65 (w = runWindow, ordered), d68 (consumes runs
    * ≥ the gate threshold) and d69 (w ∈ {5, 8, 12} aggregate). */
  private[graft] def substringRunsCore(s: SparkSession, d: String,
      w: Int): DataFrame = {
    // the production window length rides the shared cached frame
    // ([[corpusWindows]]); d69's off-width legs (w ∈ {5, 12}) keep
    // their own passes — they exist to vary exactly this stage
    val wins =
      if (w == runWindow) corpusWindows(s, d)
      else windowFrameW(documents(s, d), w)
    val hot = wins.groupBy("hw")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") > runDocCap).select("hw")
    val ok = wins.join(hot, Seq("hw"), "left_anti")
    val a = ok.select(col("hw"), col("doc_id").as("doc_a"), col("pos").as("pa"))
    val b = ok.select(col("hw"), col("doc_id").as("doc_b"), col("pos").as("pb"))
    val pairs = a.join(b, Seq("hw")).filter(col("doc_a") < col("doc_b"))
    val isl = pairs
      .withColumn("diag", col("pb") - col("pa"))
      .withColumn("isl", col("pa") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_a", "doc_b", "diag").orderBy("pa")))
    isl.groupBy("doc_a", "doc_b", "diag", "isl")
      .agg(min("pa").as("a_start"), min("pb").as("b_start"),
        (count(lit(1)) + (w - 1)).as("run_tokens"))
      .select("doc_a", "doc_b", "a_start", "b_start", "run_tokens")
  }

  def substringRuns(s: SparkSession, d: String): DataFrame =
    substringRunsCore(s, d, runWindow)
      .orderBy("doc_a", "doc_b", "a_start", "b_start")

  /** The w-independent token CTEs of the substring-tier oracles:
    * per-token HUGEINT hash folds (t46's wraparound emulation) plus
    * the 31-power tables the window composition multiplies by. */
  private val substringTokCtesSql: String =
    """tk AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                x -> x <> '') AS ts
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, len(ts) AS n,
      |    list_transform(ts, t -> list_reduce(list_prepend(0::HUGEINT,
      |        list_transform(range(1, length(t) + 1),
      |          i -> ord(substring(t, CAST(i AS INT), 1))::HUGEINT)),
      |      (a, b) -> (a * 31 + b) % 18446744073709551616::HUGEINT)) AS hts,
      |    list_transform(ts, t -> list_reduce(list_prepend(32::HUGEINT,
      |        list_transform(range(1, length(t) + 1),
      |          i -> ord(substring(t, CAST(i AS INT), 1))::HUGEINT)),
      |      (a, b) -> (a * 31 + b) % 18446744073709551616::HUGEINT)) AS hsts,
      |    list_transform(ts, t -> list_reduce(
      |        list_prepend(1::HUGEINT, range(1, length(t) + 2)),
      |      (a, b) -> (a * 31) % 18446744073709551616::HUGEINT)) AS pwts
      |  FROM tk)""".stripMargin

  /** The wins→hot→ok→pairs→isl CTE chain at window length `w`, names
    * suffixed `sfx` so d69 can stack three chains in one query (d65 /
    * d68 use the unsuffixed w = 5 chain). */
  private def substringWindowCtesSql(w: Int, sfx: String): String =
    s"""wins$sfx AS (
      |  SELECT doc_id, i AS pos,
      |    list_reduce(list_prepend(hts[i], range(i + 1, i + $w)),
      |      (a, k) -> (a * pwts[CAST(k AS BIGINT)] + hsts[CAST(k AS BIGINT)])
      |                % 18446744073709551616::HUGEINT) AS hw
      |  FROM tok, unnest(range(1, n - ${w - 2})) AS t(i)),
      |hot$sfx AS (
      |  SELECT hw FROM (SELECT hw, count(DISTINCT doc_id) AS nd
      |                  FROM wins$sfx GROUP BY 1) WHERE nd > 16),
      |ok$sfx AS (SELECT * FROM wins$sfx
      |           WHERE hw NOT IN (SELECT hw FROM hot$sfx)),
      |pairs$sfx AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      |  FROM ok$sfx a JOIN ok$sfx b ON a.hw = b.hw AND a.doc_id < b.doc_id),
      |isl$sfx AS (
      |  SELECT doc_a, doc_b, pb - pa AS diag, pa, pb,
      |    pa - row_number() OVER (
      |      PARTITION BY doc_a, doc_b, pb - pa ORDER BY pa) AS isl
      |  FROM pairs$sfx)""".stripMargin

  /** The oracle rebuilds every window hash from per-token HUGEINT
    * folds (t46's wraparound emulation) composed by
    * H(A ⧺ ' ' ⧺ t) = H(A)·31^(len(t)+1) + H(' '⧺t) — checking the
    * exact algebra the Spark side's prefix-hash extraction relies on,
    * at every window of the fixture. Pure-ASCII fixture (verified at
    * t46), so ord(char) == byte. */
  lazy val substringRunsSql: String =
    s"""WITH $substringTokCtesSql,
      |${substringWindowCtesSql(runWindow, "")}
      |SELECT doc_a, doc_b, min(pa)::BIGINT AS a_start,
      |  min(pb)::BIGINT AS b_start,
      |  (count(*) + ${runWindow - 1})::BIGINT AS run_tokens
      |FROM isl GROUP BY doc_a, doc_b, diag, isl
      |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin

  // --------------------------------- d67 LSH banding sensitivity eval

  private val bandingSettings = Seq((8, 1), (4, 2), (2, 4), (1, 8))

  /** d67: the (bands, rows-per-band) knob of d52's banded LSH,
    * MEASURED — the s63/s65/s72 recall-eval discipline applied to the
    * dedup tier's one free parameter. Every (b, r) factorization of
    * the SAME 8-component MinHash signature generates its own
    * candidate set (band key = md5 of the band's r components — one
    * 64-bit key whatever r, so all four bandings ride ONE
    * (setting, band, key) self-join), scored against the exact ≥0.5
    * near-dup truth (d51's scored pairs — candidate generation by
    * shingle co-occurrence, independent of any banding, so no
    * circularity). Detection probability is 1−(1−s^r)^b; the fixture
    * table shows the whole trade: (1,8) misses true pairs (recall
    * < 1), (8,1) pays ~30× the candidate budget for zero recall gain
    * over the production (4,2), which sits at the knee. At 100 TB
    * this table (rebuilt on a sample) is the evidence for moving the
    * knob as the corpus's similarity distribution drifts; the
    * candidate count column is the cost axis because candidates are
    * exactly what the downstream verify stage pays for. */
  def lshBandingEval(s: SparkSession, d: String): DataFrame = {
    val (sigs, _, _) = lshPipeline(s, d,
      shardDict = estShingles(s, d) > dictBroadcastCeiling)
    // volume-derived shuffle width for the whole eval (§2.1, round-17):
    // every stage after the cached signature frame (bucket self-join,
    // candidate distinct, truth join, final aggregate) is
    // fixture-tiny — 15 bucket rows per doc — but ran at session
    // width, paying 32-way scheduling per stage (the one >2× c8<c32
    // entry in PERF_r16's scaling block). The count is the cached
    // frame's, effectively free; at real scale the formula returns
    // the session width unchanged. Result is materialized inside
    // (localCheckpoint) per the withVolumeShuffle contract; the
    // trailing orderBy on 4 rows runs under the restored conf.
    val nBucketRows =
      sigs.count() * bandingSettings.map(_._1).sum
    graft.operators.Salting.withVolumeShuffle(s, nBucketRows) {
      lshBandingEvalBody(s, d, sigs).localCheckpoint(true)
    }.orderBy("rows_per_band")
  }

  private def lshBandingEvalBody(s: SparkSession, d: String,
      sigs: DataFrame): DataFrame = {
    val buckets = bandingSettings.map { case (b, r) =>
      val rows = (1 to b).map { bnd =>
        struct(lit(s"b${b}r$r").as("skey"), lit(bnd).as("band"),
          md5Long(concat_ws(":",
            ((bnd - 1) * r + 1 to bnd * r)
              .map(j => col(s"h$j").cast("string")): _*)).as("k"))
      }
      sigs.select(col("doc_id"), explode(array(rows: _*)).as("bk"))
        .select(col("doc_id"), col("bk.skey").as("skey"),
          col("bk.band").as("band"), col("bk.k").as("k"))
    }.reduce(_ unionAll _)
    val cands = buckets.toDF("i", "skey", "band", "k")
      .join(buckets.toDF("j", "skey", "band", "k"), Seq("skey", "band", "k"))
      .filter(col("i") < col("j"))
      .select("skey", "i", "j").distinct()
    val truth = nearDupPairs(s, d).toDF("i", "j")
    val tn = truth.agg(count(lit(1)).as("truth_pairs"))
    val settingsDf = s.range(1).select(explode(array(
        bandingSettings.map { case (b, r) =>
          struct(lit(s"b${b}r$r").as("skey"), lit(b).as("bands"),
            lit(r).as("rows_per_band")) }: _*)).as("x"))
      .select(col("x.skey").as("skey"), col("x.bands").as("bands"),
        col("x.rows_per_band").as("rows_per_band"))
    // zero-row seeds + union + one aggregate (the d66 lesson: a left
    // join against a unique-key aggregate is count-prunable)
    val tagged = settingsDf
      .select(col("skey"), lit(0L).as("cnt"), lit(0L).as("fnd"))
      .unionAll(cands.select(col("skey"),
        lit(1L).as("cnt"), lit(0L).as("fnd")))
      .unionAll(cands.join(truth, Seq("i", "j"))
        .select(col("skey"), lit(0L).as("cnt"), lit(1L).as("fnd")))
    tagged.groupBy("skey")
      .agg(sum("cnt").as("n_candidates"), sum("fnd").as("found_pairs"))
      .join(settingsDf, Seq("skey"))
      .crossJoin(broadcast(tn))
      .withColumn("recall_ppm",
        expr("(found_pairs * 1000000) div truth_pairs"))
      .select("skey", "bands", "rows_per_band", "n_candidates",
        "truth_pairs", "found_pairs", "recall_ppm")
  }

  lazy val lshBandingEvalSql: String = {
    val hashExprs = (1 to numHashes).map { j =>
      s"min(('0x' || substr(md5('$j:' || shingle), 1, 15))::BIGINT) AS h$j"
    }.mkString(", ")
    val bucketSelects = bandingSettings.flatMap { case (b, r) =>
      (1 to b).map { bnd =>
        val comps = ((bnd - 1) * r + 1 to bnd * r)
          .map(j => s"CAST(h$j AS VARCHAR)").mkString(" || ':' || ")
        s"SELECT doc_id, 'b${b}r$r' AS skey, $bnd AS band, " +
          s"('0x' || substr(md5($comps), 1, 15))::BIGINT AS k FROM sigs"
      }
    }.mkString(" UNION ALL ")
    val settingRows = bandingSettings
      .map { case (b, r) => s"('b${b}r$r', $b, $r)" }.mkString(", ")
    s"""WITH sh AS ($shingleRowsSql),
      |sigs AS (SELECT doc_id, $hashExprs FROM sh GROUP BY doc_id),
      |bkts AS ($bucketSelects),
      |cand AS (SELECT DISTINCT a.skey, a.doc_id i, b.doc_id j
      |  FROM bkts a JOIN bkts b ON a.skey = b.skey AND a.band = b.band
      |    AND a.k = b.k AND a.doc_id < b.doc_id),
      |truth AS (SELECT doc_a i, doc_b j FROM ($jaccardPairsSql)),
      |tn AS (SELECT count(*)::BIGINT AS truth_pairs FROM truth),
      |st(skey, bands, rows_per_band) AS (VALUES $settingRows)
      |SELECT st.skey, st.bands, st.rows_per_band,
      |  (SELECT count(*) FROM cand c WHERE c.skey = st.skey)::BIGINT
      |    AS n_candidates,
      |  (SELECT truth_pairs FROM tn) AS truth_pairs,
      |  (SELECT count(*) FROM cand c JOIN truth t
      |     ON t.i = c.i AND t.j = c.j
      |   WHERE c.skey = st.skey)::BIGINT AS found_pairs,
      |  ((SELECT count(*) FROM cand c JOIN truth t
      |      ON t.i = c.i AND t.j = c.j
      |    WHERE c.skey = st.skey) * 1000000
      |   // (SELECT truth_pairs FROM tn))::BIGINT AS recall_ppm
      |FROM st ORDER BY rows_per_band""".stripMargin
  }

  // ------------------- d66 incremental substring-dedup gate (absorb)

  private[ext] val runDupThreshold = 12L

  /** The corpus-side window INDEX: base-segment (doc_id % 5 != 4)
    * window hashes with the >16-docs hot hashes dropped — the
    * standing artifact a deployment persists (the s81/s88 absorb
    * discipline; here rebuilt per call, the em70 honesty rule). */
  private[graft] def baseWindowIndex(s: SparkSession, d: String): DataFrame = {
    val baseW = corpusWindows(s, d).filter(col("doc_id") % 5 =!= 4)
    val hot = baseW.groupBy("hw")
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") > runDocCap).select("hw")
    baseW.join(hot, Seq("hw"), "left_anti")
      .select(col("hw"), col("doc_id").as("base_id"), col("pos").as("pa"))
  }

  /** d66's read-time epilogue over the matched-window log (doc_id,
    * base_id, pb, pa): maximal-run stitching per (batch doc, base
    * doc, diagonal), then the per-batch-doc verdict — shared by the
    * batch gate and its e122 streaming twin so both hash-check
    * against the same oracle. */
  private[graft] def incrSubstringFinish(s: SparkSession, d: String,
      pairs: DataFrame,
      seedPred: org.apache.spark.sql.Column = col("doc_id") % 5 === 4)
      : DataFrame = {
    val isl = pairs
      .withColumn("diag", col("pa") - col("pb"))
      .withColumn("isl", col("pb") - row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id", "base_id", "diag").orderBy("pb")))
    val runs = isl.groupBy("doc_id", "base_id", "diag", "isl")
      .agg((count(lit(1)) + (runWindow - 1)).as("rt"))
    // zero-row union instead of a left join: every batch doc
    // contributes one (0, 0) seed row, runs contribute (1, rt), and
    // one doc_id aggregation produces the census — no join to
    // plan (one exchange), and no unique-right-key left join the
    // optimizer could eliminate under a count-only evaluation (which
    // would let a bench timing measure a pruned plan)
    val seeds = documents(s, d).filter(seedPred)
      .select(col("doc_id"), lit(0L).as("one"), lit(0L).as("rt"))
    seeds.unionAll(runs.select(col("doc_id"), lit(1L).as("one"), col("rt")))
      .groupBy("doc_id")
      .agg(sum("one").as("n_runs"), max("rt").as("best_run_tokens"))
      .withColumn("verdict",
        when(col("best_run_tokens") >= runDupThreshold, lit("dup"))
          .otherwise(lit("keep")))
      .orderBy("doc_id")
  }

  /** d66: the exact-substring dedup gate at INGEST time — before a
    * new crawl batch (doc_id % 5 == 4, the k83/d58 absorb split)
    * enters the corpus, every batch document is checked for maximal
    * repeated substrings AGAINST THE STANDING CORPUS INDEX (d65's
    * machinery, asymmetric): batch windows equi-join the base
    * segment's capped window index, runs stitch per (batch doc, base
    * doc, diagonal), and the verdict drops a document whose longest
    * matched run reaches 12 tokens (boilerplate/quotation below the
    * threshold rides along as evidence — n_runs and best_run_tokens
    * are output columns, and all three populations are non-trivial
    * on the fixture: 4 dup / 6 matched-keep / 90 clean at sf0.01).
    * Per-batch work = batch windows × index fan-out — the corpus is
    * never re-paired against itself or rescanned (d58's absorb
    * contract at substring granularity; intra-batch duplication is
    * d65's symmetric pass). */
  def incrSubstringDedup(s: SparkSession, d: String): DataFrame = {
    val batchW = corpusWindows(s, d).filter(col("doc_id") % 5 === 4)
      .select(col("hw"), col("doc_id"), col("pos").as("pb"))
    val pairs = batchW.join(baseWindowIndex(s, d), Seq("hw"))
      .select("doc_id", "base_id", "pb", "pa")
    incrSubstringFinish(s, d, pairs)
  }

  /** Shares d65's window-hash oracle mechanics (per-token HUGEINT
    * folds composed by H(A⧺B) = H(A)·31^|B| + H(B)), split
    * asymmetrically into base index / batch probe. */
  val incrSubstringDedupSql: String =
    """WITH tk AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'),
      |                x -> x <> '') AS ts
      |  FROM documents),
      |tok AS (
      |  SELECT doc_id, len(ts) AS n,
      |    list_transform(ts, t -> list_reduce(list_prepend(0::HUGEINT,
      |        list_transform(range(1, length(t) + 1),
      |          i -> ord(substring(t, CAST(i AS INT), 1))::HUGEINT)),
      |      (a, b) -> (a * 31 + b) % 18446744073709551616::HUGEINT)) AS hts,
      |    list_transform(ts, t -> list_reduce(list_prepend(32::HUGEINT,
      |        list_transform(range(1, length(t) + 1),
      |          i -> ord(substring(t, CAST(i AS INT), 1))::HUGEINT)),
      |      (a, b) -> (a * 31 + b) % 18446744073709551616::HUGEINT)) AS hsts,
      |    list_transform(ts, t -> list_reduce(
      |        list_prepend(1::HUGEINT, range(1, length(t) + 2)),
      |      (a, b) -> (a * 31) % 18446744073709551616::HUGEINT)) AS pwts
      |  FROM tk),
      |wins AS (
      |  SELECT doc_id, i AS pos,
      |    list_reduce(list_prepend(hts[i], range(i + 1, i + 5)),
      |      (a, k) -> (a * pwts[CAST(k AS BIGINT)] + hsts[CAST(k AS BIGINT)])
      |                % 18446744073709551616::HUGEINT) AS hw
      |  FROM tok, unnest(range(1, n - 3)) AS t(i)),
      |basew AS (SELECT * FROM wins WHERE doc_id % 5 <> 4),
      |hot AS (
      |  SELECT hw FROM (SELECT hw, count(DISTINCT doc_id) AS nd
      |                  FROM basew GROUP BY 1) WHERE nd > 16),
      |idx AS (SELECT hw, doc_id AS base_id, pos AS pa FROM basew
      |        WHERE hw NOT IN (SELECT hw FROM hot)),
      |batchw AS (SELECT hw, doc_id, pos AS pb FROM wins
      |           WHERE doc_id % 5 = 4),
      |pairs AS (
      |  SELECT b.doc_id, i.base_id, b.pb, i.pa
      |  FROM batchw b JOIN idx i ON i.hw = b.hw),
      |isl AS (
      |  SELECT doc_id, base_id, pa - pb AS diag, pb,
      |    pb - row_number() OVER (
      |      PARTITION BY doc_id, base_id, pa - pb ORDER BY pb) AS isl
      |  FROM pairs),
      |runs AS (SELECT doc_id, base_id, diag, isl,
      |           count(*) + 4 AS rt FROM isl GROUP BY 1, 2, 3, 4),
      |per AS (SELECT doc_id, count(*)::BIGINT AS n_runs,
      |          max(rt)::BIGINT AS best_run_tokens FROM runs GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(per.n_runs, 0)::BIGINT AS n_runs,
      |  coalesce(per.best_run_tokens, 0)::BIGINT AS best_run_tokens,
      |  CASE WHEN coalesce(per.best_run_tokens, 0) >= 12
      |       THEN 'dup' ELSE 'keep' END AS verdict
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) d
      |LEFT JOIN per ON per.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ------------------- d68 substring-dedup APPLY (the cleaned corpus)

  /** d68: the substring-dedup APPLY — the output artifact the whole
    * substring tier exists to produce: the substring-CLEANED corpus.
    * Closes the detect (d65) → gate (d66/e122) → apply ladder at
    * substring granularity, the rung d57 covers only at document
    * granularity. Reference anchor: `ingest_enron.py:113-120` — the
    * reference's dedupe ladder ends by dropping whole documents on
    * dedupe_key; the standard LLM-corpus exact-substring pass instead
    * cuts the duplicated SPAN from later documents and keeps the rest
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better").
    *
    * Semantics (pinned by Round18Spec):
    *  - KEEP-FIRST: for every maximal run (d65, doc_a < doc_b), the
    *    earliest document keeps its span (the A2 first-writer
    *    discipline ordered by doc_id); the later document cuts its
    *    matched token range. A document keeps exactly the spans it
    *    is the corpus-earliest holder of — a middle document both
    *    cuts (vs an earlier doc) and donates (to a later one).
    *  - GATE: only runs of ≥ `runDupThreshold` (12) tokens cut —
    *    d66's drop rule; quotation-length matches below it survive.
    *  - MERGE: overlapping or ADJACENT spans per document merge
    *    before cutting (interval gaps-and-islands over a running max
    *    of span ends), so tokens_removed never double-counts.
    *  - TOKEN boundaries: the cut operates on the detection pass's
    *    token normal form (lowercased, whitespace-collapsed — the
    *    same `tokens()` the window hashes are built from), and
    *    clean_text is that normal form rejoined by single spaces for
    *    EVERY doc (cut or not), so the keep/cut algebra is exact;
    *    mapping spans back to raw character offsets is a
    *    presentation concern, not a dedup one.
    *
    * Scale shape: d65's bucketed detection plus one equi-join of the
    * merged span sidecar (rows ∝ duplicated runs, never corpus size)
    * back to documents on doc_id; the cut itself is per-row array
    * work (O(tokens × spans/doc), spans disjoint after merge). No
    * new wide exchange beyond d65's. */
  def substringApply(s: SparkSession, d: String): DataFrame =
    substringCleanFrame(s, d).orderBy("doc_id")

  /** The UNORDERED per-doc cleaned frame (doc_id, n_spans_cut,
    * tokens_removed, clean_text), served from the persisted artifact
    * ([[substringCleanDir]]) — shared by d68 and the release pipeline
    * (t85), the pplScoredCached split. */
  private[graft] def substringCleanFrame(s: SparkSession, d: String)
      : DataFrame =
    substringCleanCached(s, d)

  /** The from-scratch derive behind [[substringCleanDir]]: d65's run
    * detection + span merge + the per-doc re-cut. */
  private def substringCleanDerive(s: SparkSession, d: String)
      : DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("st", "en")
    val spans = substringRunsCore(s, d, runWindow)
      .filter(col("run_tokens") >= runDupThreshold)
      .select(col("doc_b").as("doc_id"), col("b_start").as("st"),
        (col("b_start") + col("run_tokens") - 1).as("en"))
      .distinct()
    val merged = spans
      .withColumn("pm", max("en").over(byDoc.rowsBetween(
        org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("g", sum(when(col("pm").isNull ||
        col("st") > col("pm") + 1, 1L).otherwise(0L)).over(byDoc))
      .groupBy("doc_id", "g")
      .agg(min("st").as("st"), max("en").as("en"))
    val perDoc = merged.groupBy("doc_id").agg(
      count(lit(1)).as("n_spans_cut"),
      sum(col("en") - col("st") + 1).as("tokens_removed"),
      collect_list(struct(col("st"), col("en"))).as("spans"))
    documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans_cut"), lit(0L)).as("n_spans_cut"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
        array_join(when(col("spans").isNull, col("ts")).otherwise(
          filter(col("ts"), (_, i) =>
            !exists(col("spans"), sp => (i + 1 >= sp.getField("st")) &&
              (i + 1 <= sp.getField("en"))))), " ").as("clean_text"))
  }

  /** Oracle: rebuilds the runs via d65's window-hash CTEs, merges the
    * ≥12-token doc_b spans by the same interval gaps-and-islands, and
    * re-cuts every document's token list by 1-based position — the
    * whole apply algebra is plain SQL on both engines. */
  lazy val substringApplySql: String =
    s"""WITH $substringTokCtesSql,
      |${substringWindowCtesSql(runWindow, "")},
      |runs AS (SELECT doc_b, min(pb) AS b_start,
      |           count(*) + ${runWindow - 1} AS rt
      |         FROM isl GROUP BY doc_a, doc_b, diag, isl),
      |cut AS (SELECT DISTINCT doc_b AS doc_id, b_start AS st,
      |          b_start + rt - 1 AS en
      |        FROM runs WHERE rt >= 12),
      |mrg AS (SELECT doc_id, st, en,
      |    max(en) OVER (PARTITION BY doc_id ORDER BY st, en
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS pm
      |  FROM cut),
      |gisl AS (SELECT doc_id, st, en,
      |    sum(CASE WHEN pm IS NULL OR st > pm + 1 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY st, en) AS g
      |  FROM mrg),
      |sp AS (SELECT doc_id, min(st) AS st, max(en) AS en
      |       FROM gisl GROUP BY doc_id, g),
      |spc AS (SELECT doc_id, count(*)::BIGINT AS n_spans_cut,
      |          sum(en - st + 1)::BIGINT AS tokens_removed
      |        FROM sp GROUP BY doc_id),
      |tokpos AS (SELECT doc_id, ts[CAST(i AS BIGINT)] AS tok,
      |             CAST(i AS BIGINT) AS i
      |           FROM tk, unnest(range(1, len(ts) + 1)) AS t(i)),
      |kept AS (SELECT tp.doc_id, tp.tok, tp.i
      |         FROM tokpos tp LEFT JOIN sp ON sp.doc_id = tp.doc_id
      |           AND tp.i BETWEEN sp.st AND sp.en
      |         WHERE sp.doc_id IS NULL),
      |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text
      |        FROM kept GROUP BY doc_id)
      |SELECT d.doc_id,
      |  coalesce(spc.n_spans_cut, 0)::BIGINT AS n_spans_cut,
      |  coalesce(spc.tokens_removed, 0)::BIGINT AS tokens_removed,
      |  coalesce(agg.clean_text, '') AS clean_text
      |FROM (SELECT doc_id FROM documents) d
      |LEFT JOIN spc ON spc.doc_id = d.doc_id
      |LEFT JOIN agg ON agg.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // --------------- d69 substring window-length sensitivity eval

  private[ext] val sensitivityWindows = Seq(5, 8, 12)

  /** d69: d65's one free knob — the window length w (`runWindow` = 5)
    * — MEASURED: the d67 banding discipline applied to the substring
    * tier. The composition algebra (pinned by Round18Spec): a maximal
    * repeated run of L tokens is detected at EVERY w ≤ L as the same
    * (a_start, b_start, L) row — all L−w+1 of its windows match and
    * stitch into one island, so run bounds are w-independent; what w
    * sets is only the RESOLUTION FLOOR (runs shorter than w are
    * invisible) and the index granularity (n−w+1 windows per doc —
    * nearly flat in w). Hence the GATED columns (runs reaching d66's
    * 12-token cut rule) must agree exactly across w ∈ {5, 8, 12} ≤
    * 12 — an invariant visible in the result rows — while total
    * n_runs falls as w rises past short-run lengths. The production
    * choice w = 5 maximizes evidence below the gate (boilerplate
    * candidates d66 surfaces as keep-with-evidence rows) at identical
    * gated output. Caveat held fixed here: at corpus scale the
    * >16-doc hot-hash cap interacts with w (shorter windows saturate
    * it sooner), which shifts sub-gate evidence, never the gate. */
  def windowSensitivityEval(s: SparkSession, d: String): DataFrame =
    sensitivityWindows.map { w =>
      substringRunsCore(s, d, w)
        .agg(count(lit(1)).as("n_runs"),
          coalesce(sum("run_tokens"), lit(0L)).as("run_token_mass"),
          coalesce(sum(when(col("run_tokens") >= runDupThreshold, 1L)
            .otherwise(0L)), lit(0L)).as("n_runs_gated"),
          coalesce(sum(when(col("run_tokens") >= runDupThreshold,
            col("run_tokens"))), lit(0L)).as("gated_token_mass"),
          coalesce(max("run_tokens"), lit(0L)).as("max_run_tokens"))
        .select(lit(w.toLong).as("w"), col("n_runs"),
          col("run_token_mass"), col("n_runs_gated"),
          col("gated_token_mass"), col("max_run_tokens"))
    }.reduce(_ unionAll _).orderBy("w")

  lazy val windowSensitivityEvalSql: String = {
    val chains = sensitivityWindows
      .map(w => substringWindowCtesSql(w, s"_$w")).mkString(",\n")
    val branches = sensitivityWindows.map { w =>
      s"""SELECT $w::BIGINT AS w,
        |  count(*)::BIGINT AS n_runs,
        |  coalesce(sum(rt), 0)::BIGINT AS run_token_mass,
        |  coalesce(sum(CASE WHEN rt >= 12 THEN 1 ELSE 0 END), 0)::BIGINT
        |    AS n_runs_gated,
        |  coalesce(sum(CASE WHEN rt >= 12 THEN rt END), 0)::BIGINT
        |    AS gated_token_mass,
        |  coalesce(max(rt), 0)::BIGINT AS max_run_tokens
        |FROM (SELECT count(*) + ${w - 1} AS rt
        |      FROM isl_$w GROUP BY doc_a, doc_b, diag, isl)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $substringTokCtesSql,\n$chains\n$branches\nORDER BY w"
  }

  // ---------- d70 SERVED incremental substring gate (the artifact)

  /** d70: d66's PRODUCTION shape, measured — the ingest gate served
    * from the PERSISTED corpus window index instead of a per-call
    * rebuild. d66 deliberately rebuilds its base index every call
    * (the em70 honesty rule: its line item charges the full cost
    * somewhere); this entry is the other half of that honesty — the
    * per-batch serving cost a deployment actually pays once the
    * artifact exists (the s87/s88/k83 build-once/serve-many split,
    * closed for the substring tier): batch windows (the 1/5 crawl)
    * equi-join the parquet-persisted (hw, base_id, pa) index, runs
    * stitch, verdicts emit. Per-batch work = batch windows × index
    * fan-out, with the index build amortized to the warm line item
    * (`cache_d70_window_index`). Shares d66's oracle — serve-from-
    * artifact ≡ rebuild-from-corpus, hash-checked. */
  def servedSubstringGate(s: SparkSession, d: String): DataFrame = {
    val idx = s.read.parquet(s"${windowIndexDir(s, d)}/windex")
    val batchW = corpusWindows(s, d).filter(col("doc_id") % 5 === 4)
      .select(col("hw"), col("doc_id"), col("pos").as("pb"))
    incrSubstringFinish(s, d,
      batchW.join(idx, Seq("hw")).select("doc_id", "base_id", "pb", "pa"))
  }

  // ------- d71/d72 window-index lifecycle (tombstones + compaction)

  /** The d71 delete step: idempotent tombstone manifest on d70's
    * persisted window index — the s94 discipline applied to the
    * substring tier (delete cohort: base docs with doc_id % 10 == 3,
    * disjoint from the % 5 == 4 batch). The sidecar holds base_ids,
    * never windows: a delete is O(cohort) rows whatever the corpus —
    * erasing a document from the standing index without touching the
    * index itself. Its OWN build-once artifact (round-13 advice: the
    * earlier shape re-scanned documents and re-wrote the sidecar
    * inside every timed d71 serve, so the envelope number carried an
    * O(corpus-scan)+write rebuild the scaladoc called a pure serve);
    * the cache_d70 warm now charges this build like its siblings and
    * [[windexTombstoneGate]] only reads. Returns the artifact dir. */
  private[graft] def windexTombstonesDir(s: SparkSession, d: String): String =
    SessionStore.artifact(s, d, "windex/tomb") {
      dir =>
        documents(s, d).select(col("doc_id").as("base_id"))
          .filter(col("base_id") % 10 === 3)
          .write.mode("overwrite").parquet(s"$dir/tombstones")
    }

  /** d71: the substring ingest gate served from the TOMBSTONED window
    * index — deletion without rebuild, the lifecycle step the d70
    * artifact needs to honor an erasure request (the fourth artifact
    * tier to close it, after s94's ANN members, s95's BM25 postings
    * and em74's store partitions): the tiny base_id sidecar
    * broadcast-ANTI-joins the index scan, so an erased document can
    * never witness a run against a new batch. FROZEN-CAP semantics:
    * the >16-doc hot-hash cap was applied when the index was BUILT
    * and tombstoning only removes rows — a hash the cap dropped stays
    * absent even if enough of its documents are later erased to bring
    * it under the cap (recomputing hot sets would mean re-scanning
    * the corpus, exactly what the artifact exists to avoid; the
    * oracle reproduces this by filtering the index AFTER the full-
    * base hot CTE, and Round19Spec pins d71 ≡ d72). */
  def windexTombstoneGate(s: SparkSession, d: String): DataFrame = {
    val idx = s.read.parquet(s"${windowIndexDir(s, d)}/windex")
      .join(s.read
        .parquet(s"${windexTombstonesDir(s, d)}/tombstones").distinct(),
        Seq("base_id"), "left_anti")
    val batchW = corpusWindows(s, d).filter(col("doc_id") % 5 === 4)
      .select(col("hw"), col("doc_id"), col("pos").as("pb"))
    incrSubstringFinish(s, d,
      batchW.join(idx, Seq("hw")).select("doc_id", "base_id", "pb", "pa"))
  }

  /** The d72 fold: retire the tombstone sidecar by rewriting the
    * window index minus its tombstoned rows into a FRESH artifact
    * (the s97 compaction contract — the source artifact is never
    * touched, so concurrent d70/d71 readers are safe and the swap is
    * atomic). No recompute of windows or hot hashes — a pure
    * anti-join rewrite of the standing rows, O(index), never
    * O(corpus). */
  private[graft] def compactedWindexDir(s: SparkSession, d: String): String =
    SessionStore.artifact(s, d, "windex/compact") {
      dir =>
        s.read.parquet(s"${windowIndexDir(s, d)}/windex")
          .join(s.read
            .parquet(s"${windexTombstonesDir(s, d)}/tombstones").distinct(),
            Seq("base_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$dir/windex")
    }

  /** d72: the gate served from the COMPACTED window index — the
    * read path after the fold retires the sidecar (one equi-join
    * fewer per batch). Shares d71's oracle: compaction must preserve
    * the tombstoned gate's verdicts bit-for-bit, including the
    * frozen-cap semantics (a capped hash must NOT resurrect just
    * because the fold ran — the d71 scaladoc's contract). */
  def windexCompactedGate(s: SparkSession, d: String): DataFrame = {
    val idx = s.read.parquet(s"${compactedWindexDir(s, d)}/windex")
    val batchW = corpusWindows(s, d).filter(col("doc_id") % 5 === 4)
      .select(col("hw"), col("doc_id"), col("pos").as("pb"))
    incrSubstringFinish(s, d,
      batchW.join(idx, Seq("hw")).select("doc_id", "base_id", "pb", "pa"))
  }

  // ----------------- d73 window-index absorb (the LSM delta segment)

  /** The d73 absorb step: the first half-batch (doc_id % 10 == 4)
    * enters the standing index as a DELTA SEGMENT — its raw window
    * rows plus its own per-hash doc-count census written next to the
    * base artifact, the base never rewritten. The absorb write is
    * O(batch): no base scan, no merge — the LSM discipline (s88's
    * postings absorb, here with the census as the mergeable state).
    * Raw rows, deliberately un-capped: the hot decision is GLOBAL and
    * belongs to serve time, where the merged census is authoritative. */
  private[graft] def windexDeltaDir(s: SparkSession, d: String): String =
    SessionStore.artifact(s, d, "windex/delta") {
      dir =>
        val batchW = corpusWindows(s, d).filter(col("doc_id") % 10 === 4)
        batchW.select(col("hw"), col("doc_id").as("base_id"),
          col("pos").as("pa"))
          .write.mode("overwrite").parquet(s"$dir/windex")
        batchW.groupBy("hw")
          .agg(count_distinct(col("doc_id")).as("nd"))
          .write.mode("overwrite").parquet(s"$dir/census")
    }

  /** d73: the substring gate served from the ABSORBED index — the
    * missing lifecycle rung (build d70 / delete d71 / compact d72 /
    * ABSORB d73): the first half-batch was folded into the standing
    * index as a delta segment, and the second half-batch
    * (doc_id % 10 == 9) now gates against the GROWN corpus. The
    * hot-hash cap re-derives at serve time from the summed segment
    * censuses — exact, because each document is absorbed exactly once
    * so per-segment distinct counts are disjoint and additive (the
    * mergeability contract; deletes by contrast deliberately do NOT
    * decrement the census — d71's frozen-cap scaladoc). Monotonicity
    * makes segment-union + new-hot anti-join ≡ full rebuild: a hash
    * capped at base build has no base rows, and since counts only
    * grow it is hot in the merged census too, so the rebuild would
    * drop the same rows — which is exactly what the shared-with-
    * rebuild oracle hash-checks (absorb ≡ rebuild, the k83/s88
    * contract at substring granularity). Serve-side work: one
    * census group-by (index-hash-bounded, never corpus-text-bounded)
    * + the d70 probe over base ∪ delta. Fixture note: the sf0.01
    * oracle pins the absorb ≡ rebuild algebra, but no planted pair
    * spans the two half-batches until sf0.1 — the delta's LIVE
    * contribution (probe runs only an absorbed doc can witness) is
    * pinned by the Round19Spec sf0.1 discrimination test. */
  /** The absorbed serving index: base ∪ delta segments anti-joined by
    * the hot set re-derived from their summed censuses. Shared by the
    * d73 batch gate and its e126 streaming twin (there it is the
    * static join side). */
  private[graft] def absorbedWindexIdx(s: SparkSession, d: String)
      : DataFrame = {
    val base = windowIndexDir(s, d)
    val delta = windexDeltaDir(s, d)
    val census = s.read.parquet(s"$base/census")
      .unionByName(s.read.parquet(s"$delta/census"))
      .groupBy("hw").agg(sum("nd").as("nd"))
    val hot = census.filter(col("nd") > runDocCap).select("hw")
    s.read.parquet(s"$base/windex")
      .unionByName(s.read.parquet(s"$delta/windex"))
      .join(hot, Seq("hw"), "left_anti")
  }

  def windexAbsorbGate(s: SparkSession, d: String): DataFrame = {
    val batchW = corpusWindows(s, d).filter(col("doc_id") % 10 === 9)
      .select(col("hw"), col("doc_id"), col("pos").as("pb"))
    incrSubstringFinish(s, d,
      batchW.join(absorbedWindexIdx(s, d), Seq("hw"))
        .select("doc_id", "base_id", "pb", "pa"),
      seedPred = col("doc_id") % 10 === 9)
  }

  // ------------- d74 the windex full LSM fold (base+delta−tombstones)

  /** The d74 fold: merge the BASE segment, d73's DELTA segment, and
    * d71's tombstone manifest into a FRESH single-segment artifact —
    * the s96/em73 compaction contract on the fourth artifact tier
    * (source artifacts untouched, concurrent readers safe, swap
    * atomic). This is the rung d72 (base−tombstones) and d73 (per-
    * serve census merge) leave open: without it delta segments
    * accumulate and every serve pays a census group-by that grows
    * with segment count (d73's own exponent drift 0.53→0.84 is that
    * cost at fixture scale). The fold runs the d73 serve-time algebra
    * ONCE at write time — summed censuses re-derive the global hot
    * set (exact: segments are doc-disjoint so distinct counts are
    * additive), the segment union drops hot rows and tombstoned
    * base_ids — and writes the result as a new base: one windex, one
    * census, zero sidecars, so the serve is d70's plain one-scan
    * probe again and the NEXT absorb can start a fresh delta against
    * it (the LSM generation turning over). Costs: O(index) rows
    * read/written, never O(corpus text); no window recompute, no
    * document rescan. FROZEN-CAP semantics both ways (the d71
    * contract): the merged census never decrements on delete, and the
    * folded census keeps tombstoned docs' counts — a capped hash
    * stays capped, and the oracle reproduces this by filtering the
    * index AFTER the full hot CTE. */
  private[graft] def foldedWindexDir(s: SparkSession, d: String): String =
    SessionStore.artifact(s, d, "windex/fold") {
      dir =>
        val base = windowIndexDir(s, d)
        val delta = windexDeltaDir(s, d)
        val tomb = s.read
          .parquet(s"${windexTombstonesDir(s, d)}/tombstones").distinct()
        // the census is written FIRST so a reader that races the
        // store's publish never sees an index without its mergeable
        // state — and the hot set is derived by READING IT BACK, so it
        // comes from exactly the published artifact (and the summing
        // group-by runs once, not re-evaluated through lazy lineage
        // for each downstream reference)
        s.read.parquet(s"$base/census")
          .unionByName(s.read.parquet(s"$delta/census"))
          .groupBy("hw").agg(sum("nd").as("nd"))
          .write.mode("overwrite").parquet(s"$dir/census")
        val hot = s.read.parquet(s"$dir/census")
          .filter(col("nd") > runDocCap).select("hw")
        s.read.parquet(s"$base/windex")
          .unionByName(s.read.parquet(s"$delta/windex"))
          .join(hot, Seq("hw"), "left_anti")
          .join(tomb, Seq("base_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$dir/windex")
    }

  /** d74: the substring gate served from the FOLDED artifact — d70's
    * plain one-scan probe shape against the post-fold generation (no
    * per-serve census merge, no tombstone anti-join, no segment
    * union: the fold already retired all three). Probes the same
    * second half-batch as d73 so the two line items are directly
    * comparable: d73's serve pays the census merge per call, d74's
    * fold paid it once at build. Oracle = fold ≡ rebuild: d73's
    * grown-base rebuild with the tombstone cohort filtered out of the
    * index after the full hot CTE (frozen-cap order, the d71/d72
    * patch applied to the d73 oracle). */
  def windexFoldedGate(s: SparkSession, d: String): DataFrame = {
    val idx = s.read.parquet(s"${foldedWindexDir(s, d)}/windex")
    val batchW = corpusWindows(s, d).filter(col("doc_id") % 10 === 9)
      .select(col("hw"), col("doc_id"), col("pos").as("pb"))
    incrSubstringFinish(s, d,
      batchW.join(idx, Seq("hw")).select("doc_id", "base_id", "pb", "pa"),
      seedPred = col("doc_id") % 10 === 9)
  }

  // ------- d75 absorb against the FOLDED generation (LSM turnover)

  /** The d75 absorb step: a SECOND crawl batch (doc_id % 20 == 9 —
    * the first half of the %10==9 probe cohort, leaving %20==19 as
    * the new probe) enters as a delta segment against the FOLDED
    * artifact's generation. Same O(batch) write as [[windexDeltaDir]]:
    * raw windows + own census, the folded base never touched. */
  private[graft] def windexDelta2Dir(s: SparkSession, d: String): String =
    SessionStore.artifact(s, d, "windex/delta2") {
      dir =>
        val batchW = corpusWindows(s, d).filter(col("doc_id") % 20 === 9)
        batchW.select(col("hw"), col("doc_id").as("base_id"),
          col("pos").as("pa"))
          .write.mode("overwrite").parquet(s"$dir/windex")
        batchW.groupBy("hw")
          .agg(count_distinct(col("doc_id")).as("nd"))
          .write.mode("overwrite").parquet(s"$dir/census")
    }

  /** d75: the substring gate one generation AFTER the fold — the
    * turnover proof d74's scaladoc promised ("the NEXT absorb can
    * start a fresh delta against it"): d73's absorb algebra run with
    * d74's FOLDED artifact as the base segment. Without this entry
    * the fold→absorb→fold cadence was claimed, not proven — d73
    * proved absorb against the ORIGINAL base, d74 proved the fold
    * equals the grown rebuild, but no entry showed a second batch
    * absorbing against the folded generation and still hash-matching
    * the twice-grown rebuild. The serve is exactly d73's shape one
    * generation later: folded ∪ delta2 segment union, hot set
    * re-derived from the summed censuses (the folded census — which
    * deliberately kept tombstoned docs' counts, the frozen-cap
    * contract — plus delta2's; counts only grow, so a hash capped in
    * ANY earlier generation stays capped, which is what makes
    * segment-union ≡ rebuild). The oracle is the twice-grown d66
    * rebuild (base ∪ delta1 ∪ delta2, hot over the whole, tombstones
    * filtered after the full hot CTE — the d74 frozen-cap order)
    * probing the %20==19 batch. With this rung every artifact
    * lifecycle state is reachable from every other: build → absorb →
    * (tombstone) → fold → absorb → … */
  /** The post-turnover serving index: folded ∪ delta2 anti-joined by
    * the hot set from their summed censuses — [[absorbedWindexIdx]]
    * one generation later. Shared by the d75 batch gate and its e131
    * streaming twin (there it is the static join side). */
  private[graft] def regenWindexIdx(s: SparkSession, d: String)
      : DataFrame = {
    val folded = foldedWindexDir(s, d)
    val delta2 = windexDelta2Dir(s, d)
    val census = s.read.parquet(s"$folded/census")
      .unionByName(s.read.parquet(s"$delta2/census"))
      .groupBy("hw").agg(sum("nd").as("nd"))
    val hot = census.filter(col("nd") > runDocCap).select("hw")
    s.read.parquet(s"$folded/windex")
      .unionByName(s.read.parquet(s"$delta2/windex"))
      .join(hot, Seq("hw"), "left_anti")
  }

  def windexRegenGate(s: SparkSession, d: String): DataFrame = {
    val batchW = corpusWindows(s, d).filter(col("doc_id") % 20 === 19)
      .select(col("hw"), col("doc_id"), col("pos").as("pb"))
    incrSubstringFinish(s, d,
      batchW.join(regenWindexIdx(s, d), Seq("hw"))
        .select("doc_id", "base_id", "pb", "pa"),
      seedPred = col("doc_id") % 20 === 19)
  }

  /** d75 oracle: the d74 oracle grown once more — the second delta
    * cohort moves INTO the base, the gate probes the remaining
    * quarter-batch; hot over the twice-grown whole, tombstones still
    * filtered after the full hot CTE. */
  // lazy: windexFoldedGateSql is declared further down the object —
  // an eager val here would patch an uninitialized (null) string
  lazy val windexRegenGateSql: String = {
    val patched = windexFoldedGateSql
      .replace("WHERE doc_id % 5 <> 4 OR doc_id % 10 = 4),",
        "WHERE doc_id % 5 <> 4 OR doc_id % 10 = 4 OR doc_id % 20 = 9),")
      .replace("batchw AS (SELECT hw, doc_id, pos AS pb FROM wins\n" +
          "           WHERE doc_id % 10 = 9),",
        "batchw AS (SELECT hw, doc_id, pos AS pb FROM wins\n" +
          "           WHERE doc_id % 20 = 19),")
      .replace("FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 9) d",
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 20 = 19) d")
    require(patched.contains("doc_id % 20 = 9") &&
      patched.contains("doc_id % 20 = 19") &&
      !patched.contains("WHERE doc_id % 10 = 9"),
      "d75 oracle patch must rewrite all three d74 CTE anchors")
    patched
  }

  /** d73 oracle: d66's full rebuild with the absorbed half-batch moved
    * INTO the base and the gate probing the remaining half — absorb ≡
    * rebuild, including the hot set re-derived over the grown base. */
  val windexAbsorbGateSql: String = {
    val patched = incrSubstringDedupSql
      .replace("basew AS (SELECT * FROM wins WHERE doc_id % 5 <> 4),",
        "basew AS (SELECT * FROM wins\n" +
          "          WHERE doc_id % 5 <> 4 OR doc_id % 10 = 4),")
      .replace("batchw AS (SELECT hw, doc_id, pos AS pb FROM wins\n" +
          "           WHERE doc_id % 5 = 4),",
        "batchw AS (SELECT hw, doc_id, pos AS pb FROM wins\n" +
          "           WHERE doc_id % 10 = 9),")
      .replace("FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) d",
        "FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 9) d")
    require(patched.contains("doc_id % 10 = 4") &&
      patched.contains("doc_id % 10 = 9") &&
      !patched.contains("WHERE doc_id % 5 = 4"),
      "d73 oracle patch must rewrite all three d66 CTE anchors")
    patched
  }

  /** d74 oracle: d73's grown-base rebuild (base ∪ delta, hot over the
    * whole) with the tombstone cohort filtered out of the index AFTER
    * the full hot CTE — the d71/d72 frozen-cap patch applied on top of
    * the d73 patch, which is exactly what the fold claims to equal. */
  val windexFoldedGateSql: String = windexAbsorbGateSql.replace(
    "idx AS (SELECT hw, doc_id AS base_id, pos AS pa FROM basew\n" +
      "        WHERE hw NOT IN (SELECT hw FROM hot)),",
    "idx AS (SELECT hw, doc_id AS base_id, pos AS pa FROM basew\n" +
      "        WHERE hw NOT IN (SELECT hw FROM hot)\n" +
      "          AND doc_id % 10 <> 3),")
  require(windexFoldedGateSql != windexAbsorbGateSql,
    "d74 oracle patch must rewrite the d73 oracle's idx CTE (anchor drifted)")

  /** d71/d72 shared oracle: d66's window-hash rebuild with the
    * tombstone cohort filtered out of the index AFTER the full-base
    * hot CTE — the frozen-cap order of operations. */
  val windexTombstoneGateSql: String = incrSubstringDedupSql.replace(
    "idx AS (SELECT hw, doc_id AS base_id, pos AS pa FROM basew\n" +
      "        WHERE hw NOT IN (SELECT hw FROM hot)),",
    "idx AS (SELECT hw, doc_id AS base_id, pos AS pa FROM basew\n" +
      "        WHERE hw NOT IN (SELECT hw FROM hot)\n" +
      "          AND doc_id % 10 <> 3),")
  require(windexTombstoneGateSql != incrSubstringDedupSql,
    "d71 oracle patch must rewrite d66's idx CTE (anchor drifted)")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d50_exact_dedup"    -> exactDedup _,
    "d51_jaccard_pairs"  -> jaccardPairs _,
    "d52_minhash_lsh"    -> minhashLsh _,
    "d53_simhash"        -> simhash _,
    "d53b_simhash_pairs" -> simhashPairs _,
    "d54_embedding_dups" -> embeddingDupPairs _,
    "d55_containment"    -> containmentPairs _,
    "d56_dedup_clusters" -> dedupClusters _,
    "d57_dedup_apply"    -> dedupApply _,
    "d58_incremental_dedup" -> incrementalDedup _,
    "d59_passage_dedup"  -> passageDedup _,
    "d60_minhash_estimate" -> minhashEstimate _,
    "d61_semantic_dedup" -> semanticDedup _,
    "d62_semantic_reps"  -> semanticRepresentatives _,
    "d63_semantic_decontam" -> semanticDecontam _,
    "d64_incr_semantic_dedup" -> incrementalSemanticDedup _,
    "d65_substring_runs" -> substringRuns _,
    "d66_incr_substring_dedup" -> incrSubstringDedup _,
    "d67_lsh_banding_eval" -> lshBandingEval _,
    "d68_substring_apply" -> substringApply _,
    "d69_window_sensitivity" -> windowSensitivityEval _,
    "d70_served_substring_gate" -> servedSubstringGate _,
    "d71_windex_tombstones" -> windexTombstoneGate _,
    "d72_windex_compacted" -> windexCompactedGate _,
    "d73_windex_absorb" -> windexAbsorbGate _,
    "d74_windex_folded" -> windexFoldedGate _,
    "d75_windex_regen_absorb" -> windexRegenGate _,
    "t49_decontamination" -> decontamination _,
    "t68_passage_decontam" -> passageDecontam _,
    "t57_corpus_funnel"  -> corpusFunnel _,
  )

  val oracleSql: Map[String, String] = Map(
    "d50_exact_dedup"    -> exactDedupSql,
    "d51_jaccard_pairs"  -> jaccardPairsSql,
    "d52_minhash_lsh"    -> minhashLshSql,
    "d53_simhash"        -> simhashSql,
    "d53b_simhash_pairs" -> simhashPairsSql,
    "d54_embedding_dups" -> embeddingDupPairsSql,
    "d55_containment"    -> containmentPairsSql,
    "d56_dedup_clusters" -> dedupClustersSql,
    "d57_dedup_apply"    -> dedupApplySql,
    "d58_incremental_dedup" -> incrementalDedupSql,
    "d59_passage_dedup"  -> passageDedupSql,
    "d60_minhash_estimate" -> minhashEstimateSql,
    "d61_semantic_dedup" -> semanticDedupSql,
    "d62_semantic_reps"  -> semanticRepresentativesSql,
    "d63_semantic_decontam" -> semanticDecontamSql,
    "d64_incr_semantic_dedup" -> incrementalSemanticDedupSql,
    "d65_substring_runs" -> substringRunsSql,
    "d66_incr_substring_dedup" -> incrSubstringDedupSql,
    "d67_lsh_banding_eval" -> lshBandingEvalSql,
    "d68_substring_apply" -> substringApplySql,
    "d69_window_sensitivity" -> windowSensitivityEvalSql,
    "d70_served_substring_gate" -> incrSubstringDedupSql,
    "d71_windex_tombstones" -> windexTombstoneGateSql,
    "d72_windex_compacted" -> windexTombstoneGateSql,
    "d73_windex_absorb" -> windexAbsorbGateSql,
    "d74_windex_folded" -> windexFoldedGateSql,
    "d75_windex_regen_absorb" -> windexRegenGateSql,
    "t49_decontamination" -> decontaminationSql,
    "t68_passage_decontam" -> passageDecontamSql,
    "t57_corpus_funnel"  -> corpusFunnelSql,
  )
}
