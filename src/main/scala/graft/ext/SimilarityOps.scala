package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.SessionStore
import graft.Tables._
import graft.ext.TextOps.md5Long
import graft.functions.BoundedAggs.{Scored, TopKScored}

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Three tiers, mirroring how ANN actually scales:
  *  - s60 brute-force top-k: broadcast the (small) query set against the
  *    corpus — the exactness baseline. No shuffle of the corpus at all:
  *    queries broadcast, cosine + per-query top-k via window on the
  *    query side only.
  *  - s61 IVF: coarse centroids (one per `label`), probe the best
  *    centroid's cluster only — the 100 TB path (corpus partitioned by
  *    cluster id; each query touches one partition).
  *  - s62 sign-LSH: 16-bit random-hyperplane signatures (deterministic
  *    md5-derived ±1 planes) — bucketed candidate generation when no
  *    cluster structure is known.
  *
  * Dot products run through the codegen'd [[graft.functions.VecExprs]]
  * kernels (index-ascending left fold — sequential, deterministic) and
  * cosines are rounded to 6 digits BEFORE ranking on both engines, so
  * ordering is stable under fp.
  */
object SimilarityOps {

  // codegen'd native kernels (VecExprs) — bit-identical to the HOF
  // left folds they replaced (same index-ascending summation order)
  private def dot(a: Column, b: Column): Column =
    graft.functions.VecExprs.dot_d(a, b)

  private def norm(a: Column): Column =
    sqrt(graft.functions.VecExprs.dot_d(a, a))

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Bounded-heap top-k by (score DESC, id ASC) — replaces the
    * `row_number over partitionBy(q_id)` idiom, which funnels the whole
    * scored corpus through #queries tasks; the Aggregator's partial
    * buffers cap every map partition at k rows before the exchange. */
  private def topkUdaf(k: Int) =
    udaf(new TopKScored(k), Encoders.product[Scored])

  /** Explode a `tk` top-k column into (id, score, rank) rows, keeping
    * `keep` lead columns. */
  private def explodeTopK(df: DataFrame, keep: Seq[String],
      idName: String, scoreName: String): DataFrame =
    df.select(keep.map(col) :+
        posexplode(col("tk.items")).as(Seq("pos", "it")): _*)
      .select(keep.map(col) ++ Seq(
        col("it.id").as(idName), col("it.score").as(scoreName),
        (col("pos") + 1).cast("bigint").as("rank")): _*)

  private val cosineSqlSnippet =
    """list_sum(list_transform(range(1, len(QV) + 1), i -> QV[i] * CV[i]))
      | / (sqrt(list_sum(list_transform(QV, x -> x * x)))
      |    * sqrt(list_sum(list_transform(CV, x -> x * x))))""".stripMargin

  // ----------------------------------------------- s60 brute force

  /** s60: exact cosine top-5 for each query vector (vec_id < 10).
    * Queries broadcast, corpus never shuffles wide: the bounded-heap
    * aggregate reduces each scan partition to ≤ 5 rows per query before
    * the single narrow exchange (vs the previous window sort that
    * pushed every scored row through 10 tasks). */
  def knnBrute(s: SparkSession, d: String): DataFrame =
    knnBruteWhere(s, d, "TRUE")

  /** s60 with a candidate predicate (in terms of `c_id`) — "TRUE" is
    * the full corpus; s98's post-delete truth filters the tombstoned
    * cohort out of the candidate set inside the scan. */
  private[graft] def knnBruteWhere(
      s: SparkSession, d: String, candWhere: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 10).toDF("q_id", "qv")
    val c = e.toDF("c_id", "cv").filter(expr(candWhere))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))), 6))
      .groupBy("q_id")
      .agg(topkUdaf(5)(col("cosine"), col("c_id")).as("tk"))
    explodeTopK(scored, Seq("q_id"), "c_id", "cosine")
      .select("q_id", "c_id", "cosine", "rank")
      .orderBy("q_id", "rank")
  }

  val knnBruteSql: String = knnBruteSqlWhere("TRUE")

  /** Oracle twin of [[knnBruteWhere]] — `candWhere` in terms of
    * `c_id`, rewritten onto the candidate scan. */
  private[graft] def knnBruteSqlWhere(candWhere: String): String = {
    val cosine = cosineSqlSnippet.replace("QV", "q.v").replace("CV", "c.v")
    val cw = candWhere.replace("c_id", "c.vec_id")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id q_id, c.vec_id c_id, round($cosine, 6) AS cosine
      |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
      |    AND ($cw)),
      |ranked AS (
      |  SELECT q_id, c_id, cosine, CAST(row_number() OVER (
      |    PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT q_id, c_id, cosine, rank FROM ranked
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  // --------------------------------------------- s82 filtered search

  /** s82: FILTERED vector search — exact top-5 cosine among only the
    * candidates satisfying a metadata predicate (`label IN (1,3,5)`),
    * the "vector search + WHERE clause" shape every serving stack
    * needs (find similar docs *from these sources only*).
    *
    * Strategy is PRE-filter: the predicate lands on the candidate scan
    * BEFORE any scoring (an `In` filter the parquet reader can push,
    * visible as PushedFilters in the plan), so recall under the
    * predicate is exact by construction and the scored volume shrinks
    * by the predicate's selectivity. The alternative — post-filtering
    * an unfiltered ANN result — loses recall whenever the top-k is
    * dominated by non-matching vectors; with a pushed pre-filter +
    * bounded-heap top-k there is no such loss and no extra pass.
    * Same broadcast-queries + single-scan + heap shape as s60. */
  def filteredKnn(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), asDouble(col("embedding")).as("qv"))
    val c = e.filter(col("label").isin(1, 3, 5))
      .select(col("vec_id").as("c_id"), asDouble(col("embedding")).as("cv"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))), 6))
      .groupBy("q_id")
      .agg(topkUdaf(5)(col("cosine"), col("c_id")).as("tk"))
    explodeTopK(scored, Seq("q_id"), "c_id", "cosine")
      .select("q_id", "c_id", "cosine", "rank")
      .orderBy("q_id", "rank")
  }

  val filteredKnnSql: String = {
    val cosine = cosineSqlSnippet.replace("QV", "q.v").replace("CV", "c.v")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id q_id, c.vec_id c_id, round($cosine, 6) AS cosine
      |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
      |    AND c.label IN (1, 3, 5)),
      |ranked AS (
      |  SELECT q_id, c_id, cosine, CAST(row_number() OVER (
      |    PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT q_id, c_id, cosine, rank FROM ranked
      |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
  }

  // --------------------------------------------------- s61 IVF probe

  /** s61: IVF — centroid per `label` (position-wise mean), each query
    * probes only its best centroid's cluster, exact top-3 inside. */
  def ivfKnn(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    // centroids: posexplode → per-(label,pos) mean → re-assembled array
    val cent = e
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(avg("x").as("cx"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        p => p.getField("cx")).as("cv"))
    val q = e.filter(col("vec_id") < 10).toDF("q_id", "q_label", "qv")
    // probe = argmax over centroids: min(struct(-cos, label)) — a plain
    // aggregate with map-side partials (ties → smallest label, matching
    // the previous `orderBy(cent_cos.desc, label)` row_number)
    val probe = q.crossJoin(broadcast(cent))
      .withColumn("cent_cos",
        round(dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))), 6))
      .groupBy("q_id", "qv")
      .agg(min(struct((-col("cent_cos")).as("nc"), col("label").as("l"))).as("m"))
      .select(col("q_id"), col("qv"), col("m.l").as("probe_label"))
    val ranked = probe
      .join(e.toDF("c_id", "probe_label", "cv"), Seq("probe_label"))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))), 6))
      .groupBy("q_id", "probe_label")
      .agg(topkUdaf(3)(col("cosine"), col("c_id")).as("tk"))
    explodeTopK(ranked, Seq("q_id", "probe_label"), "c_id", "cosine")
      .select("q_id", "probe_label", "c_id", "cosine", "rank")
      .orderBy("q_id", "rank")
  }

  val ivfKnnSql: String = {
    val qcCos = cosineSqlSnippet.replace("QV", "q.v").replace("CV", "cent.cv")
    val qeCos = cosineSqlSnippet.replace("QV", "p.qv").replace("CV", "c.v")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
      |cent AS (
      |  SELECT label, list(cx ORDER BY i) AS cv FROM (
      |    SELECT label, i, avg(v[i]) AS cx
      |    FROM e, generate_series(1, 64) AS g(i)
      |    GROUP BY label, i)
      |  GROUP BY label),
      |probe AS (
      |  SELECT q_id, qv, label AS probe_label FROM (
      |    SELECT q.vec_id q_id, q.v qv, cent.label,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round($qcCos, 6) DESC, cent.label) AS pr
      |    FROM e q, cent WHERE q.vec_id < 10)
      |  WHERE pr = 1),
      |ranked AS (
      |  SELECT p.q_id, p.probe_label, c.vec_id c_id,
      |    round($qeCos, 6) AS cosine,
      |    CAST(row_number() OVER (PARTITION BY p.q_id
      |      ORDER BY round($qeCos, 6) DESC, c.vec_id) AS BIGINT) AS rank
      |  FROM probe p JOIN e c ON c.label = p.probe_label
      |    AND c.vec_id <> p.q_id)
      |SELECT q_id, probe_label, c_id, cosine, rank FROM ranked
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  /** s64: multi-probe IVF — same index as s61, but each query probes
    * its top-`nprobe` centroids' clusters before the exact re-rank.
    * The recall fix for weakly-clustered corpora that s63 measures
    * (single-probe ≈ 0.1 recall@3 here; multi-probe with nprobe=3
    * recovers most of it at 3× the probed fraction). */
  def ivfMultiprobeKnn(s: SparkSession, d: String, nprobe: Int = 3): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val cent = e
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos").agg(avg("x").as("cx"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        p => p.getField("cx")).as("cv"))
    val q = e.filter(col("vec_id") < 10).toDF("q_id", "q_label", "qv")
    val wProbe = Window.partitionBy("q_id")
      .orderBy(col("cent_cos").desc, col("label"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("cent_cos",
        round(dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))), 6))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select(col("q_id"), col("qv"), col("label").as("probe_label"))
    val ranked = probes
      .join(e.toDF("c_id", "probe_label", "cv"), Seq("probe_label"))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))), 6))
      .groupBy("q_id")
      .agg(topkUdaf(3)(col("cosine"), col("c_id")).as("tk"))
    explodeTopK(ranked, Seq("q_id"), "c_id", "cosine")
      .select("q_id", "c_id", "cosine", "rank")
      .orderBy("q_id", "rank")
  }

  val ivfMultiprobeKnnSql: String = {
    val qcCos = cosineSqlSnippet.replace("QV", "q.v").replace("CV", "cent.cv")
    val qeCos = cosineSqlSnippet.replace("QV", "p.qv").replace("CV", "c.v")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
      |cent AS (
      |  SELECT label, list(cx ORDER BY i) AS cv FROM (
      |    SELECT label, i, avg(v[i]) AS cx
      |    FROM e, generate_series(1, 64) AS g(i)
      |    GROUP BY label, i)
      |  GROUP BY label),
      |probes AS (
      |  SELECT q_id, qv, label AS probe_label FROM (
      |    SELECT q.vec_id q_id, q.v qv, cent.label,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round($qcCos, 6) DESC, cent.label) AS pr
      |    FROM e q, cent WHERE q.vec_id < 10)
      |  WHERE pr <= 3),
      |ranked AS (
      |  SELECT p.q_id, c.vec_id c_id, round($qeCos, 6) AS cosine,
      |    CAST(row_number() OVER (PARTITION BY p.q_id
      |      ORDER BY round($qeCos, 6) DESC, c.vec_id) AS BIGINT) AS rank
      |  FROM probes p JOIN e c ON c.label = p.probe_label
      |    AND c.vec_id <> p.q_id)
      |SELECT q_id, c_id, cosine, rank FROM ranked
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  // --------------------------------------------- s66/s67 k-means IVF

  private val kmK = 8        // clusters
  private val kmIters = 2    // full Lloyd iterations before the final assign
  private val kmScale = 1000 // fixed-point quantization scale

  /** Quantized-embedding frame: qv = round(x·1000) per dim. All k-means
    * arithmetic runs on these integers so the whole iteration is exact
    * (BIGINT sums, argmin on integer squared-L2, one deterministic
    * rounding per centroid update) — which is what lets a CLUSTERING
    * loop be DuckDB-oracle-checked bit-for-bit, where fp means would
    * drift with summation order. Quantization error (≤0.0005/dim ≈ 0.1%
    * of the value range) is far below cluster separation. */
  private def quantized(s: SparkSession, d: String): DataFrame =
    quantizeFrame(embeddings(s, d))

  /** The same fixed-point projection over an arbitrary embeddings
    * frame — shared with e119's streaming gate, where the batch
    * arrives as a stream and there is no dir to read. */
  private[graft] def quantizeFrame(emb: DataFrame): DataFrame =
    emb
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("qv",
        transform(col("v"), x => round(x * kmScale, 0).cast("long")))

  private def dist2(a: Column, b: Column): Column =
    graft.functions.VecExprs.dist_sq_l(a, b)

  /** Nearest-centroid assignment (ties → smallest cid). Argmin as
    * `min(struct(d2, cid))` — map-side partial aggregation shrinks the
    * corpus×k scored rows to one row per vector before the exchange,
    * where the previous per-vec_id row_number window shuffled and
    * sorted all corpus×k rows. */
  private def kmAssign(e: DataFrame, cent: DataFrame): DataFrame =
    e.crossJoin(broadcast(cent))
      .withColumn("d2", dist2(col("qv"), col("cv")))
      .groupBy("vec_id", "v", "qv")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("v"), col("qv"), col("m.cid").as("cid"))

  /** STATELESS nearest-centroid assignment: the argmin folded
    * row-locally over a LITERAL centroid array instead of
    * [[kmAssign]]'s groupBy — on a streaming frame the groupBy would
    * be a stateful aggregation (illegal mid-pipeline in append mode),
    * while a fold over a bounded literal is a pure projection that
    * runs at source throughput with no state store (e119's gate).
    * Centroid sets are bounded by construction (the artifact's own K),
    * so the literal is a few KB of task binary. Same integer d2, same
    * tie rule as kmAssign's `min(struct(d2, cid))`: `centSeq` must be
    * cid-ascending and the strict `<` keeps the first (= smallest cid)
    * on an exact-distance tie. */
  private[graft] def kmAssignStateless(
      e: DataFrame, centSeq: Seq[(Long, Seq[Long])]): DataFrame = {
    require(centSeq.nonEmpty && centSeq == centSeq.sortBy(_._1),
      "centSeq must be non-empty and cid-ascending (the tie rule)")
    val centLit = array(centSeq.map { case (cid, cv) =>
      struct(lit(cid).as("cid"),
        array(cv.map(lit(_)): _*).as("cv"))
    }: _*)
    e.withColumn("m",
        aggregate(centLit,
          struct(lit(Long.MaxValue).as("d2"), lit(-1L).as("cid")),
          (acc, c) => {
            val d2 = dist2(col("qv"), c.getField("cv"))
            when(d2 < acc.getField("d2"),
              struct(d2.as("d2"), c.getField("cid").as("cid")))
              .otherwise(acc)
          }))
      .select(col("vec_id"), col("v"), col("qv"), col("m.cid").as("cid"))
  }

  /** The frozen incremental artifact's coarse centroids, collected to
    * a cid-ascending literal seq for [[kmAssignStateless]] (bounded:
    * the quantizer's K rows). */
  private[graft] def gateCentroids(
      s: SparkSession, d: String): Seq[(Long, Seq[Long])] =
    s.read.parquet(s"${incrIndexDir(s, d)}/centroids")
      .select("cid", "cv").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
      .sortBy(_._1).toSeq

  // ------------------------------- s99 IVF index health census

  /** s99: the serving-side INDEX HEALTH census — the check a
    * deployment runs between absorb (s81/d64) and serve (s80): one
    * row per occupied cell of the incremental artifact with its
    * occupancy split base vs absorbed batch, its corpus share in
    * exact ppm, the mean quantization distance of its members to
    * their FROZEN centroid (exact integer division over the integer
    * d2 grid — a batch mean rising above the base mean signals
    * quantizer drift: the frozen model no longer fits arriving
    * data), and a hot-cell verdict at the 2×-mean-occupancy
    * threshold evaluated as the integer cross-multiplication
    * `n_total × K > 2 × N` (no division, engine-exact). A hot cell
    * breaks the probe cost model (s61's serve scans one cell), so
    * this table is the trigger for the d54/d61 sub-split guard or a
    * K bump at the next rebuild. Plan shape: one members scan joined
    * to the quantized vectors + the broadcast K-row centroid table;
    * partial aggregation collapses each scan partition to ≤K rows
    * before the exchange, so the shuffle carries cells, never
    * members — O(corpus scan) at any scale. Oracle: the frozen-model
    * Lloyd replay (kmSqlPrefixFrom with the base training predicate)
    * recomputes assignment AND per-member d2 bit-for-bit. */
  def indexHealth(s: SparkSession, d: String): DataFrame = {
    val idx = incrIndexDir(s, d)
    val b = incrBase(s, d)
    val n = embeddings(s, d).count()
    val scored = s.read.parquet(s"$idx/members")
      .join(quantized(s, d).select("vec_id", "qv"), "vec_id")
      .join(broadcast(s.read.parquet(s"$idx/centroids")), "cid")
      .withColumn("d2", dist2(col("qv"), col("cv")))
      .withColumn("is_base", col("vec_id") < b)
    healthCensusOf(scored, n, kmK)
  }

  /** The s99 aggregate over a (cid, d2, is_base) scored frame —
    * factored so the hot/mean mechanics are spec-testable without an
    * artifact on disk. */
  private[graft] def healthCensusOf(
      scored: DataFrame, n: Long, k: Int): DataFrame =
    scored.groupBy("cid")
      .agg(
        sum(when(col("is_base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(col("is_base"), 0L).otherwise(1L)).as("n_batch"),
        count(lit(1)).as("n_total"),
        sum(when(col("is_base"), col("d2")).otherwise(0L)).as("s2b"),
        sum(when(!col("is_base"), col("d2")).otherwise(0L)).as("s2n"))
      .select(col("cid"), col("n_base"), col("n_batch"), col("n_total"),
        expr(s"n_total * 1000000 div ${n}L").as("share_ppm"),
        expr("CASE WHEN n_base = 0 THEN CAST(NULL AS BIGINT)" +
          " ELSE s2b div n_base END").as("mean_d2_base"),
        expr("CASE WHEN n_batch = 0 THEN CAST(NULL AS BIGINT)" +
          " ELSE s2n div n_batch END").as("mean_d2_batch"),
        when(col("n_total") * lit(k.toLong) > lit(2L * n), "hot")
          .otherwise("ok").as("verdict"))
      .orderBy("cid")

  // lazy: declared above kmDistSql/kmSqlPrefixFrom in init order
  lazy val indexHealthSql: String = {
    val dist = kmDistSql.replace("AQ", "f.qv").replace("CV", "c.cv")
    s"""${kmSqlPrefixFrom(
        "vec_id < (SELECT 4 * count(*) // 5 FROM embeddings)")},
      |cut AS (SELECT 4 * count(*) // 5 AS b FROM embeddings),
      |nn AS (SELECT count(*) AS n FROM embeddings),
      |sc AS (
      |  SELECT f.cid, f.vec_id, $dist AS d2,
      |    (f.vec_id < cut.b) AS is_base
      |  FROM aF f JOIN c$kmIters c ON c.cid = f.cid, cut)
      |SELECT cid,
      |  CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
      |  CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END) AS BIGINT) AS n_batch,
      |  CAST(count(*) AS BIGINT) AS n_total,
      |  CAST(count(*) * 1000000 // (SELECT n FROM nn) AS BIGINT)
      |    AS share_ppm,
      |  CAST(CASE WHEN sum(CASE WHEN is_base THEN 1 ELSE 0 END) = 0
      |    THEN NULL
      |    ELSE sum(CASE WHEN is_base THEN d2 ELSE 0 END)
      |      // sum(CASE WHEN is_base THEN 1 ELSE 0 END) END AS BIGINT)
      |    AS mean_d2_base,
      |  CAST(CASE WHEN sum(CASE WHEN is_base THEN 0 ELSE 1 END) = 0
      |    THEN NULL
      |    ELSE sum(CASE WHEN is_base THEN 0 ELSE d2 END)
      |      // sum(CASE WHEN is_base THEN 0 ELSE 1 END) END AS BIGINT)
      |    AS mean_d2_batch,
      |  CASE WHEN count(*) * $kmK > 2 * (SELECT n FROM nn)
      |    THEN 'hot' ELSE 'ok' END AS verdict
      |FROM sc GROUP BY cid ORDER BY cid""".stripMargin
  }

  /** Integer centroid update: per-dim mean of members, rounded back to
    * the fixed-point grid via EXACT integer half-away-from-zero
    * division — round(sum/count) double division can land on
    * cross-engine .5 tie boundaries; the integer formula is
    * engine-identical by construction. */
  private def kmMeans(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("cid", "pos")
      .agg(expr("CASE WHEN sum(x) >= 0" +
        " THEN (2 * sum(x) + count(1)) div (2 * count(1))" +
        " ELSE -((-2 * sum(x) + count(1)) div (2 * count(1))) END").as("cx"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        p => p.getField("cx")).as("cv"))

  /** Pre-train the shared models (bench pre-warm line item): the
    * k-means quantizer and the PQ frames (subvectors, codebooks,
    * encodings) — otherwise their one-time build cost lands on
    * whichever of s69/s70 runs first and round-over-round diffs
    * misread it as a query regression. */
  def warm(s: SparkSession, d: String): Unit = {
    kmModel(s, d)
    val (subs, cb, enc) = pqParts(s, d)
    subs.count(); cb.count(); enc.count()
    ()
  }

  /** Train the quantizer: returns (centroids, final assignment), both
    * cached — the model is shared by s66 (census), s67 (serving) and
    * s68 (recall eval), trained once per (session, dir). The training
    * loop shuffles ~corpus×K rows many times; its stages are sized to
    * that volume (full width at real scale, narrow on the fixtures)
    * and both frames are materialized inside that scope. */
  private def kmModel(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    def centroids(train: => DataFrame) =
      SessionStore.frame(s, d, "kmeans/cent") {
        val e = train
        var cent = e.filter(col("vec_id") < kmK)
          .select(col("vec_id").as("cid"), col("qv").as("cv"))
        for (_ <- 1 to kmIters) cent = kmMeans(kmAssign(e, cent))
        cent
      }
    val assigned = SessionStore.frame(s, d, "kmeans/assign") {
      val e = quantized(s, d).cache()
      graft.operators.Salting.withVolumeShuffle(s, e.count() * kmK) {
        val a = kmAssign(e, centroids(e)).cache()
        a.count()
        e.unpersist()
        a
      }
    }
    (centroids(quantized(s, d)), assigned)
  }

  /** Final (post-iteration) assignment of every vector. */
  private def kmFinal(s: SparkSession, d: String): DataFrame =
    kmModel(s, d)._2

  /** The trained full-corpus assignment (vec_id, v, qv, cid), exposed
    * for the semantic-dedup tier (d61) — SemDeDup's cluster blocking IS
    * this model; training it twice would double the cache_kmeans_model
    * warm and let the two tiers drift apart. */
  private[ext] def kmAssignedFull(s: SparkSession, d: String): DataFrame =
    kmFinal(s, d)

  /** The oracle-side twin of the trained model (CTE prefix ending in
    * the full-corpus assignment `aF`), exposed for d61's SQL twin. */
  private[ext] def kmSqlPrefixForDedup: String = kmSqlPrefix

  /** Rounded-cosine SQL snippet (replace QV/CV), shared with d61. */
  private[ext] def cosineSqlSnippetForDedup: String = cosineSqlSnippet

  /** s66: k-means cluster census after `kmIters` Lloyd iterations —
    * a REAL trained coarse quantizer (vs s61's label blocking), the
    * index-build half of IVF. Everything incl. the iteration is
    * oracle-checked thanks to the fixed-point arithmetic. */
  def kmeansCensus(s: SparkSession, d: String): DataFrame =
    kmFinal(s, d)
      .groupBy("cid")
      .agg(count(lit(1)).as("n_vectors"), min("vec_id").as("min_vec_id"))
      .orderBy("cid")

  /** s67: ANN through the trained quantizer — probe the nearest
    * centroid (integer distance), exact rounded-cosine top-3 within
    * that cluster. The serving half of k-means IVF. */
  /** Coarse-quantizer probe: each query's nearest trained centroid
    * (integer distance, ties → smallest cid), with the raw query
    * vector carried for downstream exact scoring. Shared by s67 (raw
    * rerank) and s75 (ADC rerank) — the same dataflow the oracle side
    * factors into `kmProbeSql`, so the two serving paths can never
    * probe different cells. */
  private def kmProbe(s: SparkSession, d: String): DataFrame = {
    val (cent, _) = kmModel(s, d)
    quantized(s, d).filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv2"), col("qv"))
      .crossJoin(broadcast(cent))
      .withColumn("d2", dist2(col("qv"), col("cv")))
      .groupBy("q_id", "qv2")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("q_id"), col("qv2"), col("m.cid").as("cid"))
  }

  def kmeansIvfKnn(s: SparkSession, d: String): DataFrame = {
    val (_, assigned) = kmModel(s, d)
    val members = assigned
      .select(col("vec_id").as("c_id"), col("cid"), col("v").as("cv2"))
    val ranked = kmProbe(s, d).join(members, Seq("cid"))
      .filter(col("c_id") =!= col("q_id"))
      .withColumn("cosine",
        round(dot(col("qv2"), col("cv2")) / (norm(col("qv2")) * norm(col("cv2"))), 6))
      .groupBy("q_id", "cid")
      .agg(topkUdaf(3)(col("cosine"), col("c_id")).as("tk"))
    explodeTopK(ranked, Seq("q_id", "cid"), "c_id", "cosine")
      .select("q_id", "cid", "c_id", "cosine", "rank")
      .orderBy("q_id", "rank")
  }

  private val kmDistSql =
    "list_sum(list_transform(range(1, 65), i -> (AQ[i] - CV[i]) * (AQ[i] - CV[i])))"

  /** Shared CTE prefix: quantize → seeds → kmIters × (assign, update).
    * `cN` is the final centroid set, `aF` the final assignment.
    * `trainWhere` restricts which vectors TRAIN the quantizer (`qt`);
    * the final `aF` assignment always covers the FULL corpus — with the
    * default `TRUE` this is the ordinary full-corpus model, with a base
    * predicate it is the frozen-model shape the incremental index (s81)
    * needs. */
  private def kmSqlPrefixFrom(trainWhere: String): String = {
    def assignCte(name: String, srcName: String, centName: String) = {
      val dist = kmDistSql.replace("AQ", "q.qv").replace("CV", "c.cv")
      s"""$name AS (
        |  SELECT vec_id, v, qv, cid FROM (
        |    SELECT q.vec_id, q.v, q.qv, c.cid,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY $dist ASC, c.cid) rn
        |    FROM $srcName q, $centName c) WHERE rn = 1)""".stripMargin
    }
    def meansCte(name: String, assignName: String) =
      s"""$name AS (
        |  SELECT cid, list(cx ORDER BY pos) cv FROM (
        |    SELECT cid, pos, CASE WHEN sum(x) >= 0
      THEN (2 * sum(x) + count(*)) // (2 * count(*))
      ELSE -((-2 * sum(x) + count(*)) // (2 * count(*))) END cx
        |    FROM (SELECT cid, unnest(qv) x, generate_subscripts(qv, 1) pos
        |          FROM $assignName)
        |    GROUP BY cid, pos)
        |  GROUP BY cid)""".stripMargin
    val iters = (1 to kmIters).map { i =>
      assignCte(s"a$i", "qt", if (i == 1) "c0" else s"c${i - 1}") + ",\n" +
        meansCte(s"c$i", s"a$i")
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |q AS (SELECT vec_id, v,
      |  list_transform(v, x -> CAST(round(x * $kmScale, 0) AS BIGINT)) qv
      |  FROM e),
      |qt AS (SELECT * FROM q WHERE $trainWhere),
      |c0 AS (SELECT vec_id cid, qv cv FROM qt WHERE vec_id < $kmK),
      |$iters,
      |${assignCte("aF", "q", s"c$kmIters")}""".stripMargin
  }

  private val kmSqlPrefix: String = kmSqlPrefixFrom("TRUE")

  val kmeansCensusSql: String =
    s"""$kmSqlPrefix
      |SELECT cid, count(*) AS n_vectors, min(vec_id) AS min_vec_id
      |FROM aF GROUP BY cid ORDER BY cid""".stripMargin

  val kmeansIvfKnnSql: String = {
    val probeDist = kmDistSql.replace("AQ", "qq.qv").replace("CV", "c.cv")
    val cosine = cosineSqlSnippet.replace("QV", "p.v").replace("CV", "m.v")
    s"""$kmSqlPrefix,
      |probe AS (
      |  SELECT q_id, v, cid FROM (
      |    SELECT qq.vec_id q_id, qq.v, c.cid,
      |      row_number() OVER (PARTITION BY qq.vec_id
      |        ORDER BY $probeDist ASC, c.cid) rn
      |    FROM q qq, c$kmIters c WHERE qq.vec_id < 10) WHERE rn = 1),
      |scored AS (
      |  SELECT p.q_id, p.cid, m.vec_id c_id, round($cosine, 6) AS cosine
      |  FROM probe p JOIN aF m ON m.cid = p.cid AND m.vec_id <> p.q_id),
      |ranked AS (
      |  SELECT q_id, cid, c_id, cosine, CAST(row_number() OVER (
      |    PARTITION BY q_id ORDER BY cosine DESC, c_id) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT q_id, cid, c_id, cosine, rank FROM ranked
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  /** Full-query twins of the trained-model internals, for composition:
    * s75 embeds them as subqueries, so their CTE names stay scoped and
    * never clash with the PQ prefix's. */
  private val kmAssignSql: String =
    s"$kmSqlPrefix\nSELECT vec_id, cid FROM aF"

  private val kmProbeSql: String = {
    val probeDist = kmDistSql.replace("AQ", "qq.qv").replace("CV", "c.cv")
    s"""$kmSqlPrefix,
      |probe AS (
      |  SELECT q_id, cid FROM (
      |    SELECT qq.vec_id q_id, c.cid,
      |      row_number() OVER (PARTITION BY qq.vec_id
      |        ORDER BY $probeDist ASC, c.cid) rn
      |    FROM q qq, c$kmIters c WHERE qq.vec_id < 10) WHERE rn = 1)
      |SELECT q_id, cid FROM probe""".stripMargin
  }

  // ------------------------------------------- s69 product quantization

  private val pqM = 4     // subspaces
  private val pqSub = 16  // dims per subspace (4 × 16 = 64)
  private val pqK = 4     // codewords per subspace → 4^4 = 256 codes

  /** s69: product quantization — the memory-bounded ANN companion to
    * the IVF tier: each vector is encoded as `pqM` codebook indices
    * (here 8 bits total vs 64 × 8 B raw, the compression that lets a
    * 100 TB corpus' index live in RAM), with the integer reconstruction
    * error as the quality signal. All `pqM` per-subspace codebooks are
    * trained SIMULTANEOUSLY by keying every stage on the subspace id —
    * one Lloyd pass over one exploded frame, not `pqM` sequential jobs —
    * on the same fixed-point integer arithmetic as s66, so training,
    * encoding, and the error sums are all oracle-checked bit-for-bit.
    *
    * Scale shape: seeds and codebooks are tiny (pqM × pqK rows) and
    * broadcast; the corpus explodes ×pqM but every aggregate is
    * map-side-partial'd (the argmin is `min(struct)`, never a window);
    * nothing larger than corpus×pqK ever shuffles. */
  // PQ model frames cached per (session, dir): within one s70 plan,
  // `subs` feeds seeds/assign/encode/LUT and `cb` feeds encode+LUT —
  // uncached, Spark re-ran the quantize+explode scan and the Lloyd
  // round once per occurrence
  /** PQ model parts: (subvector frame, trained codebooks, per-vector
    * encodings). Shared by s69 (codes) and s70 (ADC serving). */
  private def pqParts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val subs = SessionStore.frame(s, d, "pq/subs") {
      quantized(s, d)
        .select(col("vec_id"), explode(array((0 until pqM).map(j =>
          struct(lit(j).as("j"),
            slice(col("qv"), j * pqSub + 1, pqSub).as("sv"))): _*)).as("s"))
        .select(col("vec_id"), col("s.j").as("j"), col("s.sv").as("sv"))
    }
    // seeds: the first pqK vectors' subvectors, per subspace
    val cb = SessionStore.frame(s, d, "pq/cb") {
      val seeds = subs.filter(col("vec_id") < pqK)
        .select(col("j"), col("vec_id").as("cid"), col("sv").as("cv"))
      // one Lloyd round: integer argmin assign → integer-rounded means
      val assigned = subs.join(broadcast(seeds), Seq("j"))
        .withColumn("d2", dist2(col("sv"), col("cv")))
        .groupBy("vec_id", "j", "sv")
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("j"), col("sv"), col("m.cid").as("cid"))
      assigned
        .select(col("j"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("j", "cid", "pos")
        .agg(expr("CASE WHEN sum(x) >= 0" +
        " THEN (2 * sum(x) + count(1)) div (2 * count(1))" +
        " ELSE -((-2 * sum(x) + count(1)) div (2 * count(1))) END").as("cx"))
        .groupBy("j", "cid")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
          p => p.getField("cx")).as("cv"))
    }
    // encode: nearest codeword per subspace (the persisted "index" a
    // real deployment would store — cached for the same reason)
    val enc = SessionStore.frame(s, d, "pq/enc") {
      subs.join(broadcast(cb), Seq("j"))
        .withColumn("d2", dist2(col("sv"), col("cv")))
        .groupBy("vec_id", "j")
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("j"),
          col("m.cid").as("cid"), col("m.d2").as("d2"))
    }
    (subs, cb, enc)
  }

  def pqCodes(s: SparkSession, d: String): DataFrame = {
    // pq_code packs the pqM 2-bit indices via exact integer weights
    // (no fp pow)
    val (_, _, enc) = pqParts(s, d)
    enc.groupBy("vec_id")
      .agg(sum(col("cid") *
          expr("CASE j WHEN 0 THEN 1 WHEN 1 THEN 4 WHEN 2 THEN 16 ELSE 64 END"))
          .as("pq_code"),
        sum("d2").as("recon_d2"))
      .orderBy("vec_id")
  }

  private val pqD16 = "list_sum(list_transform(range(1, 17)," +
    " i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])))"

  /** Shared CTE prefix: quantize → subvectors → seeds → one Lloyd round
    * → codebooks `cb` → encodings `enc`. `trainWhere` restricts which
    * vectors TRAIN the codebooks (`tsubs`); `enc` always encodes the
    * FULL corpus (see [[kmSqlPrefixFrom]]). */
  private def pqSqlPrefixFrom(trainWhere: String): String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
      |    x -> CAST(round(x * $kmScale, 0) AS BIGINT)) qv FROM embeddings),
      |subs AS (
      |  SELECT vec_id, j, qv[j * $pqSub + 1 : j * $pqSub + $pqSub] AS sv
      |  FROM e, generate_series(0, ${pqM - 1}) g(j)),
      |tsubs AS (SELECT * FROM subs WHERE $trainWhere),
      |seeds AS (SELECT j, vec_id cid, sv cv FROM tsubs WHERE vec_id < $pqK),
      |a1 AS (
      |  SELECT vec_id, j, sv, cid FROM (
      |    SELECT s.vec_id, s.j, s.sv, c.cid,
      |      row_number() OVER (PARTITION BY s.vec_id, s.j
      |        ORDER BY $pqD16 ASC, c.cid) rn
      |    FROM tsubs s JOIN seeds c ON c.j = s.j) WHERE rn = 1),
      |cb AS (
      |  SELECT j, cid, list(cx ORDER BY pos) cv FROM (
      |    SELECT j, cid, pos, CASE WHEN sum(x) >= 0
      THEN (2 * sum(x) + count(*)) // (2 * count(*))
      ELSE -((-2 * sum(x) + count(*)) // (2 * count(*))) END cx
      |    FROM (SELECT j, cid, unnest(sv) x, generate_subscripts(sv, 1) pos
      |          FROM a1)
      |    GROUP BY j, cid, pos) GROUP BY j, cid),
      |enc AS (
      |  SELECT vec_id, j, cid, d2 FROM (
      |    SELECT s.vec_id, s.j, c.cid, $pqD16 AS d2,
      |      row_number() OVER (PARTITION BY s.vec_id, s.j
      |        ORDER BY $pqD16 ASC, c.cid) rn
      |    FROM subs s JOIN cb c ON c.j = s.j) WHERE rn = 1)""".stripMargin

  private val pqSqlPrefix: String = pqSqlPrefixFrom("TRUE")

  val pqCodesSql: String =
    s"""$pqSqlPrefix
      |SELECT vec_id,
      |  CAST(sum(cid * CASE j WHEN 0 THEN 1 WHEN 1 THEN 4
      |                        WHEN 2 THEN 16 ELSE 64 END) AS BIGINT) AS pq_code,
      |  CAST(sum(d2) AS BIGINT) AS recon_d2
      |FROM enc GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** s70: PQ serving via asymmetric distance computation — each query
    * builds a pqM×pqK lookup table of exact integer distances from its
    * RAW subvectors to every codeword; the corpus is then scored from
    * its 8-bit codes alone by summing table entries. This is the 100 TB
    * read path PQ exists for: the scan touches only the code column
    * (pqM small ints per vector, not pqM·pqSub floats), the LUT
    * (queries × pqM × pqK rows) broadcasts, and the per-query top-k is
    * the bounded-heap aggregate. Every distance is an integer sum, so
    * ranking (ties → smallest id) is cross-engine exact. */
  def pqAdcKnn(s: SparkSession, d: String): DataFrame = {
    val (subs, cb, enc) = pqParts(s, d)
    val lut = subs.filter(col("vec_id") < 10).toDF("q_id", "j", "qsv")
      .join(cb, Seq("j"))
      .withColumn("qd2", dist2(col("qsv"), col("cv")))
      .select("q_id", "j", "cid", "qd2")
    val scored = enc.select("vec_id", "j", "cid")
      .join(broadcast(lut), Seq("j", "cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum("qd2").as("ad2"))
      // bounded-heap top-3 by (ad2 ASC, id ASC) — negate for the
      // score-DESC heap; the integer is exact as a double (< 2^53)
      .groupBy("q_id")
      .agg(topkUdaf(3)((-col("ad2")).cast("double"), col("vec_id")).as("tk"))
    explodeTopK(scored, Seq("q_id"), "c_id", "nad2")
      .select(col("q_id"), col("c_id"),
        (-col("nad2")).cast("bigint").as("ad2"), col("rank"))
      .orderBy("q_id", "rank")
  }

  val pqAdcKnnSql: String = {
    val lutD16 = pqD16 // s = query subvectors, c = codebook
    s"""$pqSqlPrefix,
      |lut AS (
      |  SELECT s.vec_id q_id, s.j, c.cid, $lutD16 AS qd2
      |  FROM subs s JOIN cb c ON c.j = s.j WHERE s.vec_id < 10),
      |scored AS (
      |  SELECT l.q_id, e2.vec_id c_id, sum(l.qd2) AS ad2
      |  FROM enc e2 JOIN lut l ON l.j = e2.j AND l.cid = e2.cid
      |  WHERE e2.vec_id <> l.q_id GROUP BY 1, 2),
      |ranked AS (
      |  SELECT q_id, c_id, ad2, CAST(row_number() OVER (
      |    PARTITION BY q_id ORDER BY ad2 ASC, c_id) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT q_id, c_id, CAST(ad2 AS BIGINT) AS ad2, rank
      |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------------ s75 IVF-PQ

  /** s75: IVF-PQ — the fully composed production ANN index (the FAISS
    * `IVFx,PQy` shape): each query probes the TRAINED coarse quantizer
    * (s66's fixed-point k-means model) for its nearest cell, then
    * scores ONLY that cell's members from their 8-bit PQ codes via the
    * s70 ADC lookup tables. The two index structures compose exactly as
    * they would at 100 TB — the scan is restricted to one cell's code
    * column (IVF bounds rows touched, PQ bounds bytes per row), the
    * centroids/codebooks/LUTs all broadcast, and the per-query top-3 is
    * the bounded-heap aggregate. Every distance is an integer sum, so
    * the whole composed path hash-checks (ties → smallest id). */
  def ivfPqKnn(s: SparkSession, d: String): DataFrame = {
    val (_, assigned) = kmModel(s, d)
    val (subs, cb, enc) = pqParts(s, d)
    val probe = kmProbe(s, d).select("q_id", "cid")
    val lut = subs.filter(col("vec_id") < 10).toDF("q_id", "j", "qsv")
      .join(broadcast(cb.toDF("j", "code", "ccv")), Seq("j"))
      .withColumn("qd2", dist2(col("qsv"), col("ccv")))
      .select("q_id", "j", "code", "qd2")
    val members = assigned.select(col("vec_id").as("c_id"), col("cid"))
    val codes = enc.select(col("vec_id").as("c_id"), col("j"),
      col("cid").as("code"))
    val scored = probe.join(members, "cid")
      .filter(col("c_id") =!= col("q_id"))
      .join(codes, "c_id")
      .join(broadcast(lut), Seq("q_id", "j", "code"))
      .groupBy("q_id", "cid", "c_id")
      .agg(sum("qd2").as("ad2"))
      .groupBy("q_id", "cid")
      .agg(topkUdaf(3)((-col("ad2")).cast("double"), col("c_id")).as("tk"))
    explodeTopK(scored, Seq("q_id", "cid"), "c_id", "nad2")
      .select(col("q_id"), col("cid"), col("c_id"),
        (-col("nad2")).cast("bigint").as("ad2"), col("rank"))
      .orderBy("q_id", "rank")
  }

  val ivfPqKnnSql: String =
    s"""$pqSqlPrefix,
      |member AS (SELECT vec_id AS c_id, cid FROM ($kmAssignSql)),
      |probe AS (SELECT q_id, cid FROM ($kmProbeSql)),
      |lut AS (
      |  SELECT s.vec_id q_id, s.j, c.cid AS code, $pqD16 AS qd2
      |  FROM subs s JOIN cb c ON c.j = s.j WHERE s.vec_id < 10),
      |scored AS (
      |  SELECT p.q_id, p.cid, m.c_id, sum(l.qd2) AS ad2
      |  FROM probe p
      |  JOIN member m ON m.cid = p.cid AND m.c_id <> p.q_id
      |  JOIN enc e2 ON e2.vec_id = m.c_id
      |  JOIN lut l ON l.q_id = p.q_id AND l.j = e2.j AND l.code = e2.cid
      |  GROUP BY 1, 2, 3),
      |ranked AS (
      |  SELECT q_id, cid, c_id, ad2, CAST(row_number() OVER (
      |    PARTITION BY q_id ORDER BY ad2 ASC, c_id) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT q_id, cid, c_id, CAST(ad2 AS BIGINT) AS ad2, rank
      |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ------------------------------- s80 persisted-index IVF-PQ serving

  // Saved-index artifacts are the SessionStore "ivfpq" and "bm25"
  // families: built + written once per (session, dir), reloaded by
  // every serving call.

  /** Write the trained IVF-PQ index as a 4-table parquet artifact —
    * coarse centroids, cell membership, PQ codebooks, per-vector
    * codes. This is the "build once" half of a real ANN deployment:
    * the artifact is everything serving needs (raw vectors excluded by
    * design — queries arrive at serve time), so an index built on one
    * cluster ships to any number of serving readers. */
  def saveIvfPqIndex(s: SparkSession, d: String, out: String): Unit = {
    val (cent, assigned) = kmModel(s, d)
    val (_, cb, enc) = pqParts(s, d)
    cent.write.mode("overwrite").parquet(s"$out/centroids")
    assigned.select("vec_id", "cid")
      .write.mode("overwrite").parquet(s"$out/members")
    cb.write.mode("overwrite").parquet(s"$out/codebooks")
    enc.select("vec_id", "j", "cid")
      .write.mode("overwrite").parquet(s"$out/codes")
  }

  /** s80: s75's IVF-PQ serving run entirely from the RELOADED parquet
    * artifact — no touch of the in-session trained model: the "serve
    * many" half. Probe, LUT build, and ADC scoring are the s75
    * dataflow against the loaded tables (queries re-quantized from the
    * embeddings table at serve time, as a real query stream would be),
    * and the result shares s75's oracle — proving the save/load round
    * trip preserves the index bit-for-bit. */
  def ivfPqKnnServed(s: SparkSession, d: String): DataFrame =
    serveAdcFromArtifact(s, d, builtIndexDir(s, d))

  /** Build-or-get the saved serving artifact for (session, dir) —
    * shared by s80 and s94 (the tombstone op must mutate the SAME
    * artifact s80 serves from for the sidecar-invisibility claim to
    * mean anything). */
  private def builtIndexDir(s: SparkSession, d: String): String =
    SessionStore.artifact(s, d, "ivfpq/index")(saveIvfPqIndex(s, d, _))

  /** The "serve many" half shared by s80/s81/s94: probe + LUT + ADC
    * top-k run entirely from a saved artifact dir. With
    * `dropTombstones` the `tombstones` sidecar is anti-joined against
    * cell members BEFORE the top-k heap, so a deleted vector can
    * neither rank nor displace a survivor. */
  private def serveAdcFromArtifact(s: SparkSession, d: String,
      idx: String, dropTombstones: Boolean = false): DataFrame = {
    val cent = s.read.parquet(s"$idx/centroids")
    val members0 = s.read.parquet(s"$idx/members")
      .select(col("vec_id").as("c_id"), col("cid"))
    val members =
      if (dropTombstones)
        members0.join(s.read.parquet(s"$idx/tombstones").distinct(),
          Seq("c_id"), "left_anti")
      else members0
    val cb = s.read.parquet(s"$idx/codebooks")
    val codes = s.read.parquet(s"$idx/codes")
      .select(col("vec_id").as("c_id"), col("j"), col("cid").as("code"))
    // queries are runtime input: quantize, probe the loaded coarse
    // quantizer, build the ADC lookup tables from the loaded codebooks
    val q = quantized(s, d).filter(col("vec_id") < 10)
    val probe = q.select(col("vec_id").as("q_id"), col("qv"))
      .crossJoin(broadcast(cent))
      .withColumn("d2", dist2(col("qv"), col("cv")))
      .groupBy("q_id")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("q_id"), col("m.cid").as("cid"))
    val qsubs = q.select(col("vec_id").as("q_id"),
        explode(array((0 until pqM).map(j =>
          struct(lit(j).as("j"),
            slice(col("qv"), j * pqSub + 1, pqSub).as("sv"))): _*)).as("s"))
      .select(col("q_id"), col("s.j").as("j"), col("s.sv").as("qsv"))
    val lut = qsubs
      .join(broadcast(cb.toDF("j", "code", "ccv")), Seq("j"))
      .withColumn("qd2", dist2(col("qsv"), col("ccv")))
      .select("q_id", "j", "code", "qd2")
    val scored = probe.join(members, "cid")
      .filter(col("c_id") =!= col("q_id"))
      .join(codes, "c_id")
      .join(broadcast(lut), Seq("q_id", "j", "code"))
      .groupBy("q_id", "cid", "c_id")
      .agg(sum("qd2").as("ad2"))
      .groupBy("q_id", "cid")
      .agg(topkUdaf(3)((-col("ad2")).cast("double"), col("c_id")).as("tk"))
    explodeTopK(scored, Seq("q_id", "cid"), "c_id", "nad2")
      .select(col("q_id"), col("cid"), col("c_id"),
        (-col("nad2")).cast("bigint").as("ad2"), col("rank"))
      .orderBy("q_id", "rank")
  }

  // ------------------------- s81 incremental IVF-PQ index maintenance

  /** Training predicate for the incremental rehearsal: the FIRST 4/5 of
    * the corpus is the "already indexed" base; the rest arrives later. */
  private def incrBase(s: SparkSession, d: String): Long =
    embeddings(s, d).count() * 4 / 5

  /** s81: INCREMENTAL index maintenance — the ANN analogue of the
    * reference's incremental upsert (parsing_agent.py:67-86). The
    * artifact is built from the BASE 4/5 of the corpus only (coarse
    * quantizer and codebooks trained on base), then the remaining batch
    * is absorbed WITHOUT retraining: each new vector is assigned to its
    * nearest FROZEN coarse centroid and encoded against the FROZEN
    * codebooks, and only member/code ROWS are appended (parquet append
    * — centroids and codebooks untouched on disk, the update cost is
    * O(batch), never O(corpus)). Serving then runs the s80 dataflow
    * over the updated artifact; the DuckDB twin recomputes the same
    * base-trained frozen-model ADC over the unioned corpus, so
    * assignment, encoding, append, and serving all hash-check. */
  def ivfPqIncremental(s: SparkSession, d: String): DataFrame =
    serveAdcFromArtifact(s, d, incrIndexDir(s, d))

  /** Build-or-get the incremental artifact (base-4/5-trained frozen
    * model + absorbed batch rows) — shared by s81's serving and d64's
    * ingest-time semantic-dedup gate. */
  private def incrIndexDir(s: SparkSession, d: String): String =
    SessionStore.artifact(s, d, "ivfpq/incr") { dir =>
      val b = incrBase(s, d)
      val e = quantized(s, d).cache()
      val base = e.filter(col("vec_id") < b)
      val batch = e.filter(col("vec_id") >= b)
      // ---- build on base (the "already deployed" index)
      var cent = base.filter(col("vec_id") < kmK)
        .select(col("vec_id").as("cid"), col("qv").as("cv"))
      for (_ <- 1 to kmIters) cent = kmMeans(kmAssign(base, cent))
      cent = cent.localCheckpoint() // freeze: 2·kmIters-job lineage
      def subsOf(df: DataFrame) = df
        .select(col("vec_id"), explode(array((0 until pqM).map(j =>
          struct(lit(j).as("j"),
            slice(col("qv"), j * pqSub + 1, pqSub).as("sv"))): _*)).as("s"))
        .select(col("vec_id"), col("s.j").as("j"), col("s.sv").as("sv"))
      val baseSubs = subsOf(base)
      val seeds = baseSubs.filter(col("vec_id") < pqK)
        .select(col("j"), col("vec_id").as("cid"), col("sv").as("cv"))
      val assigned = baseSubs.join(broadcast(seeds), Seq("j"))
        .withColumn("d2", dist2(col("sv"), col("cv")))
        .groupBy("vec_id", "j", "sv")
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("j"), col("sv"), col("m.cid").as("cid"))
      val cb = assigned
        .select(col("j"), col("cid"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("j", "cid", "pos")
        .agg(expr("CASE WHEN sum(x) >= 0" +
          " THEN (2 * sum(x) + count(1)) div (2 * count(1))" +
          " ELSE -((-2 * sum(x) + count(1)) div (2 * count(1))) END")
          .as("cx"))
        .groupBy("j", "cid")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("cx")))),
          p => p.getField("cx")).as("cv"))
        .localCheckpoint()
      def encodeWith(subs: DataFrame) = subs.join(broadcast(cb), Seq("j"))
        .withColumn("d2", dist2(col("sv"), col("cv")))
        .groupBy("vec_id", "j")
        .agg(min(struct(col("d2"), col("cid"))).as("m"))
        .select(col("vec_id"), col("j"), col("m.cid").as("cid"))
      cent.write.mode("overwrite").parquet(s"$dir/centroids")
      cb.write.mode("overwrite").parquet(s"$dir/codebooks")
      kmAssign(base, cent).select("vec_id", "cid")
        .write.mode("overwrite").parquet(s"$dir/members")
      encodeWith(baseSubs)
        .write.mode("overwrite").parquet(s"$dir/codes")
      // ---- absorb the new batch against the FROZEN model: appended
      // rows only — the four base files above are never rewritten
      kmAssign(batch, cent).select("vec_id", "cid")
        .write.mode("append").parquet(s"$dir/members")
      encodeWith(subsOf(batch))
        .write.mode("append").parquet(s"$dir/codes")
      e.unpersist()
    }

  // --- helpers exposed for d64 (registered in DedupOps): the
  // ingest-time semantic-dedup gate runs against the SAME frozen
  // artifact s81 maintains
  private[graft] def incrIndexDirForDedup(s: SparkSession, d: String): String =
    incrIndexDir(s, d)
  private[graft] def incrBaseCut(s: SparkSession, d: String): Long =
    incrBase(s, d)
  private[graft] def quantizedForDedup(s: SparkSession, d: String): DataFrame =
    quantized(s, d)
  private[graft] def kmAssignForDedup(
      e: DataFrame, cent: DataFrame): DataFrame = kmAssign(e, cent)
  private[ext] def kmSqlPrefixFromForDedup(trainWhere: String): String =
    kmSqlPrefixFrom(trainWhere)

  // ------------------------- s94 tombstone deletes on the served index

  /** s94: index DELETION without rebuild — the lifecycle step s81's
    * append-only adds leave open: a decontamination verdict (t70), a
    * dedup decision (d57), or a takedown order removes vectors from a
    * SERVED index. The delete cohort (every vector with
    * vec_id % 13 == 5 — the quarantined-cohort stand-in) is written as
    * a TOMBSTONE sidecar under the saved artifact; the four base
    * tables are never rewritten (delete cost O(delete set), the s81
    * discipline applied to removal), and serving anti-joins the
    * sidecar against cell members BEFORE the ADC top-k heap, so a
    * deleted vector can neither rank nor displace a survivor — the
    * k-th result is always a retained vector, not a hole. Queries are
    * runtime input and stay servable even when their own vector is
    * tombstoned (deleting from the index ≠ losing the right to ask).
    * The sidecar is invisible to readers that don't opt in — s80's
    * serving over the same artifact is byte-identical before and
    * after the delete (spec-pinned). At scale the tombstone set rides
    * an equi-anti-join on vec_id: AQE broadcasts it while small and
    * shuffles a mass purge; periodic compaction (em73's discipline)
    * folds tombstones into the base tables offline. */
  def ivfPqTombstoned(s: SparkSession, d: String): DataFrame = {
    val idx = builtIndexDir(s, d)
    ivfPqDeleteCohort(s, idx)
    serveAdcFromArtifact(s, d, idx, dropTombstones = true)
  }

  /** The s94 delete step: idempotent tombstone manifest for the
    * rehearsal cohort (production appends delete batches; serving
    * reads DISTINCT either way). Shared with s97's compaction. */
  private[graft] def ivfPqDeleteCohort(s: SparkSession, idx: String): Unit =
    s.read.parquet(s"$idx/members")
      .select(col("vec_id").as("c_id"))
      .filter(col("c_id") % 13 === 5)
      .write.mode("overwrite").parquet(s"$idx/tombstones")

  // ------------------------- s97 ANN artifact compaction

  /** s97: the DENSE twin of s96 — the offline fold that retires s94's
    * tombstone sidecar: members and codes are rewritten minus the
    * tombstoned vectors into a FRESH artifact, the frozen model
    * (centroids, codebooks) is carried over unchanged, and no sidecar
    * dirs exist afterwards — serving is s80's plain read path with
    * zero anti-join work per query. Compact-to-new-directory + pointer
    * swap (the em73/s96 discipline): the source artifact is never
    * touched, so s80/s94 readers of the old artifact are never broken
    * and the swap is atomic. Shares s94's oracle — compaction must
    * preserve the tombstoned ranking bit-for-bit. Unlike BM25 (s96),
    * ADC scores are per-vector — deleting a member changes no other
    * vector's score — so the fold is pure row removal with no
    * statistics to correct; at scale, members/codes partitioned by
    * cell id confine the rewrite to the cells the delete cohort
    * actually touches (the em73 affected-partition discipline). */
  def ivfPqCompacted(s: SparkSession, d: String): DataFrame = {
    val src = builtIndexDir(s, d)
    val idx = SessionStore.artifact(s, d, "ivfpq/compact") { dir =>
      ivfPqDeleteCohort(s, src)
      compactIvfPq(s, src, dir)
    }
    serveAdcFromArtifact(s, d, idx, dropTombstones = false)
  }

  /** The s97 fold itself: rewrite `src` minus its tombstones as a
    * fresh sidecar-free artifact at `out` (frozen model copied). */
  private[graft] def compactIvfPq(
      s: SparkSession, src: String, out: String): Unit = {
    val tomb = s.read.parquet(s"$src/tombstones").distinct()
    s.read.parquet(s"$src/members")
      .join(broadcast(tomb.toDF("vec_id")), Seq("vec_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$out/members")
    s.read.parquet(s"$src/codes")
      .join(broadcast(tomb.toDF("vec_id")), Seq("vec_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$out/codes")
    s.read.parquet(s"$src/centroids")
      .write.mode("overwrite").parquet(s"$out/centroids")
    s.read.parquet(s"$src/codebooks")
      .write.mode("overwrite").parquet(s"$out/codebooks")
  }

  val ivfPqTombstonedSql: String =
    s"""$pqSqlPrefix,
      |member AS (SELECT vec_id AS c_id, cid FROM ($kmAssignSql)
      |  WHERE vec_id % 13 <> 5),
      |probe AS (SELECT q_id, cid FROM ($kmProbeSql)),
      |lut AS (
      |  SELECT s.vec_id q_id, s.j, c.cid AS code, $pqD16 AS qd2
      |  FROM subs s JOIN cb c ON c.j = s.j WHERE s.vec_id < 10),
      |scored AS (
      |  SELECT p.q_id, p.cid, m.c_id, sum(l.qd2) AS ad2
      |  FROM probe p
      |  JOIN member m ON m.cid = p.cid AND m.c_id <> p.q_id
      |  JOIN enc e2 ON e2.vec_id = m.c_id
      |  JOIN lut l ON l.q_id = p.q_id AND l.j = e2.j AND l.code = e2.cid
      |  GROUP BY 1, 2, 3),
      |ranked AS (
      |  SELECT q_id, cid, c_id, ad2, CAST(row_number() OVER (
      |    PARTITION BY q_id ORDER BY ad2 ASC, c_id) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT q_id, cid, c_id, CAST(ad2 AS BIGINT) AS ad2, rank
      |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  val ivfPqIncrSql: String = {
    val trainWhere = "vec_id < (SELECT 4 * count(*) // 5 FROM embeddings)"
    val pqPrefix = pqSqlPrefixFrom(trainWhere)
    val kmPrefix = kmSqlPrefixFrom(trainWhere)
    val memberSql = s"$kmPrefix\nSELECT vec_id, cid FROM aF"
    val probeDist = kmDistSql.replace("AQ", "qq.qv").replace("CV", "c.cv")
    val probeSql =
      s"""$kmPrefix,
        |probe AS (
        |  SELECT q_id, cid FROM (
        |    SELECT qq.vec_id q_id, c.cid,
        |      row_number() OVER (PARTITION BY qq.vec_id
        |        ORDER BY $probeDist ASC, c.cid) rn
        |    FROM q qq, c$kmIters c WHERE qq.vec_id < 10) WHERE rn = 1)
        |SELECT q_id, cid FROM probe""".stripMargin
    s"""$pqPrefix,
      |member AS (SELECT vec_id AS c_id, cid FROM ($memberSql)),
      |probe AS (SELECT q_id, cid FROM ($probeSql)),
      |lut AS (
      |  SELECT s.vec_id q_id, s.j, c.cid AS code, $pqD16 AS qd2
      |  FROM subs s JOIN cb c ON c.j = s.j WHERE s.vec_id < 10),
      |scored AS (
      |  SELECT p.q_id, p.cid, m.c_id, sum(l.qd2) AS ad2
      |  FROM probe p
      |  JOIN member m ON m.cid = p.cid AND m.c_id <> p.q_id
      |  JOIN enc e2 ON e2.vec_id = m.c_id
      |  JOIN lut l ON l.q_id = p.q_id AND l.j = e2.j AND l.code = e2.cid
      |  GROUP BY 1, 2, 3),
      |ranked AS (
      |  SELECT q_id, cid, c_id, ad2, CAST(row_number() OVER (
      |    PARTITION BY q_id ORDER BY ad2 ASC, c_id) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT q_id, cid, c_id, CAST(ad2 AS BIGINT) AS ad2, rank
      |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  // --------------------------------- s73 scalar quantization (int8)

  /** s73: scalar-quantization serving — the third compression point on
    * the ANN memory/recall curve (raw floats → s73 one byte/dim → s70
    * PQ one byte/vector-group). Each dimension is affinely mapped to an
    * 8-bit code from per-dimension corpus min/max, and kNN runs on
    * integer squared-L2 over the code arrays, so the scan reads 1 byte
    * per dim instead of 8 and every distance is exact BIGINT math
    * (cross-engine hash-identical, ties → smallest id).
    *
    * Scale shape: the per-dim stats are ONE aggregation of the
    * pos-exploded corpus (map-side partials shrink every partition to
    * #dims rows before the narrow exchange) collected into a single
    * stats row that BROADCASTS back — the corpus itself never shuffles
    * to be encoded. Queries (their coded forms, 10 rows) broadcast;
    * per-query top-3 is the bounded-heap aggregate. */
  def sqKnn(s: SparkSession, d: String): DataFrame = {
    val e = quantized(s, d)
    val mm = e.select(posexplode(col("qv")).as(Seq("pos", "x")))
      .groupBy("pos").agg(min("x").as("mn"), max("x").as("mx"))
      .agg(
        transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
          p => p.getField("mn")).as("mn"),
        transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
          p => p.getField("mx")).as("mx"))
    val coded = e.crossJoin(broadcast(mm))
      .withColumn("code", expr(
        """zip_with(zip_with(qv, mn, (x, m) -> x - m),
          |         zip_with(mx, mn, (a, b) -> a - b),
          |  (t, r) -> CASE WHEN r = 0 THEN CAST(0 AS BIGINT)
          |                 ELSE (t * 255) div r END)""".stripMargin))
      .select("vec_id", "code")
    val q = coded.filter(col("vec_id") < 10).toDF("q_id", "qcode")
    val scored = coded.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("d2", dist2(col("code"), col("qcode")))
      // bounded-heap top-3 by (d2 ASC, id ASC); integer exact as double
      .groupBy("q_id")
      .agg(topkUdaf(3)((-col("d2")).cast("double"), col("vec_id")).as("tk"))
    explodeTopK(scored, Seq("q_id"), "c_id", "nd2")
      .select(col("q_id"), col("c_id"),
        (-col("nd2")).cast("bigint").as("code_d2"), col("rank"))
      .orderBy("q_id", "rank")
  }

  val sqKnnSql: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding::DOUBLE[],
      |    x -> CAST(round(x * $kmScale, 0) AS BIGINT)) qv FROM embeddings),
      |ex AS (SELECT vec_id, unnest(qv) x, generate_subscripts(qv, 1) pos
      |       FROM e),
      |mm AS (SELECT pos, min(x) mn, max(x) mx FROM ex GROUP BY pos),
      |codes AS (
      |  SELECT vec_id, pos,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE ((x - mn) * 255) // (mx - mn) END AS c
      |  FROM ex JOIN mm USING (pos)),
      |scored AS (
      |  SELECT q.vec_id q_id, c.vec_id c_id,
      |    sum((q.c - c.c) * (q.c - c.c)) AS d2
      |  FROM codes q JOIN codes c ON c.pos = q.pos AND c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 10 GROUP BY 1, 2),
      |ranked AS (
      |  SELECT q_id, c_id, d2, CAST(row_number() OVER (
      |    PARTITION BY q_id ORDER BY d2 ASC, c_id) AS BIGINT) AS rank
      |  FROM scored)
      |SELECT q_id, c_id, CAST(d2 AS BIGINT) AS code_d2, rank
      |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  // ------------------------------------------------- s62 sign-LSH

  private val numPlanes = 16

  /** Deterministic ±1 hyperplanes: parity of an md5-derived integer per
    * (plane, dim). Planes are CONSTANT, so they are computed once here
    * on the driver and embedded as array literals — the original
    * in-expression formulation re-derived every md5 per row × plane ×
    * dim (2M hashes over the sf0.1 corpus, ~4s; now zero). */
  private lazy val planes: IndexedSeq[Seq[Double]] =
    (0 until numPlanes).map { p =>
      (0 until 64).map { dim =>
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"plane$p:$dim".getBytes("UTF-8"))
        val hex15 = md.map("%02x".format(_)).mkString.take(15)
        if (java.lang.Long.parseLong(hex15, 16) % 2 == 0) 1.0 else -1.0
      }
    }

  /** s62: 16-bit sign-LSH signature per vector + bucket sizes — the
    * candidate-generation layer of hyperplane ANN (rows-only check: the
    * plane family is engine-defined). At scale the corpus is
    * partitioned by signature; queries probe their bucket ± 1-bit
    * neighbors. */
  /** 16-bit signature of the `v` column: bit p set iff dot(v, plane_p)
    * > 0 (plane embedded as a literal). Shared by s62 and s71. */
  private def signatureCol: Column =
    (0 until numPlanes).map { p =>
      val planeDot =
        graft.functions.VecExprs.dot_d(col("v"), typedLit(planes(p)))
      when(planeDot > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  def signLshBuckets(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    e.withColumn("signature", signatureCol)
      .groupBy("signature")
      .agg(count(lit(1)).as("bucket_size"),
        min("vec_id").as("min_vec_id"))
      .orderBy("signature")
  }

  /** The plane family is md5-derived, so DuckDB can regenerate it —
    * the whole hyperplane-LSH layer is oracle-checked. Sign stability:
    * measured min |dot| over every (vector, plane) is 6.7e-05 at sf0.1,
    * eleven orders of magnitude above fp-summation-order noise, so the
    * `dot > 0` cut is engine-stable. */
  /** Shared CTE prefix regenerating the md5-derived plane family and
    * per-vector signatures in DuckDB (used by s62 and s71). */
  private val sigsCteSql: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |pl AS (
      |  SELECT p, d,
      |    CASE WHEN (('0x' || substr(md5('plane' || p || ':' || d), 1, 15))
      |      ::BIGINT % 2) = 0 THEN 1.0 ELSE -1.0 END w
      |  FROM generate_series(0, ${numPlanes - 1}) g(p),
      |       generate_series(0, 63) h(d)),
      |dots AS (
      |  SELECT e.vec_id, pl.p, sum(e.v[pl.d + 1] * pl.w) AS dot
      |  FROM e, pl GROUP BY 1, 2),
      |sigs AS (
      |  SELECT vec_id,
      |    CAST(sum(CASE WHEN dot > 0 THEN CAST(2 ** p AS BIGINT) ELSE 0 END)
      |      AS BIGINT) AS signature
      |  FROM dots GROUP BY 1)""".stripMargin

  val signLshBucketsSql: String =
    s"""WITH $sigsCteSql
      |SELECT signature, count(*) AS bucket_size, min(vec_id) AS min_vec_id
      |FROM sigs GROUP BY 1 ORDER BY signature""".stripMargin

  // ------------------------------------------- s71 banded LSH rerank

  /** s71: the full two-stage LSH serving path — banded candidate
    * generation (the 16-bit signature split into two 8-bit bands;
    * candidates share at least one band with the query) followed by an
    * exact cosine rerank to top-3. This is the end-to-end ANN shape
    * s62 only provides the bucketing layer for: recall comes from the
    * band OR (a near neighbor agreeing on either half of the
    * signature), precision from the exact rerank. At scale the corpus's
    * banded postings are an equi-join on (band, key) against the
    * BROADCAST query bands — the corpus never shuffles — and the rerank
    * runs the bounded-heap top-k aggregate over candidates only. */
  def lshRerankKnn(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val sigs = e.withColumn("sig", signatureCol)
    def bands(df: DataFrame, id: String): DataFrame =
      df.select(col("vec_id").as(id),
          explode(array(
            struct(lit(0L).as("band"), expr("sig % 256").as("key")),
            struct(lit(1L).as("band"), expr("sig div 256").as("key"))))
            .as("bk"))
        .select(col(id), col("bk.band").as("band"), col("bk.key").as("key"))
    val qBands = bands(sigs.filter(col("vec_id") < 10), "q_id")
    // a candidate pair can match on both bands — dedup before the rerank
    val cand = bands(sigs, "c_id").join(broadcast(qBands), Seq("band", "key"))
      .filter(col("c_id") =!= col("q_id"))
      .select("q_id", "c_id").distinct()
    val candQ = broadcast(cand)
      .join(broadcast(e.filter(col("vec_id") < 10).toDF("q_id", "qv")), "q_id")
    val rer = e.toDF("c_id", "cv").join(broadcast(candQ), "c_id")
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))), 6))
      .groupBy("q_id")
      .agg(topkUdaf(3)(col("cosine"), col("c_id")).as("tk"))
    explodeTopK(rer, Seq("q_id"), "c_id", "cosine")
      .select("q_id", "c_id", "cosine", "rank")
      .orderBy("q_id", "rank")
  }

  val lshRerankKnnSql: String = {
    val cos = cosineSqlSnippet.replace("QV", "q.v").replace("CV", "c.v")
    s"""WITH $sigsCteSql,
      |bands AS (
      |  SELECT vec_id, b.band,
      |    CASE WHEN b.band = 0 THEN signature % 256
      |         ELSE signature // 256 END AS key
      |  FROM sigs, (SELECT unnest([0, 1]) AS band) b),
      |cand AS (
      |  SELECT DISTINCT qb.vec_id q_id, cb.vec_id c_id
      |  FROM bands qb JOIN bands cb
      |    ON qb.band = cb.band AND qb.key = cb.key
      |  WHERE qb.vec_id < 10 AND cb.vec_id <> qb.vec_id),
      |ranked AS (
      |  SELECT cand.q_id, cand.c_id, round($cos, 6) AS cosine,
      |    CAST(row_number() OVER (PARTITION BY cand.q_id
      |      ORDER BY round($cos, 6) DESC, cand.c_id) AS BIGINT) AS rank
      |  FROM cand JOIN e q ON q.vec_id = cand.q_id
      |            JOIN e c ON c.vec_id = cand.c_id)
      |SELECT q_id, c_id, cosine, rank FROM ranked
      |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------- s77 radius search

  /** s77: cosine radius (range) search — every corpus vector within a
    * similarity threshold of each query, the retrieval primitive for
    * "all sufficiently-close" use cases (near-dup discovery, recall
    * sets, density probes) where top-k's fixed fan-out is wrong.
    * Same scale shape as s60: the query set broadcasts, the corpus
    * never shuffles, and the threshold filter runs inside the scan's
    * codegen stage — the result exchange carries only survivors
    * (≤ hit-count rows), so output, not corpus, bounds shuffle bytes.
    * At 100 TB the brute scan is the exact tier; the IVF/LSH tiers
    * (s61/s71) provide the same radius semantics approximately by
    * filtering their candidate sets with this predicate. */
  def radiusSearch(s: SparkSession, d: String, minCosine: Double = 0.32): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 10).toDF("q_id", "qv")
    val c = e.toDF("c_id", "cv")
    c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))), 6))
      .filter(col("cosine") >= minCosine)
      .select("q_id", "c_id", "cosine")
      .orderBy("q_id", "c_id")
  }

  val radiusSearchSql: String = {
    val cosine = cosineSqlSnippet.replace("QV", "q.v").replace("CV", "c.v")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)
      |SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |  round($cosine, 6) AS cosine
      |FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
      |WHERE round($cosine, 6) >= 0.32
      |ORDER BY q_id, c_id""".stripMargin
  }

  // ------------------------------------------- s78 kNN classification

  /** s78: k-nearest-neighbor label prediction — each query vector takes
    * the majority label of its exact top-5 cosine neighbors (ties →
    * smallest label), the standard label-propagation/auto-labeling pass
    * over an embedded corpus. Same scale shape as s60 (queries
    * broadcast, corpus scanned once, bounded-heap top-k before the
    * exchange); the vote is a ≤5·#queries-row aggregate and the argmax
    * is a `min(struct(-votes, label))` with map-side partials — no
    * window sort anywhere. */
  def knnClassify(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 10).select(
      col("vec_id").as("q_id"), col("v").as("qv"))
    val c = e.select(col("vec_id").as("c_id"), col("label"), col("v").as("cv"))
    // the label rides INSIDE the top-k id (c_id·4096 + label, labels
    // are single digits — spec-checked) so the corpus is scanned
    // exactly once; the encoding preserves tie order (a c_id gap of 1
    // dominates any label difference). A label outside [0, 4096) would
    // silently corrupt both the tie-break and the decoded label (Spark
    // % can go negative), so the encoding FAILS LOUDLY on one — a
    // schema change can't produce quietly-wrong predictions.
    val enc = when(col("label") < 0 || col("label") >= 4096,
        raise_error(concat(lit("s78: label outside [0, 4096): "),
          col("label").cast("string"))))
      .otherwise(col("c_id") * lit(4096L) + col("label"))
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))), 6))
      .groupBy("q_id")
      .agg(topkUdaf(5)(col("cosine"), enc).as("tk"))
    explodeTopK(scored, Seq("q_id"), "enc_id", "cosine")
      .select(col("q_id"), (col("enc_id") % 4096).cast("int").as("label"))
      .groupBy("q_id", "label").agg(count(lit(1)).as("n_votes"))
      .groupBy("q_id")
      .agg(min(struct((-col("n_votes")).as("nn"), col("label").as("l"))).as("m"))
      .select(col("q_id"), col("m.l").as("pred_label"),
        (-col("m.nn")).as("n_votes"))
      .orderBy("q_id")
  }

  val knnClassifySql: String = {
    val cosine = cosineSqlSnippet.replace("QV", "q.v").replace("CV", "c.v")
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id q_id, c.vec_id c_id, c.label,
      |    round($cosine, 6) AS cosine
      |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      |ranked AS (
      |  SELECT q_id, c_id, label, row_number() OVER (
      |    PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
      |  FROM scored),
      |votes AS (
      |  SELECT q_id, label, count(*) AS n_votes
      |  FROM ranked WHERE rank <= 5 GROUP BY 1, 2),
      |pick AS (
      |  SELECT q_id, label AS pred_label, n_votes, row_number() OVER (
      |    PARTITION BY q_id ORDER BY n_votes DESC, label) AS rn
      |  FROM votes)
      |SELECT q_id, pred_label, CAST(n_votes AS BIGINT) AS n_votes
      |FROM pick WHERE rn = 1 ORDER BY q_id""".stripMargin
  }

  // ------------------------------------- s79 MMR diversified top-k

  /** s79: Maximal-Marginal-Relevance diversified top-3 — greedy
    * selection over each query's top-10 cosine candidates where every
    * step maximizes (relevance − max similarity to the already-chosen
    * set), λ = 1/2 (monotone in the difference, so the λ factor drops
    * out). The result-diversification pass of retrieval serving and
    * diversity-driven training-data sampling. All scores are integer
    * MICRO-cosines (round(cos·10⁶)), every argmax a min-struct with
    * smallest-id ties — the 3 greedy steps unroll to exact joins that
    * DuckDB replays bit-for-bit.
    *
    * Scale shape: candidate generation is s60's (broadcast queries,
    * bounded-heap top-k, corpus scanned once); everything after runs
    * on ≤10 rows and ≤45 pairwise sims PER QUERY — the greedy loop
    * never touches the corpus. */
  def mmrTopK(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 10).toDF("q_id", "qv")
    val c = e.toDF("c_id", "cv")
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cosine",
        round(dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))), 6))
      .groupBy("q_id")
      .agg(topkUdaf(10)(col("cosine"), col("c_id")).as("tk"))
    val cands = explodeTopK(scored, Seq("q_id"), "c_id", "cosine")
      .select(col("q_id"), col("c_id"),
        expr("CAST(round(cosine * 1000000) AS BIGINT)").as("rel6"))
    // candidate vectors: the ~10·#queries candidate ids broadcast
    // against the embeddings scan — pairwise sims computed only
    // within each query's candidate set
    val cv = cands.select("q_id", "c_id")
      .join(e.toDF("c_id", "v"), "c_id")
      .select("q_id", "c_id", "v")
    mmrFrom(cands, cv)
  }

  /** The 3 unrolled greedy steps over (q_id, c_id, rel6) candidates
    * and their vectors. */
  private def mmrFrom(cands: DataFrame, cv: DataFrame): DataFrame = {
    val sim6 = round(dot(col("av"), col("bv")) /
      (sqrt(dot(col("av"), col("av"))) * sqrt(dot(col("bv"), col("bv")))) *
      1000000).cast("long")
    val pairs = cv.toDF("q_id", "a", "av")
      .join(cv.toDF("q_id", "b", "bv"), "q_id")
      .filter(col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"), sim6.as("s6"))
    def argmax(df: DataFrame, score: String): DataFrame =
      df.groupBy("q_id")
        .agg(min(struct((-col(score)).as("ns"), col("c_id").as("id"))).as("m"))
        .select(col("q_id"), col("m.id").as("sel"), (-col("m.ns")).as("score"))
    // step 1: pure relevance
    val s1 = argmax(cands, "rel6")
    // step 2: rel − sim(·, sel1)
    val r2 = cands.join(s1.select("q_id", "sel"), "q_id")
      .filter(col("c_id") =!= col("sel"))
      .join(pairs.toDF("q_id", "c_id", "sel", "s6"), Seq("q_id", "c_id", "sel"))
      .withColumn("mmr", col("rel6") - col("s6"))
    val s2 = argmax(r2, "mmr")
    // step 3: rel − max(sim to sel1, sel2)
    val selected = s1.select(col("q_id"), col("sel"))
      .union(s2.select(col("q_id"), col("sel")))
    val r3 = cands.join(selected.toDF("q_id", "x"),
        Seq("q_id"))
      .filter(col("c_id") =!= col("x"))
      .groupBy("q_id", "c_id", "rel6")
      .agg(count(lit(1)).as("nx"))
      .filter(col("nx") === 2) // candidates distinct from BOTH selections
      .join(pairs.toDF("q_id", "c_id", "x", "s6")
          .join(selected.toDF("q_id", "x"), Seq("q_id", "x"))
          .groupBy("q_id", "c_id").agg(max("s6").as("maxsel")),
        Seq("q_id", "c_id"))
      .withColumn("mmr", col("rel6") - col("maxsel"))
    val s3 = argmax(r3, "mmr")
    s1.withColumn("rank", lit(1L))
      .union(s2.withColumn("rank", lit(2L)))
      .union(s3.withColumn("rank", lit(3L)))
      .select(col("q_id"), col("rank"), col("sel").as("c_id"),
        col("score").as("mmr_score"))
      .orderBy("q_id", "rank")
  }

  val mmrTopKSql: String = {
    val qcCos = cosineSqlSnippet.replace("QV", "q.v").replace("CV", "c.v")
    val abCos = cosineSqlSnippet.replace("QV", "a.v").replace("CV", "b.v")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id q_id, c.vec_id c_id, round($qcCos, 6) AS cosine
      |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      |cands AS (
      |  SELECT q_id, c_id, CAST(round(cosine * 1000000) AS BIGINT) AS rel6
      |  FROM (SELECT q_id, c_id, cosine, row_number() OVER (
      |          PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank
      |        FROM scored)
      |  WHERE rank <= 10),
      |cv AS (SELECT c.q_id, c.c_id, e.v
      |       FROM cands c JOIN e ON e.vec_id = c.c_id),
      |pairs AS (
      |  SELECT a.q_id, a.c_id AS pa, b.c_id AS pb,
      |    CAST(round(1000000 * ($abCos)) AS BIGINT) AS s6
      |  FROM cv a JOIN cv b ON a.q_id = b.q_id AND a.c_id <> b.c_id),
      |s1 AS (
      |  SELECT q_id, c_id AS sel, rel6 AS score FROM (
      |    SELECT q_id, c_id, rel6, row_number() OVER (
      |      PARTITION BY q_id ORDER BY rel6 DESC, c_id) rn FROM cands)
      |  WHERE rn = 1),
      |r2 AS (
      |  SELECT c.q_id, c.c_id, c.rel6 - p.s6 AS mmr
      |  FROM cands c
      |  JOIN s1 ON s1.q_id = c.q_id AND c.c_id <> s1.sel
      |  JOIN pairs p ON p.q_id = c.q_id AND p.pa = c.c_id AND p.pb = s1.sel),
      |s2 AS (
      |  SELECT q_id, c_id AS sel, mmr AS score FROM (
      |    SELECT q_id, c_id, mmr, row_number() OVER (
      |      PARTITION BY q_id ORDER BY mmr DESC, c_id) rn FROM r2)
      |  WHERE rn = 1),
      |selected AS (SELECT q_id, sel FROM s1
      |             UNION ALL SELECT q_id, sel FROM s2),
      |r3 AS (
      |  SELECT c.q_id, c.c_id, c.rel6 - max(p.s6) AS mmr
      |  FROM cands c
      |  JOIN pairs p ON p.q_id = c.q_id AND p.pa = c.c_id
      |  JOIN selected s ON s.q_id = p.q_id AND s.sel = p.pb
      |  WHERE NOT EXISTS (SELECT 1 FROM selected sx
      |                    WHERE sx.q_id = c.q_id AND sx.sel = c.c_id)
      |  GROUP BY c.q_id, c.c_id, c.rel6),
      |s3 AS (
      |  SELECT q_id, c_id AS sel, mmr AS score FROM (
      |    SELECT q_id, c_id, mmr, row_number() OVER (
      |      PARTITION BY q_id ORDER BY mmr DESC, c_id) rn FROM r3)
      |  WHERE rn = 1)
      |SELECT q_id, CAST(1 AS BIGINT) AS rank, sel AS c_id,
      |  score AS mmr_score FROM s1
      |UNION ALL SELECT q_id, 2, sel, score FROM s2
      |UNION ALL SELECT q_id, 3, sel, score FROM s3
      |ORDER BY q_id, rank""".stripMargin
  }

  // ------------------------------------------------- s84 kNN graph

  /** s84: corpus-wide kNN GRAPH — every vector's top-3 cosine
    * neighbors among candidates sharing an 8-bit LSH band (the s71
    * banded candidate generation turned SELF-join: corpus×corpus, not
    * query-set×corpus). The per-vector neighbor list is the input to
    * graph-based curation — semantic clustering, SemDeDup-style
    * neighborhood analysis, connectivity quality audits — and to
    * kNN-graph ANN serving.
    *
    * Scale shape: the band equi-join bounds the pair space to
    * same-bucket pairs (E[bucket size] = n/256 per band; at 100 TB you
    * widen the band key or add bands to hold buckets bounded — the
    * standard LSH knob, same family as the d52 band/row trade). Vector
    * payloads ride the band-join exchange once; the both-bands
    * duplicate-pair dedup carries (ids, cosine) only; and the
    * per-vector top-3 is the bounded-heap aggregate with map-side
    * partials — no corpus-wide window sort anywhere. A vector alone in
    * both its buckets yields no rows (measured 494/500 covered at
    * sf0.001); recall-vs-cost is the band structure, measured on the
    * serving side by s72's recall@3 eval. */
  /** Exact ordered candidate-pair volume of the s84 band self-join
    * (Σ n·(n−1) over (band, key) buckets) — the denominator for the
    * time-per-candidate scale reading (the dedup tier's candidate
    * honesty applied to the kNN graph: with the band structure FIXED,
    * candidates grow ~quadratically in corpus size, which is exactly
    * why production widens the band key as the corpus grows). */
  private[graft] def knnGraphCandidates(s: SparkSession, d: String): Long = {
    val sigs = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("sig", signatureCol)
    val r = sigs.select(explode(array(
        struct(lit(0L).as("band"), expr("sig % 256").as("key")),
        struct(lit(1L).as("band"), expr("sig div 256").as("key")))).as("bk"))
      .groupBy("bk.band", "bk.key").agg(count(lit(1)).as("n"))
      .agg(sum(expr("n * (n - 1)"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  def knnGraph(s: SparkSession, d: String): DataFrame = {
    val sigs = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("sig", signatureCol)
    def side(p: String): DataFrame =
      sigs.select(col("vec_id").as(s"${p}_id"), col("v").as(s"${p}v"),
          explode(array(
            struct(lit(0L).as("band"), expr("sig % 256").as("key")),
            struct(lit(1L).as("band"), expr("sig div 256").as("key"))))
            .as("bk"))
        .select(col(s"${p}_id"), col(s"${p}v"),
          col("bk.band").as("band"), col("bk.key").as("key"))
    val scored = side("a").join(side("b"), Seq("band", "key"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cosine", round(
        dot(col("av"), col("bv")) / (norm(col("av")) * norm(col("bv"))), 6))
      // a pair matching both bands must not occupy two heap slots
      .groupBy("a_id", "b_id").agg(max("cosine").as("cosine"))
      .groupBy("a_id").agg(topkUdaf(3)(col("cosine"), col("b_id")).as("tk"))
    explodeTopK(scored, Seq("a_id"), "nbr_id", "cosine")
      .select(col("a_id").as("vec_id"), col("rank"), col("nbr_id"),
        col("cosine"))
      .orderBy("vec_id", "rank")
  }

  val knnGraphSql: String = {
    val cosine = cosineSqlSnippet.replace("QV", "ea.v").replace("CV", "eb.v")
    s"""WITH $sigsCteSql,
      |bands AS (
      |  SELECT vec_id, b.band,
      |    CASE WHEN b.band = 0 THEN signature % 256
      |         ELSE signature // 256 END AS key
      |  FROM sigs, (SELECT unnest([0, 1]) AS band) b),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
      |    AND a.vec_id <> b.vec_id),
      |scored AS (
      |  SELECT c.a_id, c.b_id, round($cosine, 6) AS cosine
      |  FROM cand c JOIN e ea ON ea.vec_id = c.a_id
      |    JOIN e eb ON eb.vec_id = c.b_id),
      |ranked AS (
      |  SELECT a_id, b_id, cosine, row_number() OVER (
      |    PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rank
      |  FROM scored)
      |SELECT a_id AS vec_id, rank, b_id AS nbr_id, cosine
      |FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin
  }

  // --------------------------------------------- s89 kNN graph recall

  /** s89: recall@3 of the s84 kNN graph against the EXACT top-3,
    * measured on a deterministic corpus sample (vec_id % 20 == 0) —
    * the production way to evaluate an ANN graph: the brute truth is
    * a broadcast sample × corpus scan (the s60 shape, so the eval
    * itself survives 100 TB — a corpus self-cartesian would not),
    * and a sampled vector whose buckets held no candidates scores 0,
    * so the eval charges coverage misses as well as ranking misses.
    * Closes the quality column for the graph tier the way s63/s65/
    * s72/s74/s76 close it for every serving path: every candidate-
    * generation strategy in the engine carries its own oracle-checked
    * recall measurement.
    *
    * Measured: mean recall@3 ≈ 0.013 at sf0.01 — the 2×8-bit band
    * structure finds almost no true neighbors on this WEAKLY-
    * CLUSTERED synthetic corpus (near-random vectors land in
    * near-random buckets), the same geometry s63 measured as ≈0.1
    * single-probe IVF recall. That is the finding, not a bug: on
    * such corpora a production graph build needs more/wider bands or
    * multi-probe (the s65 lesson) — and an eval like this one is how
    * the deployment discovers it BEFORE shipping the graph. */
  def knnGraphRecall(s: SparkSession, d: String): DataFrame =
    graphRecall(s, d, knnGraph(s, d))

  /** Sampled recall@3 of any (vec_id, nbr_id) graph frame against the
    * exact top-3 — shared by s89 (LSH-band graph) and s91 (IVF-blocked
    * graph), so the two candidate-generation strategies are scored by
    * the IDENTICAL eval. */
  private def graphRecall(s: SparkSession, d: String,
      g: DataFrame): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val sample = e.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("s_id"), col("v").as("sv"))
    val truth = explodeTopK(
      e.crossJoin(broadcast(sample))
        .filter(col("vec_id") =!= col("s_id"))
        .withColumn("cosine", round(
          dot(col("sv"), col("v")) / (norm(col("sv")) * norm(col("v"))),
          6))
        .groupBy("s_id")
        .agg(topkUdaf(3)(col("cosine"), col("vec_id")).as("tk")),
      Seq("s_id"), "nbr", "tcos")
      .select(col("s_id"), col("nbr"))
    val hits = g
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("s_id"), col("nbr_id").as("nbr"),
        lit(1L).as("hit"))
    truth.join(hits, Seq("s_id", "nbr"), "left")
      .groupBy("s_id")
      .agg((sum(coalesce(col("hit"), lit(0L))) / count(lit(1)))
        .as("recall_at_3"))
      .select(col("s_id").as("vec_id"), col("recall_at_3"))
      .orderBy("vec_id")
  }

  private def graphRecallSql(graphSql: String): String = {
    val cosine = cosineSqlSnippet.replace("QV", "s.sv").replace("CV", "e2.v")
    val graph = graphSql.replaceAll("ORDER BY vec_id, rank$", "")
    s"""WITH g AS (
      |  SELECT vec_id AS a_id, nbr_id AS b_id FROM ($graph)),
      |e2 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |sample AS (SELECT vec_id AS s_id, v AS sv FROM e2
      |           WHERE vec_id % 20 = 0),
      |btruth AS (
      |  SELECT s.s_id, e2.vec_id AS nbr, round($cosine, 6) AS cosine
      |  FROM sample s, e2 WHERE e2.vec_id <> s.s_id),
      |tr AS (
      |  SELECT s_id, nbr, row_number() OVER (
      |    PARTITION BY s_id ORDER BY cosine DESC, nbr) AS rnk
      |  FROM btruth),
      |t3 AS (SELECT s_id, nbr FROM tr WHERE rnk <= 3)
      |SELECT t3.s_id AS vec_id,
      |  sum(CASE WHEN g.b_id IS NOT NULL THEN 1 ELSE 0 END) / count(*)
      |    AS recall_at_3
      |FROM t3 LEFT JOIN g ON g.a_id = t3.s_id AND g.b_id = t3.nbr
      |GROUP BY 1 ORDER BY vec_id""".stripMargin
  }

  val knnGraphRecallSql: String = graphRecallSql(knnGraphSql)

  // ------------------------------------------ s90 IVF-blocked kNN graph

  /** s90: the kNN graph rebuilt on the TRAINED coarse quantizer's
    * cells instead of LSH bands — s89's measured ≈0.013 recall
    * diagnosed the band structure as near-useless on this weakly-
    * clustered corpus, and this is the fix the d61/SemDeDup blocking
    * already uses: exact cosine among CELL-mates (pair space n²/K per
    * balanced cell, the k-means partition adapting to the data where
    * fixed random hyperplanes cannot). Same output contract as s84;
    * s91 scores it with the identical sampled eval. At 100 TB the
    * cell-size cap is d54/d61's sub-split guard plus the K knob —
    * and the model is the SAME cached quantizer the IVF serving and
    * semantic-dedup tiers already train (one model, three tiers). */
  /** The GUARDED within-cell pair frame of a (cid, vec_id, v)
    * assignment — d54/d61's block-size guard: a skewed giant cell
    * would blow the n²/K pair space, so oversized cells sub-split by
    * vec_id hash before the self-join (pair count stays ~n·cap).
    * Neighbors across sub-blocks of the same cell are lost — at
    * scale that is a measured recall trade (like every blocking
    * choice in this tier), and on balanced cells (every fixture SF:
    * bn << cap, nsub = 1) the output is bit-identical to the
    * unguarded join, which is what keeps the oracle exact. `cap`
    * exposed for the spec (the d54 `embeddingPairsFrom` precedent). */
  private[graft] def cellPairs(a: DataFrame, cap: Long): DataFrame = {
    val sizes = a.groupBy("cid").agg(count(lit(1)).as("bn"))
    val ab = a.join(broadcast(sizes), "cid")
      .withColumn("nsub", greatest(ceil(col("bn") / cap).cast("long"),
        lit(1L)))
      .withColumn("sub", pmod(xxhash64(col("vec_id")), col("nsub")))
    val x = ab.select(col("cid"), col("sub"),
      col("vec_id").as("a_id"), col("v").as("av"))
    val y = ab.select(col("cid"), col("sub"),
      col("vec_id").as("b_id"), col("v").as("bv"))
    x.join(y, Seq("cid", "sub")).filter(col("a_id") =!= col("b_id"))
  }

  def ivfKnnGraph(s: SparkSession, d: String): DataFrame = {
    val a = kmAssignedFull(s, d).select(col("cid"), col("vec_id"), col("v"))
    val scored = cellPairs(a, graft.ext.DedupOps.maxBlock)
      .withColumn("cosine", round(
        dot(col("av"), col("bv")) / (norm(col("av")) * norm(col("bv"))),
        6))
      .groupBy("a_id").agg(topkUdaf(3)(col("cosine"), col("b_id")).as("tk"))
    explodeTopK(scored, Seq("a_id"), "nbr_id", "cosine")
      .select(col("a_id").as("vec_id"), col("rank"), col("nbr_id"),
        col("cosine"))
      .orderBy("vec_id", "rank")
  }

  val ivfKnnGraphSql: String = {
    val cos = cosineSqlSnippet.replace("QV", "a.v").replace("CV", "b.v")
    s"""$kmSqlPrefix,
      |scored AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |    round($cos, 6) AS cosine
      |  FROM aF a JOIN aF b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT a_id, b_id, cosine, row_number() OVER (
      |    PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rank
      |  FROM scored)
      |SELECT a_id AS vec_id, rank, b_id AS nbr_id, cosine
      |FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin
  }

  /** s91: s90's recall eval — same sampled brute truth as s89, so the
    * LSH-band and IVF-blocked graphs are scored head-to-head. */
  def ivfKnnGraphRecall(s: SparkSession, d: String): DataFrame =
    graphRecall(s, d, ivfKnnGraph(s, d))

  val ivfKnnGraphRecallSql: String = graphRecallSql(ivfKnnGraphSql)

  // --------------------------------- s92 multi-probe IVF kNN graph

  /** Top-2 coarse-cell assignment of every vector against the frozen
    * centroids — the s65 multi-probe idea applied to graph
    * construction. Bounded-heap (2 per vector), never a corpus-wide
    * window. */
  private def kmAssign2(e: DataFrame, cent: DataFrame): DataFrame =
    explodeTopK(
      e.crossJoin(broadcast(cent))
        .withColumn("d2", dist2(col("qv"), col("cv")))
        .groupBy("vec_id")
        .agg(topkUdaf(2)((-col("d2")).cast("double"), col("cid")).as("tk")),
      Seq("vec_id"), "cid", "negd")
      .select(col("cid"), col("vec_id"))

  /** s92: the IVF graph with MULTI-PROBE candidate generation — the
    * FAITHFUL s65 shape: the index side keeps every vector in its
    * rank-1 cell only; the PROBE side widens each vector to its 2
    * nearest cells, so a true neighbor split across a cell boundary
    * (the s90 recall ceiling) becomes a candidate whenever its HOME
    * cell is either of the seeker's probes. Because the two probe
    * cells are distinct and the index side is single-homed, no pair
    * can arise twice — no dedup exchange exists in the plan. The
    * SYMMETRIC alternative (both sides probed 2 cells, duplicates
    * deduped) was measured too: recall@3 0.80 at ~4× pair space and
    * 36.8 s at sf1 via max(cosine) dedup (66.4 s via id-distinct +
    * payload re-join), vs THIS plan's 0.49 at 2× pairs and 13.5 s —
    * the classic recall/cost knob, with both points measured so a
    * deployment picks on evidence. s93 scores this shape under the
    * identical sampled eval, closing the graph tier's measured
    * curve: bands 0.013 → single-probe 0.307 → probe-2 0.49 →
    * symmetric probe-2 0.80. */
  def multiprobeKnnGraph(s: SparkSession, d: String): DataFrame = {
    val (cent, assigned) = kmModel(s, d)
    val e = quantized(s, d).select(col("vec_id"), col("v"))
    val probes = kmAssign2(quantized(s, d), cent)
      .toDF("cid", "a_id")
      .join(e.toDF("a_id", "av"), Seq("a_id"))
    val members = assigned
      .select(col("cid"), col("vec_id").as("b_id"), col("v").as("bv"))
    val scored = probes.join(members, Seq("cid"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cosine", round(
        dot(col("av"), col("bv")) / (norm(col("av")) * norm(col("bv"))),
        6))
      .groupBy("a_id").agg(topkUdaf(3)(col("cosine"), col("b_id")).as("tk"))
    explodeTopK(scored, Seq("a_id"), "nbr_id", "cosine")
      .select(col("a_id").as("vec_id"), col("rank"), col("nbr_id"),
        col("cosine"))
      .orderBy("vec_id", "rank")
  }

  val multiprobeKnnGraphSql: String = {
    val adist = kmDistSql.replace("AQ", "q.qv").replace("CV", "c.cv")
    val cos = cosineSqlSnippet.replace("QV", "ea.v").replace("CV", "eb.v")
    s"""$kmSqlPrefix,
      |probe2 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT q.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY $adist ASC, c.cid) rn
      |    FROM q, c$kmIters c) WHERE rn <= 2),
      |cand AS (
      |  SELECT a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM probe2 a JOIN aF b
      |  ON a.cid = b.cid AND a.vec_id <> b.vec_id),
      |scored AS (
      |  SELECT cd.a_id, cd.b_id, round($cos, 6) AS cosine
      |  FROM cand cd JOIN e ea ON ea.vec_id = cd.a_id
      |    JOIN e eb ON eb.vec_id = cd.b_id),
      |ranked AS (
      |  SELECT a_id, b_id, cosine, row_number() OVER (
      |    PARTITION BY a_id ORDER BY cosine DESC, b_id) AS rank
      |  FROM scored)
      |SELECT a_id AS vec_id, rank, b_id AS nbr_id, cosine
      |FROM ranked WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin
  }

  /** s93: s92's recall under the identical sampled eval. */
  def multiprobeKnnGraphRecall(s: SparkSession, d: String): DataFrame =
    graphRecall(s, d, multiprobeKnnGraph(s, d))

  val multiprobeKnnGraphRecallSql: String =
    graphRecallSql(multiprobeKnnGraphSql)

  // ------------------------------------------------- s85 BM25 top-k

  /** The fixed keyword query set for the sparse-retrieval tier: two
    * terms per query so the per-document score sum is a single fp
    * addition — commutative, hence aggregation-order-free (3+ terms
    * would need the t61 integer-sum treatment the micro-unit snapping
    * below already provides anyway). */
  private val bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "spark", 0L -> "query", 1L -> "filter", 1L -> "join",
    2L -> "hash", 2L -> "table", 3L -> "stream", 3L -> "window")

  /** The fixed query set / its distinct vocabulary as frames — e108's
    * stream prologue reads these next to the artifact sidecars. */
  private[graft] def bm25QueryFrame(s: SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    bm25Queries.toDF("query_id", "term")
  }

  private[graft] def bm25QueryTerms: Seq[String] =
    bm25Queries.map(_._2).distinct

  /** s85: BM25 keyword retrieval — top-5 documents per fixed two-term
    * query under Okapi BM25 (k1=1.2, b=0.75, Lucene-style
    * ln(1 + (N−df+0.5)/(df+0.5)) idf that never goes negative): the
    * SPARSE half of a hybrid retrieval stack, next to the dense ANN
    * tiers (s60–s82).
    *
    * Fixed-point discipline (t56/t61 family): idf and the
    * tf-normalization are each snapped to integer MICRO units and the
    * per-document score is their exact BIGINT product-sum, so ranking
    * and the oracle hash are engine-exact; avgdl enters as the exact
    * rational dl·N/Σdl (never an fp average, whose summation order
    * differs between engines).
    *
    * Scale shape: one corpus scan against the 8-row broadcast term
    * table (tf evaluated inside the scan's codegen stage), an 8-row
    * df aggregate + 1-row corpus-stats aggregate both broadcast back,
    * and the per-query top-5 via the bounded-heap aggregate — the
    * corpus never shuffles wide and nothing sorts corpus-wide. At
    * 100 TB the df/stats tables are the classic tiny index sidecars. */
  /** (doc_id, toks, dl) of non-empty documents — the per-document half
    * of the BM25 pipeline, applicable to a batch OR a streaming frame
    * with (doc_id, text). */
  private[graft] def bm25DocLens(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), graft.ext.TextOps.tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("bigint"))
      .filter(col("dl") > 0)

  /** Per-(query, term, doc) micro-unit score contributions of `dl`
    * rows against broadcast (q, dfreq, stats) sidecars — STATELESS
    * (no aggregation), so the same stage scores a document stream in
    * append mode against a frozen index (e108). */
  private[graft] def bm25Contrib(dl: DataFrame, q: DataFrame,
      dfreq: DataFrame, stats: DataFrame): DataFrame =
    dl.crossJoin(broadcast(q))
      .withColumn("tf",
        size(filter(col("toks"), x => x === col("term"))).cast("bigint"))
      .filter(col("tf") > 0)
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .transform(bm25Score)

  /** Micro-unit BM25 scoring of a joined (query_id, term, doc_id, dl,
    * tf, df, n_docs, sum_dl) frame — shared by the inline pipeline
    * (s85/e108) and artifact serving (s87). Decimal literals type
    * differently across engines (DuckDB DECIMAL vs Spark double
    * promotion), so both formulas are cleared to INTEGER rationals
    * first: idf's argument (N−df+0.5)/(df+0.5)+1 == (2N+2)/(2df+1),
    * and tfn's denominator tf + 1.2·(1 − 0.75 + 0.75·dl·N/Σdl) scaled
    * by 10Σdl == 10·Σdl·tf + 3·Σdl + 9·dl·N. One double division of
    * exact integers each — bit-identical in both engines. */
  private def bm25Score(j: DataFrame): DataFrame =
    j.withColumn("idf_u", expr(
        "cast(round(ln(cast(2 * (n_docs + 1) as double) / (2 * df + 1))" +
          " * 1000000) as bigint)"))
      .withColumn("tfn_u", expr(
        "cast(round(cast(22 * tf as double) * sum_dl * 1000000 /" +
          " (10 * sum_dl * tf + 3 * sum_dl + 9 * dl * n_docs))" +
          " as bigint)"))
      .select(col("query_id"), col("term"), col("doc_id"),
        (col("idf_u") * col("tfn_u")).as("contrib_u"))

  /** Per-query top-5 from a (query_id, doc_id, contrib_u) contribution
    * log — the read-time epilogue shared by s85, its streaming twin
    * (e108) and the artifact-served variant (s87). */
  private[graft] def bm25Finish(contrib: DataFrame): DataFrame = {
    val scored = contrib
      .groupBy("query_id", "doc_id").agg(sum("contrib_u").as("bm25_u"))
      .groupBy("query_id")
      .agg(topkUdaf(5)(col("bm25_u").cast("double"), col("doc_id")).as("tk"))
    explodeTopK(scored, Seq("query_id"), "doc_id", "score")
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score").cast("bigint").as("bm25_u"))
      .orderBy("query_id", "rank")
  }

  /** The (q, dfreq, stats) index sidecars for a corpus — tiny frames a
    * serving tier broadcasts (s85 inline; e108 frozen against a
    * stream; s87 persisted to parquet). */
  private[graft] def bm25Sidecars(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val q = bm25Queries.toDF("query_id", "term")
    val dl = bm25DocLens(graft.Tables.documents(s, d))
    // ONE tokenize pass for BOTH sidecars (round-17): the corpus stats
    // row and the per-term document frequencies are conditional
    // aggregates over the same (doc_id, toks, dl) frame — the old
    // dfreq crossJoin+filter+countDistinct re-tokenized the corpus a
    // second time. df values identical: dl has one row per doc, so
    // countDistinct(doc_id) where tf>0 == count of rows containing the
    // term; the 1-row aggregate is checkpointed so its two consumers
    // don't re-run the scan.
    val terms = bm25QueryTerms
    val aggCols = count(lit(1)).as("n_docs") +: sum("dl").as("sum_dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(array_contains(col("toks"), t), 1L).otherwise(0L))
          .as(s"df_$i") }
    val one = dl.agg(aggCols.head, aggCols.tail: _*).localCheckpoint()
    val stats = one.select("n_docs", "sum_dl")
    val dfreq = one.select(explode(array(terms.zipWithIndex.map {
        case (t, i) => struct(lit(t).as("term"), col(s"df_$i").as("df"))
      }: _*)).as("x"))
      .select(col("x.term"), col("x.df"))
      .filter(col("df") > 0)
    (q, dfreq, stats)
  }

  def bm25TopK(s: SparkSession, d: String): DataFrame = {
    val (q, dfreq, stats) = bm25Sidecars(s, d)
    bm25Finish(bm25Contrib(bm25DocLens(graft.Tables.documents(s, d)),
      q, dfreq, stats).select("query_id", "doc_id", "contrib_u"))
  }

  // ------------------------------------------ s87 served BM25 index

  /** Write the full inverted index as a 3-table parquet artifact:
    * postings (term, doc_id, tf, dl) over the ENTIRE vocabulary, the
    * per-term document frequencies, and the 1-row corpus stats. The
    * "build once" half of a search deployment — everything serving
    * needs, raw text excluded by design. */
  def saveBm25Index(s: SparkSession, d: String, out: String): Unit = {
    val dl = bm25DocLens(graft.Tables.documents(s, d))
    val postings = dl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
    postings.write.mode("overwrite").parquet(s"$out/postings")
    // derive the sidecars from the just-written postings (round-17:
    // one tokenize pass instead of three — dfreq re-ran the whole
    // postings lineage and stats re-tokenized the corpus). Exact:
    // every dl>0 doc has ≥1 posting row and doc_id is unique, so the
    // distinct (doc_id, dl) projection is the dl frame's row set.
    val p = s.read.parquet(s"$out/postings")
    p.groupBy("term").agg(countDistinct("doc_id").as("df"))
      .write.mode("overwrite").parquet(s"$out/dfreq")
    p.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$out/stats")
  }

  /** s87: s85's BM25 retrieval served entirely from the RELOADED
    * parquet artifact — the text column is never touched at serve
    * time: the query terms prune the postings scan via a pushed
    * `In(term, …)` filter (at 100 TB: partition pruning on a
    * term-partitioned index — only the probed posting lists are
    * read, the search-engine read path), df/stats broadcast as tiny
    * sidecars, and scoring + top-5 reuse the s85 stages unchanged.
    * Shares s85's oracle — proving the index round trip preserves
    * ranking bit-for-bit (the s80 pattern applied to the SPARSE
    * tier, completing the hybrid stack's build-once/serve-many
    * story). */
  def bm25Served(s: SparkSession, d: String): DataFrame =
    serveBm25From(s, bm25IndexDir(s, d),
      sumDeltas = false, dropTombstones = false)

  /** Build-or-get the persisted s87 index dir — also the source of
    * e108's frozen df/stats sidecars (round 16: the stream twin was
    * re-running the corpus tokenization per call to derive sidecars
    * the served artifact already carries). */
  private[graft] def bm25IndexDir(s: SparkSession, d: String): String =
    SessionStore.artifact(s, d, "bm25/index")(saveBm25Index(s, d, _))

  /** The shared artifact read path behind every served-BM25 variant:
    * query terms prune the postings scan (pushed `In`), df/corpus
    * stats ride as broadcast sidecars, scoring + top-5 reuse the s85
    * stages. `sumDeltas` re-derives the sidecars by summing per-batch
    * delta rows (s88's segment discipline — exact, since df and Σdl
    * are additive over disjoint doc sets); `dropTombstones` opts into
    * the delete segment (s95): postings anti-join the tombstone list
    * BEFORE scoring and the sidecar sums include the NEGATIVE
    * correction rows the delete step wrote. A reader that doesn't opt
    * in never touches the sidecar dirs — s87/s88 serving is untouched
    * by a pending delete, exactly the s80/s94 invisibility contract. */
  private[graft] def serveBm25From(s: SparkSession, idx: String,
      sumDeltas: Boolean, dropTombstones: Boolean): DataFrame = {
    import s.implicits._
    val terms = bm25Queries.map(_._2).distinct
    val q = bm25Queries.toDF("query_id", "term")
    val post0 = s.read.parquet(s"$idx/postings")
      .filter(col("term").isin(terms: _*))
    val post =
      if (dropTombstones)
        post0.join(broadcast(s.read.parquet(s"$idx/tombstones").distinct()),
          Seq("doc_id"), "left_anti")
      else post0
    val dfreq0 =
      (if (dropTombstones) s.read.parquet(s"$idx/dfreq", s"$idx/dfreq_del")
       else s.read.parquet(s"$idx/dfreq"))
        .filter(col("term").isin(terms: _*))
    val dfreq =
      if (sumDeltas) dfreq0.groupBy("term").agg(sum("df").as("df"))
      else dfreq0
    val stats0 =
      if (dropTombstones) s.read.parquet(s"$idx/stats", s"$idx/stats_del")
      else s.read.parquet(s"$idx/stats")
    val stats =
      if (sumDeltas)
        stats0.agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
      else stats0
    bm25Finish(post
      .join(broadcast(q), "term")
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .transform(bm25Score)
      .select("query_id", "doc_id", "contrib_u"))
  }

  // ------------------------------------ s88 incremental BM25 index

  /** Append-absorb one document batch into a BM25 index artifact:
    * the batch's postings rows APPEND to `postings/`, and the batch's
    * OWN df/stats rows append to `dfreq/` and `stats/` — nothing on
    * disk is ever rewritten. Document frequencies and corpus stats
    * are additive across disjoint doc sets, so serve time re-derives
    * the exact sidecars by summing the (one row per term per batch /
    * one row per batch) deltas. Update cost is O(batch) postings +
    * O(batch vocab) sidecar rows; building the base index IS the
    * first batch. */
  private[graft] def appendBm25Batch(docs: DataFrame, out: String): Unit = {
    val dl = bm25DocLens(docs)
    // one tokenize pass per segment (round-17): the sidecar deltas
    // derive from the materialized postings segment — the appended
    // postings dir can't be read back (it holds prior segments), so
    // the batch's own segment is checkpointed instead; it is narrower
    // than the token stream it replaces (no toks arrays) and it is
    // being written out anyway. Exactness per [[saveBm25Index]].
    val postings = dl
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    postings.write.mode("append").parquet(s"$out/postings")
    postings.groupBy("term").agg(countDistinct("doc_id").as("df"))
      .write.mode("append").parquet(s"$out/dfreq")
    postings.select("doc_id", "dl").distinct()
      .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      .write.mode("append").parquet(s"$out/stats")
  }

  /** s88: INCREMENTAL maintenance of the sparse index — the BM25
    * twin of s81. The artifact is built from the BASE 4/5 of the
    * corpus (the "already deployed" index), then the remaining batch
    * is absorbed by [[appendBm25Batch]]: postings and sidecar DELTA
    * rows parquet-APPEND, the base files are never touched, so the
    * update is O(batch) like a search engine's segment write.
    * Serving reuses the s87 read path with one addition: the term
    * and corpus sidecars are summed across their per-batch delta
    * rows (exact — df and Σdl are additive over disjoint doc sets).
    * Shares s85's full-corpus oracle: the absorbed index must rank
    * bit-identically to an index built from scratch on the union. */
  def bm25Incremental(s: SparkSession, d: String): DataFrame =
    serveBm25From(s, bm25IncrDir(s, d),
      sumDeltas = true, dropTombstones = false)

  /** The two-segment incremental artifact (base 4/5 + absorbed 1/5),
    * built once per (session, dir) — shared by s88 (delta serving),
    * s95 (tombstone deletes) and s96 (compaction). */
  private def bm25IncrDir(s: SparkSession, d: String): String =
    SessionStore.artifact(s, d, "bm25/incr") { dir =>
      val docs = graft.Tables.documents(s, d)
      val b = docs.count() * 4 / 5
      appendBm25Batch(docs.filter(col("doc_id") < b), dir)
      appendBm25Batch(docs.filter(col("doc_id") >= b), dir)
    }

  // ------------------------------- s100 BM25 index health census

  /** s100: the sparse tier's INDEX HEALTH census — s99's check on the
    * s88 incremental artifact: one row per vocabulary term with its
    * posting-list length (df — rows and distinct docs coincide
    * because segments cover disjoint doc sets), total term
    * occurrences, its share of all posting rows in exact ppm, mean
    * tf per posting in exact integer micros, and a HOT-TERM verdict
    * at the 2×-mean-list-length threshold evaluated as the integer
    * cross-multiplication `df × n_terms > 2 × n_postings` (no
    * division, engine-exact). A hot term is a stopword that escaped
    * the analyzer: s87's pruned read scans whole posting lists, so
    * one hot term dominates every query that touches it — this table
    * is the trigger for a stopword cut or the d51 DF-cap discipline
    * at the next compaction (s96). The census also proves a
    * census-level invariant s88's ranking parity only samples: the
    * oracle recomputes the census from the RAW CORPUS, so the
    * segment-append discipline must have lost or duplicated nothing
    * across the ENTIRE vocabulary for the hash to match. Plan shape:
    * one postings scan aggregated map-side to vocab rows + a 1-row
    * broadcast totals frame (the q22 grand-total pattern). */
  def bm25Health(s: SparkSession, d: String): DataFrame =
    bm25HealthOf(s.read.parquet(s"${bm25IncrDir(s, d)}/postings")
      .select("term", "doc_id", "tf"))

  /** The s100 aggregate over a (term, doc_id, tf) postings frame —
    * factored so the hot/share mechanics are spec-testable without an
    * artifact on disk. */
  private[graft] def bm25HealthOf(p: DataFrame): DataFrame = {
    val tot = p.agg(count(lit(1)).as("np"),
      countDistinct(col("term")).as("nt"))
    p.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"))
      .crossJoin(broadcast(tot))
      .select(col("term"), col("df"), col("total_tf"),
        expr("df * 1000000 div np").as("share_ppm"),
        expr("total_tf * 1000000 div df").as("mean_tf_u"),
        when(col("df") * col("nt") > lit(2L) * col("np"), "hot")
          .otherwise("ok").as("verdict"))
      .orderBy("term")
  }

  lazy val bm25HealthSql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |    x -> x <> '') AS toks FROM documents),
      |dl AS (SELECT doc_id, toks FROM toks WHERE len(toks) > 0),
      |p AS (
      |  SELECT term, doc_id, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(toks) AS term FROM dl)
      |  GROUP BY term, doc_id),
      |tot AS (SELECT count(*) AS np, count(DISTINCT term) AS nt FROM p)
      |SELECT term,
      |  CAST(count(*) AS BIGINT) AS df,
      |  CAST(sum(tf) AS BIGINT) AS total_tf,
      |  CAST(count(*) * 1000000 // (SELECT np FROM tot) AS BIGINT)
      |    AS share_ppm,
      |  CAST(sum(tf) * 1000000 // count(*) AS BIGINT) AS mean_tf_u,
      |  CASE WHEN count(*) * (SELECT nt FROM tot) > 2 * (SELECT np FROM tot)
      |    THEN 'hot' ELSE 'ok' END AS verdict
      |FROM p GROUP BY term ORDER BY term""".stripMargin

  // ------------------------- s95 tombstone deletes on the BM25 index

  /** The s95 delete step: write the delete cohort's segment sidecars
    * under `idx`. Everything is derived FROM THE INDEX ITSELF — a
    * takedown needs no access to the raw corpus text:
    *  - `tombstones/`  the deleted doc_ids (the anti-join list),
    *  - `dfreq_del/`   one NEGATIVE df row per term the cohort's
    *                   postings touch (−#deleted docs containing it),
    *  - `stats_del/`   one NEGATIVE (n_docs, sum_dl) correction row
    *                   from the cohort's distinct (doc_id, dl) pairs.
    * BM25's sidecars are additive over disjoint doc sets, so a delete
    * is just a segment with negative counts — the base and append
    * segments are never rewritten, and the step costs O(delete set)
    * postings rows. Idempotent (mode overwrite): re-running a delete
    * batch re-derives the same sidecars, the D7 retry discipline. */
  private[graft] def bm25DeleteCohort(s: SparkSession, idx: String): Unit = {
    val dead = s.read.parquet(s"$idx/postings")
      .filter(col("doc_id") % 10 === 3)
    dead.select("doc_id").distinct()
      .write.mode("overwrite").parquet(s"$idx/tombstones")
    dead.groupBy("term")
      .agg((countDistinct("doc_id") * -1L).as("df"))
      .write.mode("overwrite").parquet(s"$idx/dfreq_del")
    dead.select("doc_id", "dl").distinct()
      .agg((count(lit(1)) * -1L).as("n_docs"),
        (sum("dl") * -1L).as("sum_dl"))
      .write.mode("overwrite").parquet(s"$idx/stats_del")
  }

  /** s95: document DELETES on the served BM25 index — s94's lifecycle
    * step on the SPARSE tier. A takedown / decontamination / dedup
    * verdict (the doc_id % 10 == 3 cohort stand-in) must remove
    * documents from a LIVE index without a rebuild — but unlike the
    * ANN tiers, BM25's SCORES depend on corpus statistics (df, N,
    * Σdl), so dropping the postings alone would serve stale idf/avgdl
    * weights computed over documents that no longer exist. The delete
    * step ([[bm25DeleteCohort]]) therefore writes a delete SEGMENT:
    * the tombstone list plus negative df/stats correction rows derived
    * from the cohort's own postings. Serving opts in: postings
    * anti-join the tombstones before scoring, and the s88 delta sums
    * simply include the negative rows — after which every weight is
    * EXACTLY the from-scratch value on the filtered corpus, which is
    * what the oracle checks (s85's SQL with the cohort removed).
    * Non-opt-in readers (s87/s88) are untouched — spec-pinned. At
    * scale: delete cost is O(delete set), the tombstone anti-join
    * rides AQE broadcast while small, and s96's compaction folds the
    * segment into the base offline. */
  def bm25Tombstoned(s: SparkSession, d: String): DataFrame = {
    val idx = bm25IncrDir(s, d)
    bm25DeleteCohort(s, idx)
    serveBm25From(s, idx, sumDeltas = true, dropTombstones = true)
  }

  val bm25TombstonedSql: String = bm25TopKSqlWhere("doc_id % 10 <> 3")

  // ------------------------------- s96 BM25 segment compaction

  /** s96: COMPACTION — the offline fold that closes the segment
    * lifecycle s88 (append deltas) and s95 (delete segments) open.
    * The accumulated artifact state (base + absorbed batch + negative
    * delete segment) is rewritten into a FRESH single-segment
    * artifact: postings minus the tombstoned docs, ONE df row per
    * surviving term (the delta sum, ≤0 rows dropped), ONE corpus
    * stats row, and no sidecar dirs at all — after which serving uses
    * the plain s87 single-segment read path with zero per-query merge
    * work (no delta sums, no anti-join). The source artifact is never
    * touched (compact-to-new-directory + pointer swap — the em73
    * discipline, so concurrent readers of the old artifact are never
    * broken and the swap is atomic). Shares s95's filtered-corpus
    * oracle: compaction must preserve ranking bit-for-bit, and the
    * spec additionally pins the layout (one row per term, no cohort
    * doc in postings, no tombstone sidecar). At scale the rewrite is
    * one corpus-of-postings scan — amortized over every query it
    * saves the merge work for, the classic LSM/search-engine segment
    * merge. */
  def bm25Compacted(s: SparkSession, d: String): DataFrame = {
    val src = bm25IncrDir(s, d)
    val idx = SessionStore.artifact(s, d, "bm25/compact") { dir =>
      bm25DeleteCohort(s, src)
      compactBm25(s, src, dir)
    }
    serveBm25From(s, idx, sumDeltas = false, dropTombstones = false)
  }

  /** The s96 fold itself: rewrite `src` (base + deltas + delete
    * segment) as a fresh single-segment artifact at `out`. */
  private[graft] def compactBm25(
      s: SparkSession, src: String, out: String): Unit = {
    s.read.parquet(s"$src/postings")
      .join(broadcast(s.read.parquet(s"$src/tombstones").distinct()),
        Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$out/postings")
    s.read.parquet(s"$src/dfreq", s"$src/dfreq_del")
      .groupBy("term").agg(sum("df").as("df"))
      .filter(col("df") > 0)
      .write.mode("overwrite").parquet(s"$out/dfreq")
    s.read.parquet(s"$src/stats", s"$src/stats_del")
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$out/stats")
  }

  /** s85's oracle SQL with a document-cohort filter injected — `TRUE`
    * is the full corpus (s85/s87/s88/e108); s95/s96 filter out the
    * tombstoned cohort, making the oracle the from-scratch BM25 over
    * the surviving documents (stats and all). */
  private def bm25TopKSqlWhere(docFilter: String): String = {
    val qvals = bm25Queries.map { case (q, t) => s"($q, '$t')" }.mkString(", ")
    s"""WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id, term
      |  FROM (VALUES $qvals) AS t(query_id, term)),
      |toks AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
      |    x -> x <> '') AS toks FROM documents),
      |dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, toks FROM toks
      |       WHERE len(toks) > 0 AND ($docFilter)),
      |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
      |          FROM dl),
      |tf AS (
      |  SELECT q.query_id, q.term, d.doc_id, d.dl,
      |    CAST(len(list_filter(d.toks, x -> x = q.term)) AS BIGINT) AS tf
      |  FROM dl d, q),
      |dfreq AS (
      |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
      |  FROM tf WHERE tf > 0 GROUP BY term),
      |scored AS (
      |  SELECT t.query_id, t.doc_id,
      |    CAST(sum(
      |      CAST(round(ln(CAST(2 * (s.n_docs + 1) AS DOUBLE)
      |        / (2 * f.df + 1)) * 1000000) AS BIGINT) *
      |      CAST(round(CAST(22 * t.tf AS DOUBLE) * s.sum_dl * 1000000
      |        / (10 * s.sum_dl * t.tf + 3 * s.sum_dl + 9 * t.dl
      |           * s.n_docs)) AS BIGINT)
      |    ) AS BIGINT) AS bm25_u
      |  FROM tf t JOIN dfreq f ON f.term = t.term, stats s
      |  WHERE t.tf > 0
      |  GROUP BY t.query_id, t.doc_id),
      |ranked AS (
      |  SELECT query_id, doc_id, bm25_u, row_number() OVER (
      |    PARTITION BY query_id ORDER BY bm25_u DESC, doc_id) AS rank
      |  FROM scored)
      |SELECT query_id, rank, doc_id, bm25_u FROM ranked
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  val bm25TopKSql: String = bm25TopKSqlWhere("TRUE")

  // -------------------------------------------- s86 hybrid RRF fusion

  /** s86: HYBRID retrieval — reciprocal-rank fusion (k=60) of a dense
    * and a lexical ranking for each query document (doc_id < 10): the
    * dense list is the exact cosine top-10 over the embedding column
    * (the s60 shape), the lexical list the word-3-gram Jaccard top-10
    * over the shingle inverted index (the d51 machinery pointed at a
    * query set) — the dense+sparse fusion every production retrieval
    * stack serves ("more like this" with both semantic and keyword
    * evidence). RRF is RANK-based, so the fusion is integer-EXACT:
    * each list contributes ⌊10⁶/(60+rank)⌋ and the Jaccard ordering
    * itself uses the exact rational inter·10⁶ div union.
    *
    * Scale shape: dense = one corpus scan against broadcast queries
    * with a bounded-heap top-10; lexical = the 10 query docs' shingles
    * BROADCAST through the corpus shingle scan (the corpus never
    * shuffles to be ranked), intersections counted per (q, c), sizes
    * joined, bounded-heap top-10; fusion then touches ≤ 20 rows per
    * query — a full-outer merge plus one more tiny heap. */
  def hybridRrf(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < 10).toDF("q_id", "qv")
    val dense = e.toDF("c_id", "cv")
      .join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cosine", round(
        dot(col("qv"), col("cv")) / (norm(col("qv")) * norm(col("cv"))), 6))
      .groupBy("q_id").agg(topkUdaf(10)(col("cosine"), col("c_id")).as("tk"))
    val denseR = explodeTopK(dense, Seq("q_id"), "c_id", "cosine")
      .select(col("q_id"), col("c_id"), col("rank").as("rank_d"))
    val sh = graft.ext.DedupOps.shingleRows(s, d)
      .select(col("doc_id"), graft.ext.TextOps.md5Long(col("shingle")).as("sh"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val qsh = sh.filter(col("doc_id") < 10).toDF("q_id", "qsh")
    val inter = sh.toDF("c_id", "csh")
      .join(broadcast(qsh),
        col("csh") === col("qsh") && col("q_id") =!= col("c_id"))
      .groupBy("q_id", "c_id").agg(count(lit(1)).as("inter"))
    val jac = inter
      .join(broadcast(sizes.toDF("q_id", "sa")), "q_id")
      .join(sizes.toDF("c_id", "sb"), "c_id")
      .withColumn("jac_u", expr("inter * 1000000 div (sa + sb - inter)"))
    val lexR = explodeTopK(
      jac.groupBy("q_id")
        .agg(topkUdaf(10)(col("jac_u").cast("double"), col("c_id")).as("tk")),
      Seq("q_id"), "c_id", "jscore")
      .select(col("q_id"), col("c_id"), col("rank").as("rank_l"))
    val fused = denseR.join(lexR, Seq("q_id", "c_id"), "full_outer")
      .withColumn("rrf_u",
        coalesce(expr("1000000 div (60 + rank_d)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + rank_l)"), lit(0L)))
    explodeTopK(
      fused.groupBy("q_id")
        .agg(topkUdaf(5)(col("rrf_u").cast("double"), col("c_id")).as("tk")),
      Seq("q_id"), "c_id", "score")
      .select(col("q_id").as("query_id"), col("rank"),
        col("c_id").as("doc_id"), col("score").cast("bigint").as("rrf_u"))
      .orderBy("query_id", "rank")
  }

  val hybridRrfSql: String = {
    val cosine = cosineSqlSnippet.replace("QV", "q.v").replace("CV", "c.v")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      |dcand AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |    round($cosine, 6) AS cosine
      |  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      |drk AS (
      |  SELECT q_id, c_id, rank_d FROM (
      |    SELECT q_id, c_id, row_number() OVER (
      |      PARTITION BY q_id ORDER BY cosine DESC, c_id) AS rank_d
      |    FROM dcand) WHERE rank_d <= 10),
      |shs AS (${graft.ext.DedupOps.shingleRowsSql}),
      |sh AS (SELECT doc_id,
      |  ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS sh FROM shs),
      |sizes AS (SELECT doc_id, count(*) n FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS q_id, b.doc_id AS c_id, count(*) AS inter
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < 10
      |    AND b.doc_id <> a.doc_id
      |  GROUP BY 1, 2),
      |jac AS (
      |  SELECT i.q_id, i.c_id,
      |    i.inter * 1000000 // (sa.n + sb.n - i.inter) AS jac_u
      |  FROM inter i JOIN sizes sa ON sa.doc_id = i.q_id
      |    JOIN sizes sb ON sb.doc_id = i.c_id),
      |lrk AS (
      |  SELECT q_id, c_id, rank_l FROM (
      |    SELECT q_id, c_id, row_number() OVER (
      |      PARTITION BY q_id ORDER BY jac_u DESC, c_id) AS rank_l
      |    FROM jac) WHERE rank_l <= 10),
      |fused AS (
      |  SELECT coalesce(d.q_id, l.q_id) AS q_id,
      |    coalesce(d.c_id, l.c_id) AS c_id,
      |    coalesce(1000000 // (60 + d.rank_d), 0) +
      |    coalesce(1000000 // (60 + l.rank_l), 0) AS rrf_u
      |  FROM drk d FULL OUTER JOIN lrk l
      |    ON l.q_id = d.q_id AND l.c_id = d.c_id),
      |rk AS (
      |  SELECT q_id, c_id, rrf_u, row_number() OVER (
      |    PARTITION BY q_id ORDER BY rrf_u DESC, c_id) AS rank
      |  FROM fused)
      |SELECT q_id AS query_id, rank, c_id AS doc_id,
      |  CAST(rrf_u AS BIGINT) AS rrf_u
      |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s60_knn_brute"     -> knnBrute _,
    "s84_knn_graph"     -> knnGraph _,
    "s85_bm25_topk"     -> bm25TopK _,
    "s86_hybrid_rrf"    -> hybridRrf _,
    "s87_bm25_served"   -> bm25Served _,
    "s88_bm25_incr"     -> bm25Incremental _,
    "s89_knn_graph_recall" -> knnGraphRecall _,
    "s90_ivf_knn_graph" -> ivfKnnGraph _,
    "s91_ivf_graph_recall" -> ivfKnnGraphRecall _,
    "s92_multiprobe_graph" -> multiprobeKnnGraph _,
    "s93_multiprobe_graph_recall" -> multiprobeKnnGraphRecall _,
    "s82_filtered_knn"  -> filteredKnn _,
    "s61_ivf_knn"       -> ivfKnn _,
    "s62_signlsh"       -> signLshBuckets _,
    "s64_ivf_multiprobe" -> ((s: SparkSession, d: String) => ivfMultiprobeKnn(s, d)),
    "s71_lsh_rerank"    -> lshRerankKnn _,
    "s66_kmeans_census" -> kmeansCensus _,
    "s67_kmeans_ivf"    -> kmeansIvfKnn _,
    "s69_pq_codes"      -> pqCodes _,
    "s70_pq_adc_knn"    -> pqAdcKnn _,
    "s73_sq_knn"        -> sqKnn _,
    "s75_ivfpq_knn"     -> ivfPqKnn _,
    "s77_radius_search" -> ((s: SparkSession, d: String) => radiusSearch(s, d)),
    "s78_knn_classify"  -> knnClassify _,
    "s79_mmr_topk"      -> mmrTopK _,
    "s80_ivfpq_served"  -> ivfPqKnnServed _,
    "s81_ivfpq_incr"    -> ivfPqIncremental _,
    "s94_ivfpq_tombstones" -> ivfPqTombstoned _,
    "s95_bm25_tombstones" -> bm25Tombstoned _,
    "s96_bm25_compacted"  -> bm25Compacted _,
    "s97_ivfpq_compacted" -> ivfPqCompacted _,
    "s99_index_health"    -> indexHealth _,
    "s100_bm25_health"    -> bm25Health _,
  )

  val oracleSql: Map[String, String] = Map(
    "s60_knn_brute"     -> knnBruteSql,
    "s84_knn_graph"     -> knnGraphSql,
    "s85_bm25_topk"     -> bm25TopKSql,
    "s86_hybrid_rrf"    -> hybridRrfSql,
    "s87_bm25_served"   -> bm25TopKSql,
    "s88_bm25_incr"     -> bm25TopKSql,
    "s89_knn_graph_recall" -> knnGraphRecallSql,
    "s90_ivf_knn_graph" -> ivfKnnGraphSql,
    "s91_ivf_graph_recall" -> ivfKnnGraphRecallSql,
    "s92_multiprobe_graph" -> multiprobeKnnGraphSql,
    "s93_multiprobe_graph_recall" -> multiprobeKnnGraphRecallSql,
    "s82_filtered_knn"  -> filteredKnnSql,
    "s61_ivf_knn"       -> ivfKnnSql,
    "s62_signlsh"       -> signLshBucketsSql,
    "s64_ivf_multiprobe" -> ivfMultiprobeKnnSql,
    "s71_lsh_rerank"    -> lshRerankKnnSql,
    "s66_kmeans_census" -> kmeansCensusSql,
    "s67_kmeans_ivf"    -> kmeansIvfKnnSql,
    "s69_pq_codes"      -> pqCodesSql,
    "s70_pq_adc_knn"    -> pqAdcKnnSql,
    "s73_sq_knn"        -> sqKnnSql,
    "s75_ivfpq_knn"     -> ivfPqKnnSql,
    "s77_radius_search" -> radiusSearchSql,
    "s78_knn_classify"  -> knnClassifySql,
    "s79_mmr_topk"      -> mmrTopKSql,
    // same oracle as s75: the served results must be bit-identical to
    // the in-session index's
    "s80_ivfpq_served"  -> ivfPqKnnSql,
    "s81_ivfpq_incr"    -> ivfPqIncrSql,
    "s94_ivfpq_tombstones" -> ivfPqTombstonedSql,
    "s95_bm25_tombstones" -> bm25TombstonedSql,
    "s96_bm25_compacted"  -> bm25TombstonedSql,
    "s97_ivfpq_compacted" -> ivfPqTombstonedSql,
    "s99_index_health"    -> indexHealthSql,
    "s100_bm25_health"    -> bm25HealthSql,
  )
}
