package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** X2 — validation/disambiguation pass (ref: README.md:87 "validation
  * agent"): deterministic rule-based quality flags over the merged
  * store. Pure Column expressions appended as a `validation` struct;
  * rows are never dropped — downstream consumers filter on
  * `validation.valid` (the quarantine philosophy of D5 extended to
  * semantic checks).
  */
object Validation {

  /** Append validation flags to a store-schema DataFrame. */
  def validate(store: DataFrame): DataFrame =
    store.withColumn("validation", struct(
      (col("from") === "").as("missing_from"),
      (size(col("to")) + size(col("cc")) + size(col("bcc")) === 0)
        .as("no_recipients"),
      (length(trim(col("body"))) === 0).as("empty_body"),
      col("date").isNull.as("missing_date"),
      (col("date") > lit("2030-01-01")).as("future_date"),
      (length(col("subject")) === 0).as("empty_subject")))
    .withColumn("validation", struct(
      col("validation.*"),
      (!col("validation.missing_from") && !col("validation.no_recipients") &&
       !col("validation.empty_body") && !col("validation.missing_date"))
        .as("valid")))

  /** v70: validation summary over the fixture corpus — docs with
    * id%50==0 carry an empty body, so both branches of `valid` are
    * exercised and the rule evaluation is oracle-checked. */
  def validationSummary(s: SparkSession, d: String): DataFrame =
    validate(graft.query.FixtureCorpus.store(s, d))
      .groupBy(col("validation.valid").as("valid"))
      .agg(count(lit(1)).as("n_messages"),
        sum(when(col("validation.empty_subject"), 1L).otherwise(0L))
          .as("n_empty_subject"))
      .orderBy("valid")

  val validationSummarySql: String =
    s"""${graft.query.FixtureCorpus.sqlPrelude}
      |SELECT (sender <> '' AND length(trim(body)) > 0 AND dt IS NOT NULL)
      |    AS valid,
      |  count(*) AS n_messages,
      |  CAST(sum(CASE WHEN length(subject) = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_empty_subject
      |FROM m GROUP BY 1 ORDER BY valid""".stripMargin

  /** v71: referential-integrity audit across the star schema — orphan
    * counts for every FK edge, each a LEFT-ANTI join against the
    * referenced key set. The data-quality gate a pipeline runs before
    * trusting joins; at scale each anti-join broadcasts the (distinct)
    * key side or falls back to a shuffled semi-difference — never a
    * full materialization of matches. Expected all-zero on the
    * fixtures: the SHAPE is the operator, and a nonzero count is the
    * alarm the query exists to raise. */
  def refIntegrity(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    def orphans(rel: String, fk: String, child: DataFrame, childKey: String,
        parent: DataFrame, parentKey: String): DataFrame =
      child.select(col(childKey))
        .join(parent.select(col(parentKey).as(childKey)), Seq(childKey),
          "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(rel).as("relation"), lit(fk).as("fk"), col("n_orphans"))
    orphans("lineitem", "l_orderkey",
        lineitem(s, d), "l_orderkey", orders(s, d), "o_orderkey")
      .union(orphans("lineitem", "l_partkey",
        lineitem(s, d), "l_partkey", part(s, d), "p_partkey"))
      .union(orphans("lineitem", "l_suppkey",
        lineitem(s, d), "l_suppkey", supplier(s, d), "s_suppkey"))
      .union(orphans("orders", "o_custkey",
        orders(s, d), "o_custkey", customer(s, d), "c_custkey"))
      .orderBy("relation", "fk")
  }

  /** NOT EXISTS, not NOT IN: a NULL FK (or a NULL in the referenced
    * key set) makes NOT IN evaluate to NULL and silently drop the row,
    * while the Spark side's LEFT-ANTI counts it as an orphan — and a
    * NULL key is exactly the violation this audit exists to surface. */
  val refIntegritySql: String =
    """SELECT * FROM (
      |  SELECT 'lineitem' AS relation, 'l_orderkey' AS fk, count(*) AS n_orphans
      |  FROM lineitem l WHERE NOT EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |  UNION ALL
      |  SELECT 'lineitem', 'l_partkey', count(*)
      |  FROM lineitem l WHERE NOT EXISTS (
      |    SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
      |  UNION ALL
      |  SELECT 'lineitem', 'l_suppkey', count(*)
      |  FROM lineitem l WHERE NOT EXISTS (
      |    SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
      |  UNION ALL
      |  SELECT 'orders', 'o_custkey', count(*)
      |  FROM orders o WHERE NOT EXISTS (
      |    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      |ORDER BY relation, fk""".stripMargin

  private val profileCols = Seq("o_custkey", "o_orderdate", "o_orderkey",
    "o_orderpriority", "o_orderstatus", "o_totalprice")

  /** v72: per-column data-quality profile over `orders` — row count,
    * null count and exact distinct count for every column, in ONE scan:
    * a single aggregate computes all counts (Spark plans the multiple
    * COUNT DISTINCTs via expand + partial aggregation — still one pass
    * over the table, no per-column rescans), then a `stack` unpivots
    * the 1-row result into one row per column. The schema-drift /
    * ingest-sanity audit a pipeline runs on every new batch. */
  def columnProfile(s: SparkSession, d: String): DataFrame = {
    val aggs = count(lit(1)).as("n_rows") +:
      profileCols.flatMap(c => Seq(
        count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c")))
    val stackArgs = profileCols
      .map(c => s"'$c', n_rows - nn_$c, nd_$c").mkString(", ")
    graft.Tables.orders(s, d)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"), expr(
        s"stack(${profileCols.size}, $stackArgs)" +
          " AS (column_name, n_nulls, n_distinct)"))
      .select("column_name", "n_rows", "n_nulls", "n_distinct")
      .orderBy("column_name")
  }

  val columnProfileSql: String = {
    val aggs = profileCols.map(c =>
      s"count($c) AS nn_$c, count(DISTINCT $c) AS nd_$c").mkString(", ")
    val branches = profileCols.map(c =>
      s"SELECT '$c' AS column_name, n_rows, n_rows - nn_$c AS n_nulls," +
        s" nd_$c AS n_distinct FROM a").mkString(" UNION ALL ")
    s"""WITH a AS (SELECT count(*) AS n_rows, $aggs FROM orders)
      |SELECT column_name, n_rows, n_nulls, n_distinct
      |FROM ($branches) ORDER BY column_name""".stripMargin
  }

  /** v73: corpus↔embedding alignment audit — the coverage gate a
    * training pipeline runs before an embedding-dependent stage (ANN,
    * near-dup, clustering): docs with no vector, orphan vectors, wrong
    * dimensionality, degenerate zero vectors (cosine-undefined), and
    * duplicated vector ids. Anti-joins + single-scan predicates, same
    * scale shape as v71; all-zero on the fixtures by construction —
    * the SHAPE is the operator, nonzero is the alarm. */
  def embeddingAudit(s: SparkSession, d: String): DataFrame = {
    import graft.Tables._
    embeddingAuditOf(documents(s, d).select("doc_id"), embeddings(s, d))
  }

  /** The v73 checks over arbitrary (doc_id) / (vec_id, embedding)
    * frames — exposed so specs can plant violations. */
  private[graft] def embeddingAuditOf(docs: DataFrame, emb: DataFrame)
      : DataFrame = {
    def cnt(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("check"), col("n"))
    cnt("1_docs_without_embedding",
        docs.join(emb.select(col("vec_id").as("doc_id")),
          Seq("doc_id"), "left_anti"))
      .union(cnt("2_embeddings_without_doc",
        emb.select("vec_id").join(docs.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_anti")))
      .union(cnt("3_dim_violations",
        emb.filter(size(col("embedding")) =!= 64)))
      .union(cnt("4_zero_vectors",
        emb.filter(size(filter(col("embedding"),
          x => x =!= lit(0f))) === 0)))
      .union(cnt("5_dup_vec_ids",
        emb.groupBy("vec_id").agg(count(lit(1)).as("c"))
          .filter(col("c") > 1)))
      .orderBy("check")
  }

  val embeddingAuditSql: String =
    """SELECT * FROM (
      |  SELECT '1_docs_without_embedding' AS "check", count(*) AS n
      |  FROM documents d WHERE NOT EXISTS (
      |    SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)
      |  UNION ALL
      |  SELECT '2_embeddings_without_doc', count(*) FROM embeddings e
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)
      |  UNION ALL
      |  SELECT '3_dim_violations', count(*) FROM embeddings
      |  WHERE len(embedding) <> 64
      |  UNION ALL
      |  SELECT '4_zero_vectors', count(*) FROM embeddings
      |  WHERE len(list_filter(embedding, x -> x <> 0)) = 0
      |  UNION ALL
      |  SELECT '5_dup_vec_ids', count(*) FROM (
      |    SELECT vec_id FROM embeddings GROUP BY vec_id HAVING count(*) > 1))
      |ORDER BY "check"""".stripMargin

  // ------------------------------------------------ v74 drift report

  /** v74: split DRIFT report — the audit a training pipeline runs after
    * a hash split (t48) to confirm the held-out sets look like the
    * train set: per split, document count, fixed-point mean length,
    * short-document rate, language coverage, and each split's
    * mean-length deviation from the corpus mean in ppm. A biased split
    * (or a corpus whose distribution moved between snapshots) shows up
    * as a large |mean_dev_ppm| on validation/test.
    *
    * Scale shape: one scan, one 3-group aggregation, and a broadcast
    * join of the 3-row split frame against the 1-row corpus frame —
    * the corpus never shuffles. All reported stats are integer
    * (×100 / ppm fixed point), so the twin is engine-exact. */
  def driftReport(s: SparkSession, d: String): DataFrame = {
    val tagged = graft.Tables.documents(s, d)
      .withColumn("bucket", graft.ext.TextOps.md5Long(
        concat(lit("split:"), col("doc_id").cast("string"))) % 100)
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "validation")
          .otherwise("test"))
    val per = tagged.groupBy("split").agg(
      count(lit(1)).as("n_docs"),
      sum("n_chars").as("sum_chars"),
      sum(when(col("n_chars") < 100, 1L).otherwise(0L)).as("n_short"),
      countDistinct("lang").as("n_langs"))
    val glob = tagged.agg(
      sum("n_chars").as("g_chars"), count(lit(1)).as("g_docs"))
    per.crossJoin(broadcast(glob))
      .select(
        col("split"), col("n_docs"),
        expr("sum_chars * 100 div n_docs").as("mean_chars_x100"),
        expr("n_short * 10000 div n_docs").as("short_bp"),
        col("n_langs"),
        expr("((sum_chars * 100 div n_docs) - (g_chars * 100 div g_docs))" +
          " * 1000000 div (g_chars * 100 div g_docs)").as("mean_dev_ppm"))
      .orderBy("split")
  }

  val driftReportSql: String =
    """WITH tagged AS (
      |  SELECT doc_id, n_chars, lang,
      |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'validation'
      |      ELSE 'test' END AS split
      |  FROM (SELECT doc_id, n_chars, lang,
      |          ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT
      |            % 100 AS b
      |        FROM documents)),
      |per AS (
      |  SELECT split, count(*) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |    CAST(sum(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_short,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      |  FROM tagged GROUP BY split),
      |corpus AS (
      |  SELECT CAST(sum(n_chars) AS BIGINT) AS g_chars,
      |    count(*) AS g_docs FROM tagged)
      |SELECT split, n_docs,
      |  sum_chars * 100 // n_docs AS mean_chars_x100,
      |  n_short * 10000 // n_docs AS short_bp,
      |  n_langs,
      |  ((sum_chars * 100 // n_docs) - (g_chars * 100 // g_docs))
      |    * 1000000 // (g_chars * 100 // g_docs) AS mean_dev_ppm
      |FROM per, corpus ORDER BY split""".stripMargin

  // ------------------------------------------------- v75 JSONL ingest

  /** v75: JSONL corpus ingest with corrupt-record QUARANTINE — the
    * standard LLM-corpus interchange format read the production way:
    * an explicit schema (never inferSchema — a second full scan at
    * 100 TB), PERMISSIVE mode with `_corrupt_record`, so malformed
    * lines land in quarantine instead of failing the job (the D5
    * per-file error-isolation contract applied to a line-oriented
    * source). The staged corpus is the documents table written as
    * JSONL plus 3 deterministic malformed lines; the census must
    * show every valid row parsed losslessly (per-source doc/char
    * counts match the parquet truth) and exactly the 3 bad lines
    * quarantined. */
  /** The staged JSONL corpus dir for (session, sfdir) — documents as
    * JSONL plus 3 deterministic malformed lines. Shared by v75 and
    * its streaming twin (e110). */
  private[graft] def stagedJsonl(s: SparkSession, d: String): String =
    graft.SessionStore.artifact(s, d, "jsonl") { out =>
      graft.Tables.documents(s, d)
        .select(to_json(struct(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))).as("value"))
        .write.mode("overwrite").text(out)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(out, "part-corrupt.txt"),
        "{\"doc_id\": oops\nnot json at all\n[1, 2\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }

  /** The JSONL document schema (the explicit-schema contract both
    * readers share; the batch path appends `_corrupt_record`). */
  private[graft] val jsonlSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("source",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_chars",
      org.apache.spark.sql.types.LongType)))

  def jsonlIngest(s: SparkSession, d: String): DataFrame = {
    val dir = stagedJsonl(s, d)
    val schema = org.apache.spark.sql.types.StructType(
      jsonlSchema.fields :+ org.apache.spark.sql.types.StructField(
        "_corrupt_record", org.apache.spark.sql.types.StringType))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir)
      .withColumn("src", when(col("_corrupt_record").isNotNull,
        lit("_corrupt")).otherwise(col("source")))
      .groupBy("src").agg(
        count(lit(1)).as("n_docs"),
        coalesce(sum("n_chars"), lit(0L)).as("sum_chars"))
      .select(col("src").as("source"), col("n_docs"), col("sum_chars"))
      .orderBy("source")
  }

  val jsonlIngestSql: String =
    """SELECT source, n_docs, sum_chars FROM (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM documents GROUP BY source
      |  UNION ALL
      |  SELECT '_corrupt', CAST(3 AS BIGINT), CAST(0 AS BIGINT))
      |ORDER BY source""".stripMargin

  // ------------------------------------------------ v76 version diff

  /** v76: corpus VERSION-DIFF audit — the snapshot-to-snapshot change
    * census a data-versioning layer reports before a retrain: docs
    * added, removed, content-changed, and unchanged between corpus
    * v1 (everything but the %7==3 "new crawl", the d58/e109
    * convention) and v2 (new crawl absorbed, %13==1 docs deleted,
    * %11==5 docs revised). Both versions are deterministic
    * projections of the documents table, so the twin replays them
    * exactly. Scale shape: content hashes computed IN the scan, the
    * full-outer join carries only (doc_id, fp) — document text never
    * shuffles — and the output is a 4-row census. */
  def versionDiff(s: SparkSession, d: String): DataFrame = {
    val docs = graft.Tables.documents(s, d)
    val v1 = docs.filter(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"), md5(col("text")).as("fp1"))
    val v2 = docs.filter(col("doc_id") % 13 =!= 1)
      .select(col("doc_id"), md5(when(col("doc_id") % 11 === 5,
        concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
        .as("fp2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("fp1").isNull, "added")
          .when(col("fp2").isNull, "removed")
          .when(col("fp1") === col("fp2"), "unchanged")
          .otherwise("changed"))
      .groupBy("status").agg(
        count(lit(1)).as("n_docs"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"))
      .orderBy("status")
  }

  val versionDiffSql: String =
    """WITH v1 AS (
      |  SELECT doc_id, md5(text) AS fp1 FROM documents
      |  WHERE doc_id % 7 <> 3),
      |v2 AS (
      |  SELECT doc_id,
      |    md5(CASE WHEN doc_id % 11 = 5 THEN text || ' [rev2]'
      |        ELSE text END) AS fp2
      |  FROM documents WHERE doc_id % 13 <> 1)
      |SELECT CASE WHEN fp1 IS NULL THEN 'added'
      |            WHEN fp2 IS NULL THEN 'removed'
      |            WHEN fp1 = fp2 THEN 'unchanged'
      |            ELSE 'changed' END AS status,
      |  count(*) AS n_docs,
      |  min(COALESCE(v1.doc_id, v2.doc_id)) AS min_doc_id,
      |  max(COALESCE(v1.doc_id, v2.doc_id)) AS max_doc_id
      |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
      |GROUP BY 1 ORDER BY status""".stripMargin

  // ------------------------------------- v77 cross-split leakage audit

  /** v77: cross-split LEAKAGE audit — the check that catches the
    * classic eval-inflation bug: a test/validation document that is a
    * NEAR-DUPLICATE of a training document leaks training signal into
    * the eval even though the doc ids differ (so t48's stable split
    * can't see it — splits are hash-random over ids, near-dups are
    * content structure). Every d51 near-dup pair is classified by the
    * unordered pair of split assignments of its endpoints: same-split
    * pairs are `intra` (benign — dedup handles them), different-split
    * pairs are `leak` (a d57-style apply must collapse the pair into
    * ONE split, or the eval is contaminated). The census row per
    * (split_a, split_b) class carries the pair count and a concrete
    * example (min doc_a) — the audit a pipeline runs between dedup
    * and training.
    *
    * Scale shape: the split assignment is a pure projection on the
    * doc scan (t48's md5 rule, no shuffle), and both joins are
    * equi-joins keyed by doc id with the NEAR-DUP PAIR frame — the
    * small side by construction after dedup thresholds — driving the
    * cost; the d51 candidate machinery (inverted-index self-join,
    * DF caps) is reused from the session cache, not recomputed. */
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    import graft.ext.TextOps.md5Long
    val split = graft.Tables.documents(s, d)
      .select(col("doc_id"),
        (md5Long(concat(lit("split:"), col("doc_id").cast("string")))
          % 100).as("bucket"))
      .select(col("doc_id"),
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "validation")
          .otherwise("test").as("split"))
    graft.ext.DedupOps.nearDupPairs(s, d)
      .join(split.toDF("doc_a", "sa"), "doc_a")
      .join(split.toDF("doc_b", "sb"), "doc_b")
      .withColumn("split_a", least(col("sa"), col("sb")))
      .withColumn("split_b", greatest(col("sa"), col("sb")))
      .withColumn("verdict",
        when(col("split_a") === col("split_b"), "intra").otherwise("leak"))
      .groupBy("split_a", "split_b", "verdict")
      .agg(count(lit(1)).as("n_pairs"), min("doc_a").as("min_doc_a"))
      .orderBy("split_a", "split_b")
  }

  /** Composed SQL reading DedupOps' val — must be lazy: the oracleSql
    * maps force vals during object init and the cross-object reference
    * would NPE depending on class-load order (t71/d62 lesson). */
  lazy val splitLeakageSql: String =
    s"""WITH p AS (
      |  SELECT doc_a, doc_b FROM (${graft.ext.DedupOps.jaccardPairsSql})),
      |s AS (
      |  SELECT doc_id,
      |    CASE WHEN bucket < 80 THEN 'train'
      |         WHEN bucket < 90 THEN 'validation'
      |         ELSE 'test' END AS split
      |  FROM (SELECT doc_id,
      |          ('0x' || substr(md5('split:' || doc_id), 1, 15))::BIGINT
      |            % 100 AS bucket
      |        FROM documents)),
      |j AS (
      |  SELECT least(sa.split, sb.split) AS split_a,
      |    greatest(sa.split, sb.split) AS split_b, p.doc_a
      |  FROM p JOIN s sa ON sa.doc_id = p.doc_a
      |         JOIN s sb ON sb.doc_id = p.doc_b)
      |SELECT split_a, split_b,
      |  CASE WHEN split_a = split_b THEN 'intra' ELSE 'leak' END AS verdict,
      |  count(*) AS n_pairs, min(doc_a) AS min_doc_a
      |FROM j GROUP BY 1, 2, 3 ORDER BY split_a, split_b""".stripMargin

  // --------------------------------------------- v78 k-anonymity audit

  /** v78: k-ANONYMITY release audit — the privacy census a corpus
    * release runs AFTER content scrubbing (em69's PII redaction):
    * scrubbed text can still re-identify through quasi-identifier
    * METADATA combinations, so every (source, lang, length-bucket)
    * equivalence class is sized and classes below k = 5 are flagged —
    * those documents need generalization (coarser buckets) or
    * suppression before the corpus ships. Per source: doc count,
    * class count, risky classes, docs inside risky classes, and the
    * minimum class size (the census a release decision reads; the
    * per-class CASE genuinely fires both ways on the fixture — group
    * sizes straddle k).
    *
    * Scale shape: two-level aggregation — the first collapses
    * map-side to the QI-class cardinality (bounded by the attribute
    * grid, never the corpus), the second to #sources. No window, no
    * collect; all-integer output. */
  def kanonAudit(s: SparkSession, d: String): DataFrame = {
    val k = 5
    val classes = graft.Tables.documents(s, d)
      .select(col("source"), col("lang"),
        expr("n_chars div 500").as("len_bucket"))
      .groupBy("source", "lang", "len_bucket")
      .agg(count(lit(1)).as("gsz"))
    classes.groupBy("source").agg(
        sum("gsz").as("n_docs"),
        count(lit(1)).as("n_classes"),
        sum(when(col("gsz") < k, 1L).otherwise(0L)).as("n_risky_classes"),
        sum(when(col("gsz") < k, col("gsz")).otherwise(0L))
          .as("n_risky_docs"),
        min("gsz").as("min_class_size"))
      .orderBy("source")
  }

  val kanonAuditSql: String =
    """WITH g AS (
      |  SELECT source, lang, n_chars // 500 AS len_bucket,
      |    count(*)::BIGINT AS gsz
      |  FROM documents GROUP BY 1, 2, 3)
      |SELECT source, sum(gsz)::BIGINT AS n_docs,
      |  count(*)::BIGINT AS n_classes,
      |  sum(CASE WHEN gsz < 5 THEN 1 ELSE 0 END)::BIGINT AS n_risky_classes,
      |  sum(CASE WHEN gsz < 5 THEN gsz ELSE 0 END)::BIGINT AS n_risky_docs,
      |  min(gsz)::BIGINT AS min_class_size
      |FROM g GROUP BY 1 ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v70_validation" -> validationSummary _,
    "v71_ref_integrity" -> refIntegrity _,
    "v72_column_profile" -> columnProfile _,
    "v73_embedding_audit" -> embeddingAudit _,
    "v74_drift_report" -> driftReport _,
    "v75_jsonl_ingest" -> jsonlIngest _,
    "v76_version_diff" -> versionDiff _,
    "v77_split_leakage" -> splitLeakage _,
    "v78_kanon_audit" -> kanonAudit _,
  )

  val oracleSql: Map[String, String] = Map(
    "v70_validation" -> validationSummarySql,
    "v71_ref_integrity" -> refIntegritySql,
    "v72_column_profile" -> columnProfileSql,
    "v73_embedding_audit" -> embeddingAuditSql,
    "v74_drift_report" -> driftReportSql,
    "v75_jsonl_ingest" -> jsonlIngestSql,
    "v76_version_diff" -> versionDiffSql,
    "v77_split_leakage" -> splitLeakageSql,
    "v78_kanon_audit" -> kanonAuditSql,
  )
}
