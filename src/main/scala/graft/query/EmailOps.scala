package graft.query

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Ner

/** Driver-contract entries for the reference's own indexed query
  * surface (SURVEY.md §2.5 Q1–Q6, indexes ingest_enron.py:144-152) —
  * every entry runs the REAL pipeline (RFC-822 parse → merge → query
  * builders) over the [[FixtureCorpus]] store, whose synthesis rules
  * make each query's expected output SQL-expressible over `documents`:
  * the core product surface is DuckDB-oracle-checked end to end. */
object EmailOps {

  import FixtureCorpus.sqlPrelude

  private def store(s: SparkSession, d: String): DataFrame =
    FixtureCorpus.store(s, d)

  /** em60 / Q5: mailbox (hierarchy) listing — user0/inbox. */
  def byMailbox(s: SparkSession, d: String): DataFrame =
    EmailQueries.byMailbox(store(s, d), "user0", "inbox")
      .select("dedupe_key", "from", "subject").orderBy("dedupe_key")

  val byMailboxSql: String =
    s"""$sqlPrelude
      |SELECT dedupe_key, sender AS "from", subject FROM m
      |WHERE doc_id % 15 = 0 ORDER BY dedupe_key""".stripMargin

  /** em61 / Q3: recipient lookup across to/cc/bcc. */
  def byRecipient(s: SparkSession, d: String): DataFrame =
    EmailQueries.byRecipient(store(s, d), "u3@corp.com", includeCcBcc = true)
      .select("dedupe_key", "from").orderBy("dedupe_key")

  val byRecipientSql: String =
    s"""$sqlPrelude
      |SELECT dedupe_key, sender AS "from" FROM m
      |WHERE has_second_to AND second_to = 'u3@corp.com'
      |ORDER BY dedupe_key""".stripMargin

  /** em62 / Q2: sender lookup. */
  def bySender(s: SparkSession, d: String): DataFrame =
    EmailQueries.bySender(store(s, d), "u1@corp.com")
      .select("dedupe_key", "subject").orderBy("dedupe_key")

  val bySenderSql: String =
    s"""$sqlPrelude
      |SELECT dedupe_key, subject FROM m
      |WHERE doc_id % 7 = 1 ORDER BY dedupe_key""".stripMargin

  /** em63 / Q4: date-range scan. */
  def byDateRange(s: SparkSession, d: String): DataFrame =
    EmailQueries.byDateRange(store(s, d),
      Timestamp.from(Instant.parse("2001-05-05T00:00:00Z")),
      Timestamp.from(Instant.parse("2001-05-10T00:00:00Z")))
      .select("dedupe_key", "date").orderBy("dedupe_key")

  val byDateRangeSql: String =
    s"""$sqlPrelude
      |SELECT dedupe_key, dt AS "date" FROM m
      |WHERE dt >= TIMESTAMP '2001-05-05 00:00:00'
      |  AND dt < TIMESTAMP '2001-05-10 00:00:00'
      |ORDER BY dedupe_key""".stripMargin

  /** em64: communication-graph edges (§1.5 graph 2). */
  def commEdges(s: SparkSession, d: String): DataFrame =
    EmailQueries.communicationEdges(store(s, d)).orderBy("src", "dst")

  val commEdgesSql: String =
    s"""$sqlPrelude
      |SELECT src, dst, count(*) AS n_messages FROM (
      |  SELECT sender AS src, 'team@corp.com' AS dst FROM m
      |  UNION ALL SELECT sender, second_to FROM m WHERE has_second_to
      |  UNION ALL SELECT sender, cc_addr FROM m WHERE has_cc)
      |GROUP BY src, dst ORDER BY src, dst""".stripMargin

  /** em65: hierarchy rollup (messages per user/folder). */
  def mailboxCounts(s: SparkSession, d: String): DataFrame =
    EmailQueries.mailboxCounts(store(s, d)).orderBy("user", "folder")

  val mailboxCountsSql: String =
    s"""$sqlPrelude
      |SELECT usr AS "user", folder, count(*) AS n_messages FROM m
      |GROUP BY usr, folder ORDER BY "user", folder""".stripMargin

  /** em66 / Q1: point lookup by unique key. */
  def byKey(s: SparkSession, d: String): DataFrame =
    EmailQueries.byKey(store(s, d), "<d10@corp>")
      .select("dedupe_key", "from", "subject", "date")

  val byKeySql: String =
    s"""$sqlPrelude
      |SELECT dedupe_key, sender AS "from", subject, dt AS "date"
      |FROM m WHERE doc_id = 10""".stripMargin

  /** em68: attachment metadata census — exercises the MIME walk +
    * base64 transfer decoding + attachment extraction (F7/F8) through
    * the oracle gate: the multipart fixture messages carry one
    * attachment whose decoded size the oracle derives from the text. */
  def attachmentMeta(s: SparkSession, d: String): DataFrame =
    store(s, d)
      .select(col("dedupe_key"), explode(col("attachments")).as("a"))
      .select(col("dedupe_key"), col("a.filename"), col("a.content_type"),
        col("a.size"))
      .orderBy("dedupe_key")

  val attachmentMetaSql: String =
    s"""$sqlPrelude
      |SELECT dedupe_key, 'a' || doc_id || '.dat' AS filename,
      |  'application/octet-stream' AS content_type,
      |  CAST(least(48, length(text)) AS BIGINT) AS size
      |FROM m WHERE doc_id % 25 = 0 ORDER BY dedupe_key""".stripMargin

  // ------------------------------------------------------ em69 PII scrub

  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** em69: PII redaction over the message surface — the standard
    * training-data scrub (address/number masking before a corpus is
    * released). Each stored message is rendered back to a contact blob
    * (headers + body) and every email address / digit run is replaced
    * by a placeholder token; the output carries match counts plus an
    * md5 of the redacted blob, so the oracle hash-checks the ENTIRE
    * redacted string against DuckDB's RE2 on the same input — a true
    * cross-engine regex-semantics parity gate (the pattern is kept in
    * the Java∩RE2 common subset). Row-local `regexp_replace` — no
    * shuffle, embarrassingly parallel at any scale. */
  def piiRedact(s: SparkSession, d: String): DataFrame = {
    val blob = concat(
      lit("From: "), col("from"), lit("\n"),
      lit("To: "), array_join(col("to"), ", "), lit("\n"),
      lit("Cc: "), array_join(col("cc"), ", "), lit("\n"),
      lit("Subject: "), col("subject"), lit("\n"),
      col("body"))
    store(s, d)
      .select(col("dedupe_key"), blob.as("blob"))
      .withColumn("clean", regexp_replace(
        regexp_replace(col("blob"), emailPat, "<EMAIL>"), "[0-9]+", "<NUM>"))
      .select(col("dedupe_key"),
        regexp_count(col("blob"), lit(emailPat)).cast("long").as("n_emails"),
        length(col("clean")).cast("long").as("clean_len"),
        md5(col("clean")).as("clean_md5"))
      .orderBy("dedupe_key")
  }

  val piiRedactSql: String =
    s"""$sqlPrelude,
      |b AS (
      |  SELECT dedupe_key,
      |    'From: ' || sender || chr(10) ||
      |    'To: team@corp.com' ||
      |      CASE WHEN has_second_to THEN ', ' || second_to ELSE '' END ||
      |      chr(10) ||
      |    'Cc: ' || CASE WHEN has_cc THEN cc_addr ELSE '' END || chr(10) ||
      |    'Subject: ' || subject || chr(10) || body AS blob
      |  FROM m),
      |r AS (
      |  SELECT dedupe_key, blob, regexp_replace(regexp_replace(
      |    blob, '$emailPat', '<EMAIL>', 'g'), '[0-9]+', '<NUM>', 'g') AS clean
      |  FROM b)
      |SELECT dedupe_key,
      |  CAST(len(regexp_extract_all(blob, '$emailPat')) AS BIGINT) AS n_emails,
      |  CAST(length(clean) AS BIGINT) AS clean_len, md5(clean) AS clean_md5
      |FROM r ORDER BY dedupe_key""".stripMargin

  // --------------------------------------- em70 partitioned upsert

  /** em70: the 100 TB WRITE PATH under the oracle — a deterministic
    * two-batch upsert through [[graft.store.PartitionedEmailStore]]
    * (month-partitioned dynamic overwrite + bucket-pruned KeyIndex
    * probe), not just specs. Dates are spread over 12 months
    * (`date + doc_id%12 months`) so the months genuinely split across
    * batches: batch 1 carries the even ids (6 months), batch 2 the odd
    * ids (the other 6) PLUS re-deliveries of every 4th message into
    * `user9/inbox` with a rewritten subject — forcing the index probe
    * to find batch-1 months, cross-batch mailbox set-union, and
    * first-writer-wins subject freezing, all hash-checked against the
    * synthesis rules. */
  def partitionedUpsert(s: SparkSession, d: String): DataFrame = {
    val shifted = (df: DataFrame) => df.withColumn("date",
      expr("timestampadd(MONTH, CAST(doc_id % 12 AS INT), date)"))
    val docs = shifted(FixtureCorpus.parsedDocs(s, d))
    val batch1 = docs.filter(col("doc_id") % 2 === 0).drop("doc_id")
    val batch2 = docs.filter(col("doc_id") % 2 === 1).drop("doc_id")
      .unionByName(shifted(FixtureCorpus.redeliveries(s, d)).drop("doc_id"))
    val base = graft.Fs.scratchTempDir("graft-em70").toString
    val store = new graft.store.PartitionedEmailStore(s, base + "/store")
    try {
      store.upsert(batch1)
      store.upsert(batch2)
      val out = store.read()
        .select(col("dedupe_key"), col("subject"), col("date_month"),
          size(col("mailboxes")).as("n_mailboxes"),
          array_join(array_sort(expr("transform(mailboxes, m -> m.user)")), ",")
            .as("mb_users"))
        .orderBy("dedupe_key")
      // force before the finally deletes the store files (em71/em72's
      // reclaim rule): this entry deliberately rebuilds per call — the
      // honest write-path timing — so without the delete every bench/
      // verify invocation would strand a full store in /tmp; the
      // previous call's served frame is unpersisted so a median-of-3
      // loop holds at most one census in the block store
      out.cache().count()
      em70Last.getAndSet(out) match {
        case null => ()
        case prev => prev.unpersist(); ()
      }
      out
    } finally deleteTree(base)
  }

  private val em70Last =
    new java.util.concurrent.atomic.AtomicReference[DataFrame]()

  val partitionedUpsertSql: String =
    s"""$sqlPrelude
      |SELECT dedupe_key, subject,
      |  strftime(dt + to_months(CAST(doc_id % 12 AS INT)), '%Y-%m')
      |    AS date_month,
      |  CAST(CASE WHEN doc_id % 4 = 0 THEN 2 ELSE 1 END AS INT)
      |    AS n_mailboxes,
      |  CASE WHEN doc_id % 4 = 0 THEN usr || ',user9' ELSE usr END
      |    AS mb_users
      |FROM m ORDER BY dedupe_key""".stripMargin

  // --------------------------------------- em71 real-file full ingest

  /** em71: the FULL deployment dataflow under the oracle — the fixture
    * corpus materialized as REAL RFC-822 files in a depth-3 maildir on
    * disk, then `EmailIngest.scan` (binaryFile source) → parse →
    * quarantine split → [[graft.store.PartitionedEmailStore]] upsert →
    * store read. No pre-parsed shortcut anywhere: this closes the inch
    * between "parser exercised on synthesized bytes" (em6x) and "the
    * whole ingest path produces the right store". Stray files at
    * depths 1, 2 and 4 are planted so the exactly-depth-3 walk
    * contract is oracle-checked (a recursive-regex scan would count
    * them). Output: ingest counters + the mailbox listing.
    * `quarantined` is structurally 0 over this corpus — the parser is
    * a total function (property-spec'd); the quarantine split still
    * runs in the dataflow. Corpus capped at doc_id < 2000 on both
    * sides: bounded file count at any sf — ingest THROUGHPUT is
    * IngestBench's surface, this is the correctness twin. */
  /** Best-effort recursive delete of a temp tree. The ingest twins
    * materialize real corpora/stores in /tmp; without this, repeated
    * bench/verify runs accumulate the full corpus for the machine's
    * lifetime (the returned frames are force-cached first, so deleting
    * the backing files never invalidates a served result). Shared
    * impl: [[graft.Fs.deleteTree]]. */
  private def deleteTree(root: String): Unit = graft.Fs.deleteTree(root)

  def realIngest(s: SparkSession, d: String): DataFrame =
    graft.SessionStore.frame(s, d, "fixture/em71") {
      import java.nio.file.{Files, Paths}
      val cap = 2000L
      val base = graft.Fs.scratchTempDir("graft-em71").toString
      FixtureCorpus.materializeMaildir(s, d, base, cap)
      // strays the depth-3 walk must skip: too shallow, too deep
      Files.write(Paths.get(base, "stray_depth1"), "x".getBytes)
      Files.write(Paths.get(Files.createDirectories(
        Paths.get(base, "user0")).toString, "stray_depth2"), "x".getBytes)
      Files.write(Paths.get(Files.createDirectories(
        Paths.get(base, "user0", "inbox", "nested")).toString,
        "stray_depth4"), "x".getBytes)
      val parsed = graft.ingest.EmailIngest.ingest(s, base).cache()
      val storeTmp = graft.Fs.scratchTempDir("graft-em71-store").toString
      try {
        val docs = graft.ingest.EmailIngest.docs(s, parsed)
        val quarantined = graft.ingest.EmailIngest.quarantine(s, parsed).count()
        val store = new graft.store.PartitionedEmailStore(s,
          storeTmp + "/store")
        store.upsert(docs)
        val stored = store.read()
        import s.implicits._
        val counters = Seq(
          ("counter", "files_scanned", parsed.count()),
          ("counter", "parsed_ok", docs.count()),
          ("counter", "quarantined", quarantined),
          ("counter", "unique_keys", stored.count()))
          .toDF("kind", "k", "n")
        val mailboxes = stored
          .select(explode(col("mailboxes")).as("mb"))
          .groupBy(concat(col("mb.user"), lit("/"), col("mb.folder")).as("k"))
          .agg(count(lit(1)).as("n"))
          .select(lit("mailbox").as("kind"), col("k"), col("n"))
        val out = counters.unionByName(mailboxes).orderBy("kind", "k")
        // force before the finally deletes the maildir + store files:
        // the served frame must not lazily re-read deleted paths
        out.cache().count()
        out
      } finally {
        parsed.unpersist()
        deleteTree(base)
        deleteTree(storeTmp)
        ()
      }
    }

  val realIngestSql: String =
    s"""$sqlPrelude,
      |f AS (SELECT * FROM m WHERE doc_id < 2000)
      |SELECT kind, k, CAST(n AS BIGINT) AS n FROM (
      |  SELECT 'counter' AS kind, 'files_scanned' AS k, count(*) AS n FROM f
      |  UNION ALL SELECT 'counter', 'parsed_ok', count(*) FROM f
      |  UNION ALL SELECT 'counter', 'quarantined', 0
      |  UNION ALL SELECT 'counter', 'unique_keys', count(*) FROM f
      |  UNION ALL SELECT 'mailbox', usr || '/' || folder, count(*)
      |    FROM f GROUP BY 2)
      |ORDER BY kind, k""".stripMargin

  // --------------------------------------- em72 HTTP workflow twin

  /** em72: the reference's README workflow — `curl -F file=@corpus.zip
    * /ingest` then poll `/jobs/{id}` (app/main.py:13-35) — run over a
    * REAL loopback socket and put under the oracle gate. The fixture
    * corpus is materialized as RFC-822 files, zipped, uploaded as a
    * multipart POST to [[graft.jobs.HttpApi]] on an ephemeral port,
    * ingested by the async worker (staging → scan → parse →
    * partitioned-store upsert), and polled to PARSED over HTTP; the
    * output mixes transport-derived facts (the polled status, the
    * served `file_count`) with store-derived facts (unique keys, the
    * mailbox census), so a break anywhere in the HTTP→staging→ingest
    * →store→serve chain shows up as an oracle mismatch. Capped at
    * doc_id < 1000 on both sides (em71's bounded-file-count rule;
    * em71 covers depth-contract strays, this covers the transport). */
  def httpIngest(s: SparkSession, d: String): DataFrame =
    graft.SessionStore.frame(s, d, "fixture/em72") {
      import java.nio.file.{Files, Path, Paths}
      val cap = 1000L
      val base = graft.Fs.scratchTempDir("graft-em72").toString
      FixtureCorpus.materializeMaildir(s, d, base, cap)
      // zip the maildir with entry paths relative to its root
      val zipPath = graft.Fs.scratchTempFile("graft-em72", ".zip")
      val zos = new java.util.zip.ZipOutputStream(
        Files.newOutputStream(zipPath))
      try {
        import scala.jdk.CollectionConverters._
        val root = Paths.get(base)
        Files.walk(root).iterator().asScala
          .filter(Files.isRegularFile(_)).toSeq
          .sortBy(_.toString)
          .foreach { p: Path =>
            zos.putNextEntry(new java.util.zip.ZipEntry(
              root.relativize(p).toString))
            zos.write(Files.readAllBytes(p))
            zos.closeEntry()
          }
      } finally zos.close()

      val dir = graft.Fs.scratchTempDir("graft-em72-api")
      val tracker = new graft.jobs.JobTracker(s,
        dir.resolve("jobs").toString)
      val store = new graft.store.PartitionedEmailStore(s,
        dir.resolve("store").toString)
      val api = new graft.jobs.HttpApi(s, tracker, store)
      val port = api.start()
      try {
        val client = java.net.http.HttpClient.newHttpClient()
        val boundary = "graftEm72Boundary"
        val head = (s"--$boundary\r\nContent-Disposition: form-data; " +
          "name=\"file\"; filename=\"corpus.zip\"\r\n" +
          "Content-Type: application/zip\r\n\r\n")
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        val tail = s"\r\n--$boundary--\r\n"
          .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
        val body = new java.io.ByteArrayOutputStream()
        body.write(head); body.write(Files.readAllBytes(zipPath))
        body.write(tail)
        def jsonField(doc: String, key: String): Option[String] =
          ("\"" + key + "\":\"?([^\",}]*)\"?").r
            .findFirstMatchIn(doc).map(_.group(1))
        val resp = client.send(
          java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port/ingest"))
            .header("Content-Type",
              s"multipart/form-data; boundary=$boundary")
            .POST(java.net.http.HttpRequest.BodyPublishers
              .ofByteArray(body.toByteArray)).build(),
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(resp.statusCode() == 200, s"POST /ingest: ${resp.body()}")
        val jobId = jsonField(resp.body(), "job_id").getOrElse(
          sys.error(s"no job_id in ${resp.body()}"))
        // poll the job to its terminal state over the wire
        val deadline = System.nanoTime() + 300L * 1000 * 1000 * 1000
        var doc = ""
        var status = "QUEUED"
        while ((status == "QUEUED" || status == "PARSING") &&
            System.nanoTime() < deadline) {
          Thread.sleep(100)
          doc = client.send(
            java.net.http.HttpRequest.newBuilder(java.net.URI.create(
              s"http://127.0.0.1:$port/jobs/$jobId")).GET().build(),
            java.net.http.HttpResponse.BodyHandlers.ofString()).body()
          status = jsonField(doc, "status").getOrElse("QUEUED")
        }
        require(status == "PARSED", s"job ended $status: $doc")
        val servedFileCount =
          jsonField(doc, "file_count").map(_.toLong).getOrElse(-1L)
        val stored = store.read()
        import s.implicits._
        val counters = Seq(
          ("counter", "http_file_count", servedFileCount),
          ("counter", "http_status_parsed", 1L),
          ("counter", "unique_keys", stored.count()))
          .toDF("kind", "k", "n")
        val mailboxes = stored
          .select(explode(col("mailboxes")).as("mb"))
          .groupBy(concat(col("mb.user"), lit("/"), col("mb.folder"))
            .as("k"))
          .agg(count(lit(1)).as("n"))
          .select(lit("mailbox").as("kind"), col("k"), col("n"))
        val out = counters.unionByName(mailboxes).orderBy("kind", "k")
        // force before stop(): the frame must not lazily re-read the
        // store after the API (and its temp upload dirs) are torn down
        out.cache().count()
        out
      } finally {
        api.stop()
        // stop() first (an in-flight worker writes under dir), then
        // reclaim the materialized maildir, the corpus zip, and the
        // jobs/store tree — the forced cache above makes the served
        // frame independent of all three
        deleteTree(base)
        deleteTree(zipPath.toString)
        deleteTree(dir.toString)
      }
    }

  val httpIngestSql: String =
    s"""$sqlPrelude,
      |f AS (SELECT * FROM m WHERE doc_id < 1000)
      |SELECT kind, k, CAST(n AS BIGINT) AS n FROM (
      |  SELECT 'counter' AS kind, 'http_file_count' AS k, count(*) AS n
      |    FROM f
      |  UNION ALL SELECT 'counter', 'http_status_parsed', 1
      |  UNION ALL SELECT 'counter', 'unique_keys', count(*) FROM f
      |  UNION ALL SELECT 'mailbox', usr || '/' || folder, count(*)
      |    FROM f GROUP BY 2)
      |ORDER BY kind, k""".stripMargin

  // --------------------------------------- em73 store compaction

  /** em73: SMALL-FILES COMPACTION under the oracle — the maintenance
    * pass an incremental store needs at 100 TB. A busy month
    * accumulates tiny files across many small batches (streaming
    * cadences, concurrent writers) that shred scan throughput
    * (per-split scheduling, footer reads, row-group overhead). The
    * rehearsal: build the month-partitioned store from the fixture
    * corpus, plant the accumulated many-batch state explicitly with
    * [[graft.store.PartitionedEmailStore.fragment]] (round 16:
    * upserts now cluster their writes by month, so a single rewrite
    * no longer fragments — the production source of fragmentation is
    * batch cadence, which a fixture cannot afford to replay), run
    * [[graft.store.PartitionedEmailStore.compact]], and read the SAME
    * census em70 reads. Compaction is content-invariant by contract,
    * so the oracle is the uncompacted synthesis rules — any row lost,
    * duplicated, or moved across months by the rewrite breaks the
    * hash. The file-count contract (every compacted month packed to
    * its byte-budgeted target, strictly fewer files) is asserted
    * in-query from a driver-side metadata walk, so a silent no-op
    * compaction also fails the gate. */
  def compactedStore(s: SparkSession, d: String): DataFrame =
    graft.SessionStore.frame(s, d, "fixture/em73") {
      val docs = FixtureCorpus.parsedDocs(s, d)
        .withColumn("date",
          expr("timestampadd(MONTH, CAST(doc_id % 12 AS INT), date)"))
        .drop("doc_id")
      val root = graft.Fs.scratchTempDir("graft-em73").toString
      val store = new graft.store.PartitionedEmailStore(s, root + "/store")
      try {
        store.upsert(docs)
        store.fragment(8)
        val before = store.fileCensus()
        val plan = store.compact()
        require(plan.nonEmpty,
          s"fixture store produced no compactable month (census $before)")
        val after = store.fileCensus()
        plan.foreach { p =>
          require(after(p.month) <= p.want && after(p.month) < p.filesBefore,
            s"month ${p.month}: ${p.filesBefore} files -> ${after(p.month)}" +
              s", want ${p.want} — compaction contract broken")
        }
        val out = store.read()
          .select(col("dedupe_key"), col("subject"), col("date_month"),
            size(col("mailboxes")).as("n_mailboxes"),
            array_join(array_sort(
              expr("transform(mailboxes, m -> m.user)")), ",").as("mb_users"))
          .orderBy("dedupe_key")
        // force before the finally deletes the store files: the served
        // frame must not lazily re-read deleted paths
        out.cache().count()
        out
      } finally deleteTree(root)
    }

  val compactedStoreSql: String =
    s"""$sqlPrelude
      |SELECT dedupe_key, subject,
      |  strftime(dt + to_months(CAST(doc_id % 12 AS INT)), '%Y-%m')
      |    AS date_month,
      |  CAST(1 AS INT) AS n_mailboxes, usr AS mb_users
      |FROM m ORDER BY dedupe_key""".stripMargin

  // --------------------------------------- em74 retention enforcement

  /** em74: data-RETENTION enforcement under the oracle — the TTL pass
    * every store with a compliance or cost boundary runs: expire all
    * data older than the retention window. On the month-partitioned
    * store this is a PARTITION-METADATA operation
    * ([[graft.store.PartitionedEmailStore.retain]]): dropped months'
    * directories are deleted whole — no row read or rewritten,
    * O(#dropped partitions) — and retained months' files stay
    * byte-identical, both asserted in-query from the file census so a
    * retention that scanned, rewrote, or missed a month fails the
    * gate. The rehearsal: build the 12-month store (em73's spread),
    * retain `>= 2001-11` (drops exactly the six 2001-05..2001-10
    * months, also asserted), read em70's census — the oracle is the
    * synthesis rules with the retention predicate applied, so every
    * surviving row must be exactly the pre-retention row (nothing
    * lost from retained months, nothing surviving from dropped ones).
    * The `unknown` (null-date) partition is always retained by
    * contract — spec-pinned in Round15Spec, with the KeyIndex
    * self-heal path for a re-inserted expired key. */
  def retainedStore(s: SparkSession, d: String): DataFrame =
    graft.SessionStore.frame(s, d, "fixture/em74") {
      val docs = FixtureCorpus.parsedDocs(s, d)
        .withColumn("date",
          expr("timestampadd(MONTH, CAST(doc_id % 12 AS INT), date)"))
        .drop("doc_id")
      val root = graft.Fs.scratchTempDir("graft-em74").toString
      val store = new graft.store.PartitionedEmailStore(s, root + "/store")
      try {
        store.upsert(docs)
        val before = store.fileCensus()
        val dropped = store.retain("2001-11")
        require(dropped == (5 to 10).map(m => f"2001-$m%02d"),
          s"retention dropped $dropped — expiry contract broken")
        val after = store.fileCensus()
        require(after.keySet == before.keySet -- dropped,
          s"retained partition set wrong: $after vs $before minus $dropped")
        require(after.forall { case (m, n) => before(m) == n },
          "a retained month was rewritten by retention")
        val out = store.read()
          .select(col("dedupe_key"), col("subject"), col("date_month"),
            size(col("mailboxes")).as("n_mailboxes"),
            array_join(array_sort(
              expr("transform(mailboxes, m -> m.user)")), ",").as("mb_users"))
          .orderBy("dedupe_key")
        // force before the finally deletes the store files
        out.cache().count()
        out
      } finally deleteTree(root)
    }

  val retainedStoreSql: String =
    s"""$sqlPrelude
      |SELECT dedupe_key, subject,
      |  strftime(dt + to_months(CAST(doc_id % 12 AS INT)), '%Y-%m')
      |    AS date_month,
      |  CAST(1 AS INT) AS n_mailboxes, usr AS mb_users
      |FROM m
      |WHERE strftime(dt + to_months(CAST(doc_id % 12 AS INT)), '%Y-%m')
      |  >= '2001-11'
      |ORDER BY dedupe_key""".stripMargin

  // --------------------------------------- em75 hierarchy rollup census

  /** em75: the MULTI-PARENT containment-hierarchy census — the query
    * the repo's namesake hierarchy exists for. The reference's
    * defining data-model quirk is that one message node hangs under
    * MANY hierarchy positions (`$addToSet` mailboxes,
    * ingest_enron.py:192): a per-level count of POSITIONS and a
    * per-level count of DISTINCT MESSAGES genuinely differ, and a
    * plain groupBy (em65) cannot see it. This rollup census runs over
    * the store WITH the re-delivery batch merged (every 4th message
    * also lands in user9/inbox), so the grand-total row carries
    * n_positions = 1.25·N vs n_messages = N — the forest-vs-set
    * distinction hash-checked. One explode + ONE shuffle for all
    * three levels (rollup = grouping sets share the exchange,
    * partial-aggregated map-side); `expr()` columns in the rollup per
    * the Spark 4.1 DetectAmbiguousSelfJoin gotcha. Rebuilds its
    * merged store per call like em70 (the honest build+census cost —
    * no hidden cache). */
  def hierarchyCensus(s: SparkSession, d: String): DataFrame = {
    val st = graft.store.EmailStore.mergeBatch(
      FixtureCorpus.parsedDocs(s, d).drop("doc_id")
        .unionByName(FixtureCorpus.redeliveries(s, d).drop("doc_id")))
    st.select(col("dedupe_key"), explode(col("mailboxes")).as("mb"))
      .select(col("dedupe_key"), col("mb.user").as("u"),
        col("mb.folder").as("f"))
      .rollup(expr("u"), expr("f"))
      .agg(count(lit(1)).as("n_positions"),
        count_distinct(col("dedupe_key")).as("n_messages"))
      .select(coalesce(col("u"), lit("(all)")).as("user"),
        coalesce(col("f"), lit("(all)")).as("folder"),
        col("n_positions"), col("n_messages"))
      .orderBy("user", "folder")
  }

  val hierarchyCensusSql: String =
    """WITH pos AS (
      |  SELECT 'user' || (doc_id % 5) AS u,
      |    CASE doc_id % 3 WHEN 0 THEN 'inbox' WHEN 1 THEN 'sent'
      |         ELSE 'archive' END AS f,
      |    doc_id
      |  FROM documents
      |  UNION ALL
      |  SELECT 'user9', 'inbox', doc_id FROM documents WHERE doc_id % 4 = 0)
      |SELECT coalesce(u, '(all)') AS "user", coalesce(f, '(all)') AS folder,
      |  count(*)::BIGINT AS n_positions,
      |  count(DISTINCT doc_id)::BIGINT AS n_messages
      |FROM pos GROUP BY ROLLUP (u, f)
      |ORDER BY "user", folder""".stripMargin

  // ------------------- em76 linkable pseudonymized release (NER apply)

  /** em76: the privacy-preserving RELEASE transform — the second scrub
    * the training-data playbook needs next to em69's destructive
    * masking: (a) address columns become STABLE PSEUDONYMS (first 8
    * md5 hex chars under a release salt), so the released rows still
    * join/group into the same communication graph without exposing an
    * address — linkable pseudonymization, what em69's `<EMAIL>` token
    * destroys; (b) free-text subjects are scrubbed with the SAME
    * deterministic context rules the entity tier extracts with
    * ([[graft.ext.Ner.titleSeqPattern]] + the org-suffix context rule,
    * X1), re-expressed as two sequential `regexp_replace`es in the
    * Java∩RE2 subset — the APPLY rung of the NER ladder (X1 detects,
    * em76 scrubs), the d57/d68 detect→apply discipline on the entity
    * tier. The ORG pass must run FIRST: once suffix-terminated
    * sequences are collapsed to `<ORG>`, the person pass can safely
    * take every remaining multi-word title-case run.
    *
    * The oracle reconstructs pseudonyms and scrubbed subjects
    * INDEPENDENTLY from the fixture's modular synthesis rules (not by
    * running the same regex), so a drifting pattern, a changed salt,
    * or a broken pass order fails the hash. Scale shape: pure
    * row-local projection — no shuffle, no state; the only exchange is
    * the presentation sort.
    *
    * SALT CAVEAT (round-13 advice): the fixed public salt (`pii:`) and
    * 8-hex (32-bit) truncation are the ORACLE-REPRODUCIBLE fixture
    * instance only — a holder of released rows could reverse them by
    * dictionary enumeration, and 32 bits invites collisions at corpus
    * scale. A production release keys the same projection with a
    * SECRET, rotatable salt (HMAC over the address) and a full-width
    * digest; nothing else in the transform changes.
    * Ref anchor: the entities index `ingest_enron.py:152` plans
    * detection only; the reference never ships a scrub rung. */
  def pseudoRelease(s: SparkSession, d: String): DataFrame =
    pseudoReleaseOf(store(s, d)).orderBy("dedupe_key")

  /** The release frame over any store-shaped frame (dedupe_key, from,
    * to, cc, bcc, subject) with the recipient PSEUDONYM ARRAYS intact
    * — every address column mapped element-wise through the pseudonym
    * (`transform`), so the released rows carry the COMPLETE
    * communication structure under pseudonyms (round-13 verdict: the
    * earlier shape released only a single-recipient probe,
    * `element_at(to, 2)`, and dropped the rest of the lists — nothing
    * leaked, but the release could not reconstruct the graph its own
    * scaladoc promised; em77 now proves the reconstruction by
    * hash-matching the pseudonym-mapped em64 census). Shared by the
    * em76 entry (arrays joined to strings for the oracle) and em77
    * (arrays exploded into the edge census). */
  private[graft] def pseudoFrameOf(st: DataFrame): DataFrame = {
    val orgPat =
      s"[A-Z][A-Za-z]+(?: [A-Z][A-Za-z]+)* (?:${Ner.orgSuffixes.mkString("|")})\\b"
    def pseudo(c: Column): Column =
      concat(lit("p"), substring(md5(concat(lit("pii:"), c)), 1, 8))
    val ents = Ner.titleCaseEntities(col("subject"))
    st.select(
      col("dedupe_key"),
      // a blank address (unparseable From / empty list slot) gets NO
      // pseudonym — em64's src/dst ≠ '' guard restated release-side,
      // so em77's census can never mint a phantom pseudo('') edge
      when(col("from") =!= "", pseudo(col("from"))).as("pseudo_from"),
      transform(array_remove(col("to"), ""), pseudo(_)).as("pseudo_to"),
      transform(array_remove(col("cc"), ""), pseudo(_)).as("pseudo_cc"),
      transform(array_remove(col("bcc"), ""), pseudo(_)).as("pseudo_bcc"),
      regexp_replace(
        regexp_replace(col("subject"), orgPat, "<ORG>"),
        Ner.titleSeqPattern, "<PERSON>").as("red_subject"),
      size(filter(ents, e => e.getField("type") === "PERSON"))
        .cast("long").as("n_person"),
      size(filter(ents, e => e.getField("type") === "ORG"))
        .cast("long").as("n_org"))
  }

  /** The em76 release projection: [[pseudoFrameOf]] with the pseudonym
    * arrays joined to comma-strings (header order preserved) — the
    * repo's array_join oracle convention. */
  private[graft] def pseudoReleaseOf(st: DataFrame): DataFrame =
    pseudoFrameOf(st).select(
      col("dedupe_key"), col("pseudo_from"),
      array_join(col("pseudo_to"), ",").as("pseudo_to"),
      array_join(col("pseudo_cc"), ",").as("pseudo_cc"),
      array_join(col("pseudo_bcc"), ",").as("pseudo_bcc"),
      col("red_subject"), col("n_person"), col("n_org"))

  val pseudoReleaseSql: String =
    s"""$sqlPrelude
      |SELECT dedupe_key,
      |  'p' || substr(md5('pii:' || sender), 1, 8) AS pseudo_from,
      |  'p' || substr(md5('pii:team@corp.com'), 1, 8) ||
      |    CASE WHEN has_second_to
      |      THEN ',p' || substr(md5('pii:' || second_to), 1, 8)
      |      ELSE '' END AS pseudo_to,
      |  CASE WHEN has_cc
      |    THEN 'p' || substr(md5('pii:' || cc_addr), 1, 8)
      |    ELSE '' END AS pseudo_cc,
      |  '' AS pseudo_bcc,
      |  CASE WHEN doc_id % 11 = 0
      |    THEN 'msg ' || doc_id || ' <PERSON> of <ORG>'
      |    ELSE 'msg ' || doc_id END AS red_subject,
      |  CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS n_person,
      |  CAST(CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS BIGINT)
      |    AS n_org
      |FROM m ORDER BY dedupe_key""".stripMargin

  // ---------------- em77 release linkability census (the graph proof)

  /** em77: the LINKABILITY PROOF for em76's release — rebuild the em64
    * communication-graph census FROM THE RELEASED ROWS ONLY (sender
    * pseudonym × exploded recipient-pseudonym arrays), and let the
    * oracle compute the same census from the ORIGINAL addresses mapped
    * through the pseudonym formula. Hash equality means the release
    * preserves the complete communication graph under pseudonyms —
    * every edge, every multiplicity — which is exactly the property
    * that distinguishes linkable pseudonymization (em76) from
    * destructive masking (em69). Same dedup/explode shape as em64
    * (array_union across to/cc/bcc, one exchange for the census).
    *
    * COLLISION ASSUMPTION (round-14 advice, companion to em76's SALT
    * CAVEAT): the Spark census dedups recipients PER MESSAGE
    * POST-pseudonym (array_union over the pseudonym arrays) while the
    * oracle UNION ALLs the raw fixture columns — parity holds because
    * the fixture never repeats an address across a message's to/cc/bcc
    * AND the 8-hex pseudonyms never collide there. A 32-bit collision
    * between two distinct recipients of ONE message would make Spark
    * merge the pair where the oracle counts twice. The production fix
    * is the same as the SALT CAVEAT's: a full-width HMAC digest makes
    * within-message collisions cryptographically negligible, at which
    * point post-pseudonym dedup ≡ em64's pre-pseudonym semantics. */
  def pseudoLinkCensus(s: SparkSession, d: String): DataFrame =
    pseudoFrameOf(store(s, d))
      .select(col("pseudo_from").as("src"),
        explode(array_union(array_union(col("pseudo_to"), col("pseudo_cc")),
          col("pseudo_bcc"))).as("dst"))
      .filter(col("src").isNotNull) // blank-From rows release no edge
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("n_messages"))
      .orderBy("src", "dst")

  val pseudoLinkCensusSql: String =
    s"""$sqlPrelude
      |SELECT src, dst, count(*) AS n_messages FROM (
      |  SELECT 'p' || substr(md5('pii:' || sender), 1, 8) AS src,
      |         'p' || substr(md5('pii:team@corp.com'), 1, 8) AS dst FROM m
      |  UNION ALL
      |  SELECT 'p' || substr(md5('pii:' || sender), 1, 8),
      |         'p' || substr(md5('pii:' || second_to), 1, 8)
      |  FROM m WHERE has_second_to
      |  UNION ALL
      |  SELECT 'p' || substr(md5('pii:' || sender), 1, 8),
      |         'p' || substr(md5('pii:' || cc_addr), 1, 8)
      |  FROM m WHERE has_cc)
      |GROUP BY src, dst ORDER BY src, dst""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "em60_by_mailbox"    -> byMailbox _,
    "em61_by_recipient"  -> byRecipient _,
    "em62_by_sender"     -> bySender _,
    "em63_by_date_range" -> byDateRange _,
    "em64_comm_edges"    -> commEdges _,
    "em65_mailbox_counts" -> mailboxCounts _,
    "em66_by_key"        -> byKey _,
    "em68_attachments"   -> attachmentMeta _,
    "em69_pii_redact"    -> piiRedact _,
    "em70_partitioned_upsert" -> partitionedUpsert _,
    "em71_real_ingest"   -> realIngest _,
    "em72_http_ingest"   -> httpIngest _,
    "em73_store_compaction" -> compactedStore _,
    "em74_store_retention" -> retainedStore _,
    "em75_hierarchy_census" -> hierarchyCensus _,
    "em76_pseudo_release" -> pseudoRelease _,
    "em77_pseudo_link_census" -> pseudoLinkCensus _,
  )

  val oracleSql: Map[String, String] = Map(
    "em60_by_mailbox"    -> byMailboxSql,
    "em61_by_recipient"  -> byRecipientSql,
    "em62_by_sender"     -> bySenderSql,
    "em63_by_date_range" -> byDateRangeSql,
    "em64_comm_edges"    -> commEdgesSql,
    "em65_mailbox_counts" -> mailboxCountsSql,
    "em66_by_key"        -> byKeySql,
    "em68_attachments"   -> attachmentMetaSql,
    "em69_pii_redact"    -> piiRedactSql,
    "em70_partitioned_upsert" -> partitionedUpsertSql,
    "em71_real_ingest"   -> realIngestSql,
    "em72_http_ingest"   -> httpIngestSql,
    "em73_store_compaction" -> compactedStoreSql,
    "em74_store_retention" -> retainedStoreSql,
    "em75_hierarchy_census" -> hierarchyCensusSql,
    "em76_pseudo_release" -> pseudoReleaseSql,
    "em77_pseudo_link_census" -> pseudoLinkCensusSql,
  )
}
