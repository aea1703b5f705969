package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.{Instant, YearMonth}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions.{col, xxhash64}

import graft.Sessions
import graft.codec.Rfc822Parser
import graft.graph.EmailGraph
import graft.ingest.{EmailIngest, ZipStaging}
import graft.jobs.{HttpApi, JobTracker}
import graft.model.ParsedFile
import graft.query.EmailQueries
import graft.store.{EmailStore, PartitionedEmailStore}

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, out: Path)

object Args {
  val Workloads = Seq("bulk_ingest", "upsert_stream", "read_mix")

  def parse(argv: Array[String]): Either[String, Args] = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.get(k).toRight(s"missing $k")
    for {
      w <- need("--workload").filterOrElse(Workloads.contains, "unknown workload")
      s <- need("--seed").flatMap(x => x.toLongOption.toRight("bad --seed"))
      n <- need("--seconds").flatMap(x => x.toIntOption.filter(_ > 0)
        .toRight("bad --seconds"))
      t <- need("--trace").filterOrElse(Set("0", "1"), "bad --trace")
      work <- need("--work")
      out <- need("--out")
    } yield Args(w, s, n, t == "1", Paths.get(work), Paths.get(out))
  }
}

/** Corpus and store sizes per workload. */
final case class Sizes(
    messages: Int,        // logical messages of the main corpus
    httpPreload: Boolean, // preload through POST /ingest, else store.upsert
    uploadNew: Int,       // upsert_stream: new messages per upload
    uploadResent: Int)    // upsert_stream: re-delivered files per upload

object Sizes {
  def of(workload: String): Sizes = workload match {
    case "bulk_ingest" => Sizes(1000, true, 0, 0)
    // uploads of ~650 files, the job size of a 25k-file maildir probe
    case "upsert_stream" => Sizes(4000, false, 390, 195)
    case "read_mix" => Sizes(8000, false, 0, 0)
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv) match {
      case Right(a) => a
      case Left(err) =>
        System.err.println(s"perfbench: $err\nusage: --workload " +
          Args.Workloads.mkString("|") + " --seed N --seconds N --trace 0|1 " +
          "--work DIR --out DIR")
        sys.exit(2)
    }
    val code =
      try new Bench(args).run()
      catch { case e: Throwable => e.printStackTrace(); 3 }
    sys.exit(code)
  }
}

/** Finds the file-scan nodes of an executed plan, through adaptive
  * query stages. */
private object Plans extends AdaptiveSparkPlanHelper

/** Samples of one run, by name. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    m.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def get(name: String): Seq[Double] = m.get(name).map(_.toSeq).getOrElse(Nil)
  def names: Seq[String] = m.keys.toSeq
}

/** Per-workload figures the report needs beyond the samples. */
final case class Summary(storeBytesPerInput: Double,
    rounds: Int, traceStartNs: Long, eventFiles: Int, filesPerMonthMax: Int,
    keyidxBytes: Long, parseUsPerMsg: Double)

/** The state setup leaves: the main corpus, its zip (bulk_ingest
  * re-uploads it), and the manifest of the store it was preloaded into. */
final case class Setup(generateReps: Seq[Double], preloadS: Double,
    ds: Vector[Delivery], zip: Array[Byte], raw: Long, model: Model,
    warmupS: Double) {
  def generateS: Double = Stats.median(generateReps)
}

final class Bench(a: Args) {
  private val sizes = Sizes.of(a.workload)
  private val cores = Runtime.getRuntime.availableProcessors()
  private val samples = new Samples
  private val gate = new Gate
  import gate.check
  private val heap = new HeapWatch

  private lazy val spark: SparkSession = Sessions.local(cores.toString)
  private lazy val collector = new SparkCollector
  private lazy val tracer = new Tracer(spark.sparkContext)
  private var streamShares: Option[Shares] = None

  /** Start the traced window: spans and the Spark collector go live. */
  private def traceOn(): Long = {
    spark.sparkContext.addSparkListener(collector)
    tracer.enabled = true
    System.nanoTime()
  }

  /** An end-to-end sample; those taken while tracing are kept apart, for
    * the tracing overhead only. */
  private def e2e(name: String, v: Double): Unit =
    samples.add(if (tracer.enabled) s"$name.traced" else name, v)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---------------------------------------------------------- product

  /** The running service: tracker, store and HTTP front end over dirs
    * under `root`. */
  private final class Service(root: Path) {
    val storeRoot: String = root.resolve("store").toString
    val tracker = new JobTracker(spark, root.resolve("jobs").toString)
    val store = new PartitionedEmailStore(spark, storeRoot)
    val api = new HttpApi(spark, tracker, store)
    val client = new Client(api.start())

    def wipeStore(): Unit = {
      graft.Fs.deleteTree(Paths.get(storeRoot))
      graft.Fs.deleteTree(Paths.get(storeRoot + "_keyidx"))
    }
    def storeBytes: Long = Bench.du(Paths.get(storeRoot)) +
      Bench.du(Paths.get(storeRoot + "_keyidx"))
    def stop(): Unit = api.stop()
  }

  /** POST one zip and poll until the job leaves QUEUED/PARSING. Job
    * latency runs from the send to the served `updated_at` of the final
    * state, so the poll cadence does not quantize it. */
  private def uploadJob(svc: Service, name: String, zip: Array[Byte],
      files: Int, record: Boolean): Double = {
    val sentAt = Instant.now()
    val (id, postS) = timed(svc.client.post(name, zip))
    var state = Map.empty[String, String]
    val deadline = System.nanoTime() + 170L * 1000000000L
    var polling = true
    while (polling) {
      Thread.sleep(Bench.PollMs)
      val (st, s) = timed(svc.client.job(id))
      if (record) e2e("status_ms", s * 1000)
      state = st
      polling = Set("QUEUED", "PARSING").contains(st.getOrElse("status", "")) &&
        System.nanoTime() < deadline
    }
    val status = state.getOrElse("status", "?")
    check(s"job $name status", status == "PARSED", s"served status $status")
    check(s"job $name file_count", state.get("file_count").contains(files.toString),
      s"served file_count ${state.get("file_count")} for $files files")
    val done = state.get("updated_at").map(Timestamp.valueOf(_).toInstant)
      .getOrElse(Instant.now())
    val jobS = java.time.Duration.between(sentAt, done).toNanos / 1e9
    if (record) {
      e2e("post_ms", postS * 1000)
      e2e("job_s", jobS)
      e2e("job_files", files.toDouble)
    }
    jobS
  }

  /** The store rows of `ds` as `EmailIngest.docs` makes them, parsed
    * by `Rfc822Parser` on the client instead of scanned from a staged
    * upload. */
  private def parsedDocs(ds: Seq[Delivery]) = {
    import spark.implicits._
    val parsed = ds.map { d =>
      val s = d.slot
      ParsedFile(s"preload/${s.entryName}", s.user, s.folder, s.file,
        Some(Rfc822Parser.parse(Corpus.render(d), s.user, s.folder, s.file)), None)
    }
    EmailIngest.docs(spark, spark.createDataset(parsed))
  }

  // ---------------------------------------------------------- lookups

  /** Run one lookup, timed; traced, it is split into planning and
    * execution and its scan's file count is read from the plan. */
  private def lookup(store: PartitionedEmailStore, q: Lookup, model: Model,
      record: Boolean): Unit = {
    val req = s"q${gate.attempted}"
    val (rows, s) = timed(tracer(s"lookup.${q.kind}", "query", req) {
      val df = Lookup.frame(store, q)
      if (tracer.enabled) {
        val (plan, ps) = timed(tracer("plan", "query", req)(df.queryExecution.executedPlan))
        val rows = df.collect()
        samples.add("query.plan_ms", ps * 1000)
        val files = Plans.collect(plan) { case f: FileSourceScanExec => f }
          .flatMap(_.metrics.get("numFiles").map(_.value)).sum
        samples.add("query.files_read", files.toDouble)
        samples.add("query.rows_returned", rows.length.toDouble)
        rows
      } else df.collect()
    })
    if (record) {
      e2e("query_ms", s * 1000)
      e2e(s"query.${q.kind}_ms", s * 1000)
    }
    gate.verifyLookup(q, rows, model)
  }

  /** Zipf-skewed Q1–Q5 arguments, from their own seeded stream. */
  private final class LookupGen(corpus: Corpus, seed: Long) {
    private val r = new SplittableRandom(seed ^ 0x5deece66dL)
    private val months = new Zipf(Corpus.Months, 0.8)
    private val folders = Vector("inbox", "sent", "all_documents",
      "deleted_items", "discussion_threads", "notes_inbox")
    private val folderZipf = new Zipf(folders.size, 1.0)
    def key(model: Model): ByKey = {
      val ks = model.keys
      ByKey(ks(new Zipf(math.min(ks.size, 5000), 1.0).sample(r) * 7919 % ks.size))
    }
    def month: ByMonth = ByMonth(YearMonth.from(Corpus.Start)
      .plusMonths((Corpus.Months - 1 - months.sample(r)).toLong).toString)
    /** One read_mix round: two of each kind, Zipf-skewed arguments. */
    def round(model: Model): Seq[Lookup] =
      Seq.fill(2)(Seq(key(model), BySender(corpus.address(corpus.zipfUser(r))),
        ByRecipient(corpus.address(corpus.zipfUser(r))),
        ByMailbox(corpus.zipfUser(r), folders(folderZipf.sample(r))), month)).flatten
  }

  // --------------------------------------------------------- analytics

  /** One analytics round over the store, every output collected. */
  private def analytics(store: PartitionedEmailStore, model: Model,
      record: Boolean): Unit = {
    val req = s"a${gate.attempted}"
    def step[T](name: String)(body: => T): T = {
      val (r, s) = timed(tracer(name, "graph", req)(body))
      if (record) samples.add(s"graph.${name}_s", s)
      r
    }
    val (_, total) = timed {
      val df = store.read()
      val mc = step("mailbox_counts")(EmailQueries.mailboxCounts(df).collect())
      check("mailboxCounts", mc.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap == model.census, "census differs")
      val ce = step("comm_edges")(EmailQueries.communicationEdges(df).collect())
      val edges = ce.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      check("communicationEdges", edges == model.commEdges,
        s"${edges.size} edges vs ${model.commEdges.size}")
      val th = step("thread_ids")(EmailGraph.assignThreadIds(spark, df).collect())
      val threads = th.map(_.getAs[String]("thread_id")).distinct.length.toLong
      check("thread count", th.length == model.uniqueCount && threads == model.threadCount,
        s"${th.length} rows / $threads threads vs ${model.uniqueCount} / ${model.threadCount}")
      val ids = EmailQueries.communicationEdges(df)
        .select(xxhash64(col("src")).as("src"), xxhash64(col("dst")).as("dst"))
      val (nv, nc) = model.commComponents
      val cc = step("components")(EmailGraph.components(spark, ids).collect())
      check("components", cc.length == nv && cc.map(_.getLong(1)).distinct.length == nc,
        s"${cc.length} vertices vs $nv")
      val pr = step("pagerank")(EmailGraph.pageRank(spark, ids).collect())
      check("pageRank", pr.length == nv && pr.forall(r => r.getDouble(1) > 0),
        s"${pr.length} ranks vs $nv vertices")
    }
    if (record) e2e("analytics_round_s", total)
  }

  // ------------------------------------------------- traced job replay

  /** A job replayed on the client thread, phase by phase, the sequence
    * `JobTracker.runPhases` runs, each phase forced inside its span. With
    * the tracer off the spans are no-ops, so the replay times the same
    * code untraced, for the tracing overhead; the layer figures are taken
    * only with it on. */
  private def tracedJob(svc: Service, name: String, zip: Array[Byte],
      files: Int, rawBytes: Long): Unit = {
    val req = s"j${gate.attempted}"
    val on = tracer.enabled
    def layerSample(n: String, v: Double): Unit = if (on) samples.add(n, v)
    val before = Bench.parquetFiles(Paths.get(svc.storeRoot))
    def unique = if (svc.store.isEmpty) 0L else svc.store.read().count()
    val uniqueBefore = if (on) unique else 0L
    val ((scanned, docs, jobId), jobS) = timed(tracer("job", "jobs", req) {
      val (tmp, staged, jobId) = tracer("post", "jobs", req) {
        val tmp = graft.Fs.scratchTempFile("perfbench-upload-", "_" + name)
        Files.write(tmp, zip)
        val staged = tracer("stage", "ingest", req)(ZipStaging.stage(tmp.toString))
        val id = tracer("tracker.create", "jobs", req)(
          svc.tracker.create(name, staged.toString))
        (tmp, staged, id)
      }
      try {
        val (scanned, n) = tracer("scan", "ingest", req) {
          val s = EmailIngest.scan(spark, staged.toString).cache()
          (s, s.count())
        }
        tracer("tracker.setStatus", "jobs", req)(
          svc.tracker.setStatus(jobId, "PARSING", fileCount = n))
        val docs = tracer("parse", "codec", req) {
          val d = EmailIngest.docs(spark, EmailIngest.parse(spark, scanned)).cache()
          layerSample("codec.docs", d.count().toDouble)
          d
        }
        layerSample("ingest.files_scanned", n.toDouble)
        tracer("upsert", "store", req)(svc.store.upsert(docs))
        tracer("tracker.setStatus", "jobs", req)(
          svc.tracker.setStatus(jobId, "PARSED", fileCount = n))
        check(s"job $name file_count", n == files, s"scanned $n of $files")
        (scanned, docs, jobId)
      } finally {
        ZipStaging.cleanup(staged)
        Files.deleteIfExists(tmp)
      }
    })
    e2e("replay_s", jobS)
    if (on) {
      // outside the job span, as in the untraced run: the status read a
      // poll makes, and the merge alone. The upsert runs the merge fused
      // with the store write, so this second run is diagnostic work the
      // service never does: its layer keeps it out of the store's sums.
      tracer("status", "jobs", req)(svc.tracker.currentState()
        .filter(col("job_id") === jobId).collect())
      tracer("merge", Bench.DiagLayer, req)(EmailStore.mergeBatch(docs)
        .write.format("noop").mode("overwrite").save())
      val after = Bench.parquetFiles(Paths.get(svc.storeRoot))
      val created = after.keySet diff before.keySet
      // a month is affected when its set of data files changed
      val (was, now) = (before.keySet.groupBy(Bench.monthOf), after.keySet.groupBy(Bench.monthOf))
      samples.add("store.months_affected",
        (was.keySet ++ now.keySet).count(m => was.get(m) != now.get(m)).toDouble)
      samples.add("store.write_amp", created.toSeq.map(after).sum.toDouble / rawBytes)
      samples.add("ingest.batch_bytes", rawBytes.toDouble)
      // the keys the upsert added, per doc it parsed
      samples.add("store.dedup_ratio",
        (unique - uniqueBefore).toDouble / samples.get("codec.docs").last)
    }
    docs.unpersist()
    scanned.unpersist()
  }

  // ------------------------------------------------------------- run

  def run(): Int = {
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    val (_, sessionS) = timed {
      spark.sparkContext.setLogLevel("ERROR")
    }
    val corpus = new Corpus(a.seed)
    val lookups = new LookupGen(corpus, a.seed)
    val svc = new Service(a.work.resolve("svc"))
    val (setup, summary) = try {
      val setup = setUp(svc, corpus, lookups)
      (setup, a.workload match {
        case "bulk_ingest" => bulkIngest(svc, setup, lookups)
        case "upsert_stream" => upsertStream(svc, setup, corpus)
        case "read_mix" => readMix(svc, setup, lookups)
      })
    } finally svc.stop()
    try report(sessionS, setup, summary) finally spark.stop()
  }

  /** Generate the main corpus (`Bench.GenerateReps` times: generation is
    * deterministic, so the repetitions only steady its timing) and load
    * it into a fresh store, which stays loaded: in one upload (bulk_ingest)
    * or straight through `store.upsert`, then take the store gate and the
    * cold start of the lookups, one of each kind. Alongside, a service of
    * its own takes the cold start of the other paths the workload
    * measures ([[coldStart]]). */
  private def setUp(svc: Service, corpus: Corpus, lg: LookupGen): Setup = {
    var ds = Vector.empty[Delivery]
    var (zip, raw) = (Array.emptyByteArray, 0L)
    val genReps = (1 to Bench.GenerateReps).map { rep =>
      timed {
        val c = if (rep == Bench.GenerateReps) corpus else new Corpus(a.seed)
        ds = c.deliveries(c.newMessages(sizes.messages))
        val (z, r) = Corpus.zip(ds)
        zip = z
        raw = r
      }._2
    }
    svc.wipeStore()
    val model = new Model
    model.ingest(ds)
    // preload_s is the store write; warmup_s the rest of the phase
    val ((preS, _), phaseS) = timed(Bench.both {
      val (_, writeS) = timed {
        if (sizes.httpPreload) uploadJob(svc, "maildir.zip", zip, ds.size, record = false)
        else svc.store.upsert(parsedDocs(ds))
      }
      // the loaded store's gate and its lookups' cold start, alongside the
      // rest of the cold start
      gate.checkStore(svc.store, model)
      ds.take(Bench.WarmLookups).foreach { d =>
        Seq(lg.key(model), BySender(d.msg.from),
          ByRecipient(d.msg.to.headOption.getOrElse(d.msg.from)),
          ByMailbox(d.slot.user, d.slot.folder), lg.month)
          .foreach(q => lookup(svc.store, q, model, record = false))
      }
      writeS
    }(coldStart()))
    Setup(genReps, preS, ds, zip, raw, model, phaseS - preS)
  }

  /** The JIT and codegen warm-up a long-running service pays once, not per
    * job, taken on a small service of its own so that it overlaps the
    * preload. Its store is written through `store.upsert`; then
    * upsert_stream uploads into it, which runs the ingest path and the
    * upsert's merge branch, and read_mix runs one analytics round on it.
    * bulk_ingest's preload is itself a cold upload, so it needs none. */
  private def coldStart(): Unit = {
    if (a.workload == "bulk_ingest") return
    val warm = new Service(a.work.resolve("warm"))
    try {
      val c = new Corpus(a.seed ^ 0x3a7L)
      val stored = mutable.ArrayBuffer.empty[Msg]
      val model = new Model
      val first = Bench.upload(c, stored, Bench.ColdMessages, 0)
      warm.store.upsert(parsedDocs(first))
      model.ingest(first)
      if (a.workload == "read_mix") analytics(warm.store, model, record = false)
      else {
        val b = Bench.upload(c, stored, Bench.ColdMessages, Bench.ColdMessages / 2)
        uploadJob(warm, "warm.zip", Corpus.zip(b)._1, b.size, record = false)
      }
    } finally warm.stop()
  }

  /** Run rounds until `seconds` have passed, at least one; stops early
    * once the gate has failed. */
  private def window(seconds: Double)(round: => Unit): Int = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var rounds = 0
    while ((rounds == 0 || System.nanoTime() < deadline) && gate.failed == 0) {
      round
      heap.sample()
      rounds += 1
    }
    rounds
  }

  /** A measured job: an upload through HTTP in untraced runs. Traced runs
    * replay it instead, in both halves, so the tracing overhead compares
    * the same code with the tracer off and on. */
  private def job(svc: Service, name: String, zip: Array[Byte], files: Int,
      rawBytes: Long): Unit =
    if (a.trace) tracedJob(svc, name, zip, files, rawBytes)
    else uploadJob(svc, name, zip, files, record = true)

  /** Untraced window, then (traced runs) a traced window of equal length. */
  private def halves: (Double, Double) =
    if (a.trace) (a.seconds / 2.0, a.seconds / 2.0) else (a.seconds.toDouble, 0.0)

  private def bulkIngest(svc: Service, st: Setup, lg: LookupGen): Summary = {
    val model = st.model
    val (plain, traced) = halves
    var bytesRatio = 0.0
    // read-after-write: one lookup of each kind, the key and mailbox of a
    // message held in two mailboxes
    val dup = st.ds.groupBy(_.msg.idx).values.filter(_.size > 1)
      .find(_.head.msg.messageId.isDefined).get
    val m = dup.head.msg
    val reads = Seq(ByKey(m.messageId.get), BySender(m.from),
      ByRecipient(m.to.headOption.getOrElse(m.from)),
      ByMailbox(dup(1).slot.user, dup(1).slot.folder), ByMonth(m.month))
    def round(): Unit = {
      svc.wipeStore()
      job(svc, "maildir.zip", st.zip, st.ds.size, st.raw)
      bytesRatio = svc.storeBytes.toDouble / st.raw
      gate.checkStore(svc.store, model)
      reads.foreach(q => lookup(svc.store, q, model, record = true))
    }
    val r1 = window(plain)(round())
    val t0 = if (a.trace) traceOn() else System.nanoTime()
    val r2 = if (!a.trace) 0 else window(traced)(round())
    // the graph layer is bypassed here: time it once on this store, so
    // every layer has a reading
    if (a.trace) analytics(svc.store, model, record = true)
    summary(svc, bytesRatio, if (a.trace) r2 else r1, t0, st.ds)
  }

  private def upsertStream(svc: Service, st: Setup, corpus: Corpus): Summary = {
    val model = st.model
    // the upload stream is fixed by the seed: each upload is generated
    // when it is due, from the corpus stream that made the preload
    val stored = mutable.ArrayBuffer.from(model.messages)
    val next = Iterator.continually {
      val batch = Bench.upload(corpus, stored, sizes.uploadNew, sizes.uploadResent)
      val (z, r) = Corpus.zip(batch)
      (batch, z, r)
    }
    var ingestedRaw = st.raw.toDouble
    val sent = mutable.ArrayBuffer.empty[Delivery]
    def round(): Unit = {
      val (batch, z, r) = next.next()
      sent ++= batch
      job(svc, "upload.zip", z, batch.size, r)
      model.ingest(batch)
      ingestedRaw += r
      gate.checkStore(svc.store, model)
      // read-after-write, two of each kind: re-delivered keys, the
      // mailboxes they were re-delivered into, senders and recipients of
      // the upload, and the newest months it touched
      val resent = batch.filter(_.redelivered).take(2)
      val authors = Seq(batch.head.msg, batch(batch.size / 2).msg)
      (resent.flatMap(_.msg.messageId).map(ByKey) ++
        resent.map(d => ByMailbox(d.slot.user, d.slot.folder)) ++
        authors.map(m => BySender(m.from)) ++
        authors.map(m => ByRecipient(m.to.headOption.getOrElse(m.from))) ++
        batch.map(_.msg.month).distinct.sorted.takeRight(2).map(ByMonth))
        .foreach(q => lookup(svc.store, q, model, record = true))
    }
    val (plain, traced) = halves
    val r1 = window(plain)(round())
    val bytesRatio = svc.storeBytes / ingestedRaw
    val t0 = if (a.trace) traceOn() else System.nanoTime()
    val r2 = if (!a.trace) 0 else window(traced)(round())
    if (a.trace) analytics(svc.store, model, record = true)
    streamShares = Some(Corpus.shares(sent.toSeq, (ingestedRaw - st.raw).toLong))
    summary(svc, bytesRatio, if (a.trace) r2 else r1, t0, st.ds)
  }

  private def readMix(svc: Service, st: Setup, lg: LookupGen): Summary = {
    val model = st.model
    val bytesRatio = svc.storeBytes.toDouble / st.raw
    def round(): Unit = {
      lg.round(model).foreach(q => lookup(svc.store, q, model, record = true))
      analytics(svc.store, model, record = true)
    }
    val (plain, traced) = halves
    val r1 = window(plain)(round())
    val t0 = if (a.trace) traceOn() else System.nanoTime()
    val r2 = if (!a.trace) 0 else window(traced)(round())
    if (a.trace) {
      // the ingest-side layers are bypassed here: time them once on a
      // small upload into a side store, so every layer has a reading
      val side = new Service(a.work.resolve("side"))
      try {
        val c = new Corpus(a.seed ^ 0x51de)
        val batch = c.deliveries(c.newMessages(sizes.messages / 20))
        val (z, r) = Corpus.zip(batch)
        tracedJob(side, "side.zip", z, batch.size, r)
        val sideModel = new Model
        sideModel.ingest(batch)
        gate.checkStore(side.store, sideModel)
      } finally side.stop()
    }
    summary(svc, bytesRatio, if (a.trace) r2 else r1, t0, st.ds)
  }

  private def summary(svc: Service, bytesRatio: Double,
      rounds: Int, t0: Long, ds: Seq[Delivery]): Summary = {
    val months = Bench.parquetFiles(Paths.get(svc.storeRoot)).keys
      .groupBy(Bench.monthOf).values.map(_.size)
    Summary(bytesRatio, math.max(1, rounds), t0,
      // the tracker logs: the service's, and read_mix's side service's
      Seq("svc", "side").map(d => Bench.countFiles(a.work.resolve(d).resolve("jobs"))).sum,
      if (months.isEmpty) 0 else months.max,
      Bench.du(Paths.get(svc.storeRoot + "_keyidx")),
      parseMicros(ds))
  }

  /** Single-thread `Rfc822Parser.parse` over a fixed sample of the
    * corpus: microseconds per message. */
  private def parseMicros(ds: Seq[Delivery]): Double = {
    if (!a.trace) return 0.0
    val sample = ds.take(400).map(d => (Corpus.render(d), d.slot))
    def pass(): Unit = sample.foreach { case (b, s) =>
      graft.codec.Rfc822Parser.parse(b, s.user, s.folder, s.file) }
    pass()
    val passes = mutable.ArrayBuffer.empty[Double]
    val end = System.nanoTime() + 400000000L
    while (System.nanoTime() < end || passes.size < 3)
      passes += timed(pass())._2 * 1e6 / sample.size
    Stats.median(passes.toSeq)
  }

  // ----------------------------------------------------------- report

  /** The samples behind `op_s`: the workload's main operation. */
  private def opSample: String =
    if (a.workload == "read_mix") "analytics_round_s" else "job_s"

  private def report(sessionS: Double, st: Setup, s: Summary): Int = {
    val setupS = sessionS + st.generateS + st.preloadS + st.warmupS
    val correct = gate.failed == 0 && gate.attempted > 0
    def med(n: String) = samples.get(n) match {
      case Nil => Double.NaN
      case xs => Stats.median(xs)
    }
    val op = opSample
    // (name, value, unit, samples)
    val headline: Seq[(String, Double, String, Int)] = Seq(
      ("setup_s", setupS, "s", 1),
      ("op_s.p50", med(op), "s", samples.get(op).size),
      ("query_ms.p50", med("query_ms"), "ms", samples.get("query_ms").size),
      ("store_bytes_per_input_byte", s.storeBytesPerInput, "ratio", 1),
      ("peak_heap_mb", heap.peakMb, "MB", 1))

    // every figure the benchmark knows, with sample counts, for the log
    val detail = mutable.ArrayBuffer.empty[(String, Any)]
    Seq("job_s", "status_ms", "post_ms", "query_ms", "analytics_round_s").foreach { n =>
      val xs = samples.get(n)
      if (xs.nonEmpty) {
        detail += s"$n.p50" -> Stats.median(xs)
        detail += s"$n.n" -> xs.size
        Stats.tail(xs).foreach { case (p, v, beyond) =>
          detail += s"$n.tail" -> Map("percentile" -> p, "value" -> v,
            "samples_beyond" -> beyond)
        }
      }
    }
    if (samples.get("job_s").nonEmpty)
      detail += "ingest_files_per_s" -> samples.get("job_files").sum / samples.get("job_s").sum
    detail += "failed_ratio" -> gate.failedRatio
    detail += "setup" -> Map("session_s" -> sessionS, "generate_s" -> st.generateS,
      "preload_s" -> st.preloadS, "warmup_s" -> st.warmupS,
      "generate_reps_s" -> st.generateReps)
    def shareMap(x: Shares) = x.productElementNames.zip(x.productIterator).toMap
    detail += "corpus" -> shareMap(Corpus.shares(st.ds, st.raw))
    streamShares.foreach(x => detail += "uploads" -> shareMap(x))
    detail += "samples" -> samples.names.map(n => n -> samples.get(n)).toMap
    detail += "problems" -> gate.problems.toSeq

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) headline.map { case (n, v, u, _) => (n, v, u) }
      else layerMetrics(sessionS, st, s)
    val line = Json.obj(Seq(
      "correct" -> correct, "attempted" -> gate.attempted, "failed" -> gate.failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }
        .toMap))
    val report = Json.obj(Seq("workload" -> a.workload, "seed" -> a.seed,
      "seconds" -> a.seconds, "trace" -> a.trace, "cores" -> cores,
      "end_to_end" -> headline.map { case (n, v, u, k) =>
        n -> Map("value" -> v, "unit" -> u, "samples" -> k) }.toMap,
      "detail" -> detail.toMap) ++
      (if (a.trace) Seq("spans" -> spanJson(s.traceStartNs)) else Nil))
    Files.write(a.out.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      report.getBytes("UTF-8"))
    headline.foreach { case (n, v, u, k) =>
      println(f"[perfbench] $n%-28s $v%14.4f $u%-5s n=$k") }
    detail.foreach { case (n, v) => println(s"[perfbench] $n ${Json.value(v)}") }
    println(line)
    if (correct) 0 else 1
  }

  /** Per-layer figures from the traced window's spans and Spark counters. */
  private def layerMetrics(sessionS: Double, st: Setup,
      s: Summary): Seq[(String, Double, String)] = {
    collector.settle()
    val spans = tracer.all.filter(_.startNs >= s.traceStartNs)
    val self = Tracer.selfNs(spans)
    def med(n: String) = samples.get(n) match {
      case Nil => 0.0
      case xs => Stats.median(xs)
    }
    def spanMed(name: String, scale: Double) = spans.filter(_.name == name) match {
      case Nil => 0.0
      case xs => Stats.median(xs.map(_.wallNs / 1e9 * scale))
    }
    val appends = spans.filter(_.name.startsWith("tracker."))
    val scanBytes = spans.filter(_.name == "scan").map(x => collector.of(tracer.group(x))
      .inputBytes.get.toDouble)
    val out = mutable.ArrayBuffer[(String, Double, String)](
      ("jobs.post_ms", spanMed("post", 1000), "ms"),
      ("jobs.tracker_append_ms", if (appends.isEmpty) 0.0
        else Stats.median(appends.map(_.wallNs / 1e6)), "ms"),
      ("jobs.status_ms", spanMed("status", 1000), "ms"),
      ("jobs.event_files", s.eventFiles.toDouble, "count"),
      ("ingest.stage_s", spanMed("stage", 1), "s"),
      ("ingest.scan_s", spanMed("scan", 1), "s"),
      ("ingest.files_scanned", med("ingest.files_scanned"), "count"),
      ("ingest.bytes_scanned", if (scanBytes.isEmpty) 0.0 else Stats.median(scanBytes), "bytes"),
      ("codec.parse_s", spanMed("parse", 1), "s"),
      ("codec.parse_us_per_msg", s.parseUsPerMsg, "us"),
      ("codec.parsed_ratio", med("codec.docs") / math.max(1.0, med("ingest.files_scanned")),
        "ratio"),
      ("store.merge_s", spanMed("merge", 1), "s"),
      ("store.upsert_s", spanMed("upsert", 1), "s"),
      ("store.months_affected", med("store.months_affected"), "count"),
      ("store.write_amp", med("store.write_amp"), "ratio"),
      ("store.files_per_month.max", s.filesPerMonthMax.toDouble, "count"),
      ("store.keyidx_bytes", s.keyidxBytes.toDouble, "bytes"),
      ("store.dedup_ratio", med("store.dedup_ratio"), "ratio"))
    Seq("by_key", "by_sender", "by_recipient", "by_mailbox", "by_date_range").foreach { k =>
      out += ((s"query.${k}_ms", spanMed(s"lookup.$k", 1000), "ms"))
    }
    val rowsRead = spans.filter(_.name.startsWith("lookup.")).map { x =>
      collector.of(tracer.group(x)).inputBytes.get.toDouble
    }
    val rowsOut = samples.get("query.rows_returned").takeRight(rowsRead.size)
    out += (("query.plan_ms", med("query.plan_ms"), "ms"))
    out += (("query.files_read", med("query.files_read"), "count"))
    out += (("query.bytes_read_per_row_returned",
      if (rowsRead.isEmpty) 0.0
      else Stats.median(rowsRead.zip(rowsOut).map { case (b, r) => b / math.max(1.0, r) }),
      "bytes"))
    Seq("thread_ids", "components", "pagerank", "comm_edges", "mailbox_counts").foreach { g =>
      out += ((s"graph.${g}_s", spanMed(g, 1), "s"))
    }
    val graphRounds = math.max(1, spans.count(_.name == "mailbox_counts"))
    out += (("graph.spark_jobs", spans.filter(_.layer == "graph")
      .map(x => collector.of(tracer.group(x)).jobs.get).sum.toDouble / graphRounds, "count"))
    // Spark counters and self time per layer, per run of what the layer
    // serves: a job, a round of lookups, an analytics round
    val jobs = spans.count(_.name == "job")
    val runsOf = Map("query" -> s.rounds, "graph" -> graphRounds).withDefaultValue(jobs)
    Seq("jobs", "ingest", "codec", "store", "query", "graph").foreach { layer =>
      val ls = spans.filter(_.layer == layer)
      val c = new Counters
      ls.foreach(x => c.add(collector.of(tracer.group(x))))
      val wallS = ls.map(x => self(x.id)).sum / 1e9
      val perRound = 1.0 / math.max(1, runsOf(layer))
      out += ((s"$layer.self_s", wallS * perRound, "s"))
      out += ((s"$layer.tasks", c.tasks.get * perRound, "count"))
      out += ((s"$layer.executor_cpu_s", c.cpuNs.get / 1e9 * perRound, "s"))
      out += ((s"$layer.shuffle_write_bytes", c.shuffleWriteBytes.get * perRound, "bytes"))
      out += ((s"$layer.core_util",
        if (wallS == 0) 0.0 else c.runMs.get / 1e3 / (wallS * cores), "ratio"))
    }
    out += (("setup.session_s", sessionS, "s"))
    out += (("setup.generate_s", st.generateS, "s"))
    out += (("setup.preload_s", st.preloadS, "s"))
    out += (("setup.warmup_s", st.warmupS, "s"))
    // the same code timed in both halves: the analytics round, or the
    // replayed job
    val overheadOf = if (a.workload == "read_mix") "analytics_round_s" else "replay_s"
    val (plain, traced) = (samples.get(overheadOf), samples.get(s"$overheadOf.traced"))
    out += (("trace.overhead_ratio", if (plain.isEmpty || traced.isEmpty) 0.0
      else Stats.median(traced) / Stats.median(plain) - 1, "ratio"))
    out.toSeq
  }

  private def spanJson(t0: Long): Seq[Map[String, Any]] = {
    val spans = tracer.all.filter(_.startNs >= t0)
    val self = Tracer.selfNs(spans)
    spans.map { x =>
      val c = collector.of(tracer.group(x))
      Map("id" -> x.id, "name" -> x.name, "layer" -> x.layer, "parent" -> x.parent,
        "request" -> x.request, "start_s" -> (x.startNs - t0) / 1e9,
        "end_s" -> (x.endNs - t0) / 1e9, "self_s" -> self(x.id) / 1e9,
        "jobs" -> c.jobs.get, "stages" -> c.stages.get, "tasks" -> c.tasks.get,
        "run_s" -> c.runMs.get / 1e3, "cpu_s" -> c.cpuNs.get / 1e9,
        "gc_s" -> c.gcMs.get / 1e3, "input_bytes" -> c.inputBytes.get,
        "shuffle_read_bytes" -> c.shuffleReadBytes.get,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.get,
        "spill_bytes" -> c.spillBytes.get, "output_bytes" -> c.outputBytes.get)
    }
  }
}

object Bench {
  val PollMs = 1000L
  /** Layer tag of diagnostic spans, which no layer's sums include. */
  val DiagLayer = "diag"
  val GenerateReps = 3
  /** Warm-up lookups per kind. */
  val WarmLookups = 1
  /** New messages per upload of the cold start. */
  val ColdMessages = 60

  /** Run `a` on this thread and `b` on another, at once. */
  def both[A, B](a: => A)(b: => B): (A, B) = {
    val f = java.util.concurrent.CompletableFuture.supplyAsync(() => b)
    val ra = try a catch { case e: Throwable => f.join(); throw e }
    (ra, f.join())
  }

  /** One upsert_stream upload: `fresh` new messages, recent months
    * favoured, and `resent` re-deliveries of `stored` ones. */
  def upload(c: Corpus, stored: mutable.ArrayBuffer[Msg], fresh: Int,
      resent: Int): Vector[Delivery] = {
    val msgs = c.newMessages(fresh, recency = 1.5)
    val batch = c.deliveries(msgs) ++ c.redeliveries(stored.toIndexedSeq, resent)
    stored ++= msgs
    batch
  }

  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def countFiles(p: Path): Int =
    if (!Files.exists(p)) 0
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(Files.isRegularFile(_))
      finally s.close()
    }

  /** Parquet data files of a store, path relative to it → size. */
  def parquetFiles(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .map(f => root.relativize(f).toString -> Files.size(f)).toMap
      finally s.close()
    }

  def monthOf(rel: String): String = rel.takeWhile(_ != '/')
}

/** Peak heap occupancy after GC: the live heap right after a full
  * collection, sampled at the end of every round (outside any timed
  * operation), so it reads what the service retains rather than when the
  * collector happened to run. The first collection lets Spark's cleaner
  * drop the blocks of collected RDDs, shuffles and broadcasts; the second
  * frees them. */
final class HeapWatch {
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}
