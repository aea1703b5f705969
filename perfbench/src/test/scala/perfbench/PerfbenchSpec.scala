package perfbench

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.EmailIngest
import graft.store.PartitionedEmailStore

/** Self-tests of the benchmark's own logic: generator determinism, the
  * tail rule, and that the gate catches a planted wrong row. */
class PerfbenchSpec extends AnyFunSuite {

  private def corpus(seed: Long): (Array[Byte], String) = {
    val c = new Corpus(seed)
    val first = c.deliveries(c.newMessages(300))
    val model = new Model
    model.ingest(first)
    val upload = c.deliveries(c.newMessages(20)) ++ c.redeliveries(model.messages, 10)
    model.ingest(upload)
    (Corpus.zip(first ++ upload)._1, model.canonical)
  }

  test("the same seed gives a byte-identical corpus and manifest; another seed differs") {
    val (zipA, manA) = corpus(7)
    val (zipB, manB) = corpus(7)
    val (zipC, manC) = corpus(8)
    assert(java.util.Arrays.equals(zipA, zipB))
    assert(manA == manB)
    assert(!java.util.Arrays.equals(zipA, zipC))
    assert(manA != manC)
  }

  test("generated inputs carry the advertised properties") {
    val c = new Corpus(3)
    val ds = c.deliveries(c.newMessages(2000))
    val sh = Corpus.shares(ds, 1L)
    assert(sh.months == Corpus.Months)
    assert(sh.dupShare > 0.15 && sh.dupShare < 0.35)
    assert(sh.multipartShare > 0.1 && sh.multipartShare < 0.2)
    assert(sh.noIdShare > 0.01 && sh.noIdShare < 0.06)
    assert(sh.latin1Share > 0.02 && sh.latin1Share < 0.07)
    assert(sh.replyShare > 0.2)
    val resent = c.redeliveries(ds.map(_.msg).distinctBy(_.idx), 50)
    assert(resent.forall(_.redelivered))
  }

  test("the tail is the highest percentile with at least ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    val (p, v, beyond) = Stats.tail(xs).get
    assert(p == 90 && beyond == 10 && v > 90 && v < 91)
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    val (p20, _, b20) = Stats.tail((1 to 20).map(_.toDouble)).get
    assert(p20 == 50 && b20 == 10)
    assert(Stats.tail((1 to 2000).map(_.toDouble)).get._1 == 99)
  }

  test("a planted wrong row is caught by the gate and counted as failed") {
    val spark = graft.Sessions.local("2")
    val dir = Files.createTempDirectory("perfbench-gate")
    try {
      val c = new Corpus(5)
      val ds = c.deliveries(c.newMessages(120))
      val base = dir.resolve("maildir")
      ds.foreach { d =>
        val f = base.resolve(d.slot.entryName)
        Files.createDirectories(f.getParent)
        Files.write(f, Corpus.render(d))
      }
      val store = new PartitionedEmailStore(spark, dir.resolve("store").toString)
      store.upsert(EmailIngest.docs(spark, EmailIngest.ingest(spark, base.toString)))
      val model = new Model
      model.ingest(ds)

      val clean = new Gate
      clean.checkStore(store, model)
      val key = model.keys.head
      clean.verifyLookup(ByKey(key), Lookup.frame(store, ByKey(key)).collect(), model)
      assert(clean.failed == 0 && clean.attempted == 6, clean.problems)

      // plant a second, differently-subjected row under an existing key
      val planted = store.read().filter(col("dedupe_key") === key)
        .withColumn("subject", lit("planted"))
      planted.write.mode("append").partitionBy("date_month")
        .parquet(dir.resolve("store").toString)
      val gate = new Gate
      gate.checkStore(store, model)
      gate.verifyLookup(ByKey(key), Lookup.frame(store, ByKey(key)).collect(), model)
      assert(gate.failed >= 3, gate.problems)
      assert(gate.problems.exists(_.startsWith("duplicateKeys")))
      assert(gate.failedRatio > 0)
    } finally {
      graft.Fs.deleteTree(dir)
      spark.stop()
    }
  }
}
