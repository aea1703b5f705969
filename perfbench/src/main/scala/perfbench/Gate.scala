package perfbench

import java.sql.Timestamp
import java.time.{YearMonth, ZoneOffset}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.query.EmailQueries
import graft.store.{EmailStore, PartitionedEmailStore}

/** One Q1–Q5 lookup. */
sealed trait Lookup { def kind: String }
final case class ByKey(key: String) extends Lookup { val kind = "by_key" }
final case class BySender(addr: String) extends Lookup { val kind = "by_sender" }
final case class ByRecipient(addr: String) extends Lookup { val kind = "by_recipient" }
final case class ByMailbox(user: String, folder: String) extends Lookup {
  val kind = "by_mailbox" }
final case class ByMonth(month: String) extends Lookup { val kind = "by_date_range" }

object Lookup {
  /** The lookup as the query surface builds it over the store. */
  def frame(store: PartitionedEmailStore, q: Lookup): DataFrame = q match {
    case ByKey(k) => EmailQueries.byKey(store.read(), k)
    case BySender(s) => EmailQueries.bySender(store.read(), s)
    case ByRecipient(r) => EmailQueries.byRecipient(store.read(), r)
    case ByMailbox(u, f) => EmailQueries.byMailbox(store.read(), u, f)
    case ByMonth(m) =>
      val ym = YearMonth.parse(m)
      def ts(y: YearMonth) = Timestamp.from(
        y.atDay(1).atStartOfDay(ZoneOffset.UTC).toInstant)
      store.readDateRange(ts(ym), ts(ym.plusMonths(1)))
  }
}

/** The correctness gate: every job and query result is compared with the
  * manifest. Each comparison is one attempted operation; a mismatch (or
  * an operation that threw) counts as failed. */
final class Gate {
  var attempted = 0L
  var failed = 0L
  val problems: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def check(what: String, ok: Boolean, detail: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) {
      failed += 1
      if (problems.size < 20) problems += s"$what: $detail"
    }
    ok
  }

  def failedRatio: Double = failed.toDouble / math.max(1L, attempted)

  /** After a job: unique count, `EmailStore.duplicateKeys` empty, and the
    * mailbox census. */
  def checkStore(store: PartitionedEmailStore, model: Model): Unit = {
    val df = store.read()
    val n = df.count()
    check("unique count", n == model.uniqueCount, s"store $n, manifest ${model.uniqueCount}")
    val dups = EmailStore.duplicateKeys(df).limit(3).collect()
    check("duplicateKeys empty", dups.isEmpty, dups.mkString(","))
    val census = EmailQueries.mailboxCounts(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = model.census
    check("mailbox census", census == want,
      s"${(census.toSet diff want.toSet).take(3)} vs ${(want.toSet diff census.toSet).take(3)}")
  }

  /** A lookup's rows: the row count, and for a key lookup the
    * first-writer subject and the mailbox set-union. */
  def verifyLookup(q: Lookup, rows: Array[Row], model: Model): Unit = {
    val want: Long = q match {
      case ByKey(k) => model.byKey(k).fold(0L)(_ => 1L)
      case BySender(s) => model.bySender(s)
      case ByRecipient(r) => model.byRecipient(r)
      case ByMailbox(u, f) => model.byMailbox(u, f)
      case ByMonth(m) => model.byMonth(m)
    }
    check(s"${q.kind} rows", rows.length == want, s"$q: ${rows.length} rows, manifest $want")
    q match {
      case ByKey(k) if rows.length == 1 =>
        val (subject, slots) = model.byKey(k).get
        val r = rows.head
        check("first-writer subject", r.getAs[String]("subject") == subject,
          s"$k: ${r.getAs[String]("subject")} vs $subject")
        val got = r.getAs[Seq[Row]]("mailboxes")
          .map(m => Slot(m.getString(0), m.getString(1), m.getString(2))).toSet
        check("mailbox set-union", got == slots, s"$k: $got vs $slots")
      case _ => ()
    }
  }
}
