package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate, ZoneOffset, ZonedDateTime}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.collection.mutable

/** One hierarchy slot a message file is written to: `<user>/<folder>/<file>`. */
final case class Slot(user: String, folder: String, file: String) {
  def entryName: String = s"$user/$folder/$file"
}

/** One logical email, before it is rendered to RFC-822 bytes. The fields
  * are exactly what the manifest needs; the rendered file carries more
  * (X- headers, MIME structure) so the parser does realistic work. */
final case class Msg(
    idx: Int,
    messageId: Option[String],
    from: String,
    to: Vector[String],
    cc: Vector[String],
    bcc: Vector[String],
    epochSec: Long,
    offsetMin: Int,
    subject: String,
    body: String,
    latin1: Boolean,
    attachment: Option[(String, Array[Byte])],
    inReplyTo: Option[String],
    references: Vector[String]) {
  def month: String = Corpus.monthOf(epochSec)
}

/** One physical file of an upload: a message rendered into a slot. A
  * re-delivery renders an already stored message with a different
  * subject (and sometimes a shifted date), which the store must ignore:
  * the first writer wins. */
final case class Delivery(msg: Msg, slot: Slot, subject: String,
    epochSec: Long) {
  def redelivered: Boolean = subject != msg.subject
}

/** Input-property shares measured on what was generated, so a claim that
  * a change helps only inputs with some property can cite them. */
final case class Shares(files: Int, messages: Int, bytes: Long,
    months: Int, users: Int, dupShare: Double, multipartShare: Double,
    noIdShare: Double, latin1Share: Double, replyShare: Double,
    redeliveredShare: Double)

/** Seeded, Enron-shaped maildir generator.
  *
  * Shape: ~150 mailbox owners, Zipf-skewed senders and recipients, to/cc/
  * bcc lists, 36 months of dates with a recency skew, lognormal body
  * lengths, 1 in 7 multipart with a base64 attachment, a few percent with
  * no Message-ID (the store keys those by content hash) or with latin-1
  * body bytes, In-Reply-To/References chains, and sent+inbox copies of the
  * same message. Everything derives from the seed through one
  * [[SplittableRandom]], so the same seed yields byte-identical files. */
final class Corpus(seed: Long, val nUsers: Int = 150) {
  import Corpus._

  private val rnd = new SplittableRandom(seed)

  val users: Vector[String] = (0 until nUsers).map { i =>
    val first = FirstNames(i % FirstNames.length)
    val last = LastNames((i / FirstNames.length + i * 7) % LastNames.length)
    s"$last-${first.head}$i"
  }.toVector
  def address(user: String): String = s"${user.replace('-', '.')}@enron.com"
  private val userAddrs = users.map(address)
  private val external = (0 until 60).map(i => s"contact$i@partner${i % 9}.com")
    .toVector
  private val userOfAddr: Map[String, String] =
    users.map(u => address(u) -> u).toMap

  private val zipfUsers = new Zipf(nUsers, 1.1)
  private val fileCounter = mutable.HashMap.empty[(String, String), Int]
  private val messages = mutable.ArrayBuffer.empty[Msg]
  private var nextIdx = 0

  def zipfUser(r: SplittableRandom = rnd): String = users(zipfUsers.sample(r))

  private def pickSender(): String =
    if (rnd.nextDouble() < 0.12) external(rnd.nextInt(external.length))
    else userAddrs(zipfUsers.sample(rnd))

  private def pickRecipients(n: Int, exclude: String): Vector[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    var guard = 0
    while (out.size < n && guard < 50) {
      val a =
        if (rnd.nextDouble() < 0.1) external(rnd.nextInt(external.length))
        else userAddrs(zipfUsers.sample(rnd))
      if (a != exclude) out += a
      guard += 1
    }
    out.toVector
  }

  /** A month index in [0, 36) skewed toward recent months: weight grows
    * by `recency` per month. */
  private def pickEpoch(recency: Double): Long = {
    val weights = (0 until Months).map(m => math.pow(recency, m.toDouble))
    var u = rnd.nextDouble() * weights.sum
    var m = 0
    while (m < Months - 1 && u >= weights(m)) { u -= weights(m); m += 1 }
    val start = Start.plusMonths(m.toLong)
    val days = start.lengthOfMonth()
    start.atStartOfDay(ZoneOffset.UTC).toEpochSecond +
      rnd.nextLong(days.toLong * 86400L)
  }

  private def body(latin1: Boolean): String = {
    // lognormal length: median ~650 chars, long tail capped at 24 KiB
    val len = math.min(24000, math.max(40,
      math.exp(6.5 + 0.9 * rnd.nextGaussian()).toInt))
    val sb = new StringBuilder(len + 16)
    var line = 0
    while (sb.length < len) {
      sb.append(Words(rnd.nextInt(Words.length)))
      line += 1
      if (line % 12 == 0) sb.append("\n") else sb.append(' ')
    }
    if (latin1) sb.append("\nRésumé attaché, café à 9h.\n")
    sb.toString
  }

  /** Generate `n` new logical messages. `replyShare` of them reply to an
    * earlier message that has a Message-ID. */
  def newMessages(n: Int, recency: Double = 1.04,
      replyShare: Double = 0.3): Vector[Msg] = {
    val out = Vector.newBuilder[Msg]
    (0 until n).foreach { _ =>
      val idx = nextIdx
      nextIdx += 1
      val noId = rnd.nextDouble() < 0.03
      val from = pickSender()
      val nTo = 1 + (if (rnd.nextDouble() < 0.35) rnd.nextInt(4) else 0)
      val to = pickRecipients(nTo, from)
      val cc = if (rnd.nextDouble() < 0.3) pickRecipients(1 + rnd.nextInt(3), from)
               else Vector.empty
      val bcc = if (rnd.nextDouble() < 0.1) pickRecipients(1, from)
                else Vector.empty
      val parent =
        if (messages.nonEmpty && rnd.nextDouble() < replyShare) {
          // reply to a recent message, so threads stay local in time
          val lo = math.max(0, messages.length - 400)
          val p = messages(lo + rnd.nextInt(messages.length - lo))
          p.messageId.map(_ => p)
        } else None
      // a reply follows its parent, or lands at its own (recency-skewed)
      // date when that is later: old threads get revived
      val own = pickEpoch(recency)
      val epoch = parent.fold(own)(p =>
        math.max(own, p.epochSec + 600 + rnd.nextLong(3L * 86400L)))
      val subject = parent.fold(
        s"${Topics(rnd.nextInt(Topics.length))} ${idx % 997}")(p =>
        if (p.subject.startsWith("RE: ")) p.subject else "RE: " + p.subject)
      val latin1 = rnd.nextDouble() < 0.04
      val attachment =
        if (rnd.nextInt(7) == 0) {
          val bytes = new Array[Byte](300 + rnd.nextInt(3000))
          rnd.nextBytes(bytes)
          Some((s"doc$idx.${Exts(rnd.nextInt(Exts.length))}", bytes))
        } else None
      val msgId =
        if (noId) None
        else Some(s"<${10000000 + idx}.${seed & 0xffff}${rnd.nextInt(1 << 30)}" +
          s".JavaMail.evans@thyme>")
      val m = Msg(idx, msgId, from, to, cc, bcc,
        math.min(epoch, End - 1), if (rnd.nextBoolean()) -420 else -480,
        subject, body(latin1), latin1, attachment,
        parent.flatMap(_.messageId),
        parent.toVector.flatMap(p => p.references ++ p.messageId).takeRight(6))
      messages += m
      out += m
    }
    out.result()
  }

  private def nextFile(user: String, folder: String): Slot = {
    val k = (user, folder)
    val n = fileCounter.getOrElse(k, 0) + 1
    fileCounter(k) = n
    Slot(user, folder, s"$n.")
  }

  /** The slots a new message lands in: its primary mailbox, plus (for
    * `dupShare` of messages) the other side of the exchange, so the same
    * message sits in the sender's sent folder and a recipient's inbox. */
  def deliveries(msgs: Seq[Msg], dupShare: Double = 0.25): Vector[Delivery] =
    msgs.iterator.flatMap { m =>
      val sender = userOfAddr.get(m.from)
      val rcpt = m.to.flatMap(userOfAddr.get).headOption
      val primary: Slot = (sender, rcpt) match {
        case (Some(s), _) if rnd.nextBoolean() || rcpt.isEmpty =>
          nextFile(s, if (rnd.nextInt(5) == 0) "all_documents" else "sent")
        case (_, Some(r)) =>
          nextFile(r, InboxFolders(rnd.nextInt(InboxFolders.length)))
        case _ =>
          // external sender to external recipients: filed under a
          // Zipf-chosen user's notes
          nextFile(zipfUser(), "notes_inbox")
      }
      val second: Option[Slot] =
        if (rnd.nextDouble() >= dupShare) None
        else if (primary.folder == "sent" || primary.folder == "all_documents")
          rcpt.orElse(Some(zipfUser())).filter(_ != primary.user)
            .map(nextFile(_, "inbox"))
        else sender.orElse(Some(zipfUser())).filter(_ != primary.user)
          .map(nextFile(_, "sent"))
      (primary +: second.toVector).map(s => Delivery(m, s, m.subject, m.epochSec))
    }.toVector

  /** Re-deliveries of already stored messages into new slots. The copy
    * carries a changed subject, and a third of them a date one month
    * later, so a store that lets the later writer win, or that misses the
    * month already holding the key, is caught. Messages without a
    * Message-ID are never re-delivered: a changed copy would hash to a
    * new content key. */
  def redeliveries(stored: IndexedSeq[Msg], n: Int): Vector[Delivery] = {
    val withId = stored.filter(_.messageId.isDefined).sortBy(m => (m.epochSec, m.idx))
    Vector.fill(n) {
      // favour recently dated messages, as re-sent mail mostly is
      val i = withId.length - 1 - math.min(withId.length - 1,
        (math.abs(rnd.nextGaussian()) * withId.length / 12).toInt)
      val m = withId(i)
      val shift = if (rnd.nextInt(3) == 0) 31L * 86400L else 0L
      Delivery(m, nextFile(zipfUser(), "inbox"), m.subject + " [resent]",
        math.min(m.epochSec + shift, End - 1))
    }
  }
}

object Corpus {
  val Months = 36
  val Start: LocalDate = LocalDate.of(1999, 1, 1)
  val End: Long = Start.plusMonths(Months.toLong)
    .atStartOfDay(ZoneOffset.UTC).toEpochSecond

  private val MonthFmt = DateTimeFormatter.ofPattern("yyyy-MM")
  def monthOf(epochSec: Long): String =
    MonthFmt.format(Instant.ofEpochSecond(epochSec).atZone(ZoneOffset.UTC))

  private val DateFmt =
    DateTimeFormatter.ofPattern("EEE, d MMM yyyy HH:mm:ss Z", Locale.US)

  private val FirstNames = Vector("john", "sara", "mark", "lisa", "paul",
    "kate", "jeff", "anne", "greg", "mary", "phil", "dana", "tom", "rita",
    "vince", "kim", "steve", "jane", "chris", "sally")
  private val LastNames = Vector("lay", "skilling", "kaminski", "shackleton",
    "dasovich", "kean", "mann", "jones", "taylor", "germany", "farmer",
    "beck", "symes", "scott", "nemec", "perlingiere", "lenhart", "sanders")
  private val InboxFolders = Vector("inbox", "inbox", "inbox", "deleted_items",
    "discussion_threads", "notes_inbox")
  private val Topics = Vector("Gas forecast", "Meeting", "Deal ticket",
    "Re-org", "California update", "Curve review", "Contract draft",
    "Expense report", "Trading limits", "Weekly report", "Storage",
    "Pipeline capacity")
  private val Exts = Vector("xls", "doc", "pdf", "ppt")
  private val Words = Vector("the", "gas", "power", "deal", "price", "curve",
    "please", "review", "attached", "contract", "volume", "california",
    "meeting", "tomorrow", "schedule", "update", "thanks", "trading", "desk",
    "risk", "position", "book", "storage", "pipeline", "capacity", "term",
    "sheet", "counterparty", "credit", "approval", "regards", "call", "me",
    "about", "this", "week", "report", "numbers", "forward", "basis")

  /** The RFC-822 bytes of one delivery, Enron-export style. */
  def render(d: Delivery): Array[Byte] = {
    val m = d.msg
    val date = ZonedDateTime.ofInstant(Instant.ofEpochSecond(d.epochSec),
      ZoneOffset.ofTotalSeconds(m.offsetMin * 60))
    val h = new StringBuilder(512)
    def header(k: String, v: String): Unit =
      h.append(k).append(": ").append(v).append("\r\n")
    m.messageId.foreach(header("Message-ID", _))
    header("Date", DateFmt.format(date) + (if (m.offsetMin == -420) " (PDT)"
      else " (PST)"))
    header("From", m.from)
    if (m.to.nonEmpty) header("To", foldList(m.to))
    header("Subject", d.subject)
    if (m.cc.nonEmpty) header("Cc", foldList(m.cc))
    if (m.bcc.nonEmpty) header("Bcc", foldList(m.bcc))
    m.inReplyTo.foreach(header("In-Reply-To", _))
    if (m.references.nonEmpty) header("References", m.references.mkString(" "))
    header("Mime-Version", "1.0")
    header("X-From", m.from.takeWhile(_ != '@'))
    header("X-To", m.to.map(_.takeWhile(_ != '@')).mkString(", "))
    header("X-Folder", s"\\${d.slot.user}\\${d.slot.folder}")
    header("X-Origin", d.slot.user.toUpperCase(Locale.ROOT))
    header("X-FileName", s"${d.slot.user}.nsf")
    val charset = if (m.latin1) StandardCharsets.ISO_8859_1 else StandardCharsets.UTF_8
    val bodyText = m.body.replace("\n", "\r\n")
    m.attachment match {
      case None =>
        // latin-1 messages declare no charset, as much real mail does
        header("Content-Type", if (m.latin1) "text/plain" else
          "text/plain; charset=us-ascii")
        header("Content-Transfer-Encoding", "7bit")
        h.append("\r\n")
        concat(h.toString.getBytes(StandardCharsets.ISO_8859_1),
          bodyText.getBytes(charset))
      case Some((name, bytes)) =>
        val b = s"----=_Part_${m.idx}"
        header("Content-Type", s"""multipart/mixed; boundary="$b"""")
        h.append("\r\n")
        val head = h.toString + s"--$b\r\nContent-Type: text/plain\r\n" +
          "Content-Transfer-Encoding: 7bit\r\n\r\n"
        val tail = s"\r\n--$b\r\n" +
          s"""Content-Type: application/octet-stream; name="$name"""" + "\r\n" +
          s"""Content-Disposition: attachment; filename="$name"""" + "\r\n" +
          "Content-Transfer-Encoding: base64\r\n\r\n" +
          java.util.Base64.getMimeEncoder.encodeToString(bytes) +
          s"\r\n--$b--\r\n"
        concat(head.getBytes(StandardCharsets.ISO_8859_1),
          bodyText.getBytes(charset),
          tail.getBytes(StandardCharsets.ISO_8859_1))
    }
  }

  private def foldList(addrs: Vector[String]): String =
    addrs.grouped(3).map(_.mkString(", ")).mkString(",\r\n\t")

  private def concat(parts: Array[Byte]*): Array[Byte] = {
    val out = new ByteArrayOutputStream(parts.map(_.length).sum)
    parts.foreach(p => out.write(p))
    out.toByteArray
  }

  /** A zip of the deliveries with fixed entry times, so equal inputs give
    * byte-equal archives. Returns (zip bytes, uncompressed bytes). */
  def zip(ds: Seq[Delivery]): (Array[Byte], Long) = {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    zos.setLevel(1)
    var raw = 0L
    ds.foreach { d =>
      val e = new ZipEntry(d.slot.entryName)
      e.setTime(0L)
      zos.putNextEntry(e)
      val bytes = render(d)
      raw += bytes.length
      zos.write(bytes)
      zos.closeEntry()
    }
    zos.close()
    (bos.toByteArray, raw)
  }

  /** Measured shares of the input properties over `ds`. */
  def shares(ds: Seq[Delivery], bytes: Long): Shares = {
    val msgs = ds.map(_.msg).distinctBy(_.idx)
    val copies = ds.groupBy(_.msg.idx).map(_._2.size)
    def share(n: Int, of: Int) = if (of == 0) 0.0 else n.toDouble / of
    Shares(ds.size, msgs.size, bytes,
      msgs.map(_.month).distinct.size,
      ds.map(_.slot.user).distinct.size,
      share(copies.count(_ > 1), msgs.size),
      share(msgs.count(_.attachment.isDefined), msgs.size),
      share(msgs.count(_.messageId.isEmpty), msgs.size),
      share(msgs.count(_.latin1), msgs.size),
      share(msgs.count(_.inReplyTo.isDefined), msgs.size),
      share(ds.count(_.redelivered), ds.size))
  }
}

/** Zipf(n, s) sampler over ranks [0, n) by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k.toDouble, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
