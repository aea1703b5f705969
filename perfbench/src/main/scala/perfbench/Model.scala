package perfbench

import scala.collection.mutable

/** The manifest: what the store must hold after a sequence of uploads,
  * derived from the generator's own records and never from the engine's
  * parser or store. It applies the reference's merge contract
  * independently: one document per logical message, first writer wins
  * every field but the mailbox list, mailboxes set-union. */
final class Model {

  private final class Doc(val msg: Msg) {
    val slots: mutable.LinkedHashSet[Slot] = mutable.LinkedHashSet.empty
  }

  private val docs = mutable.LinkedHashMap.empty[Int, Doc]
  private val byId = mutable.HashMap.empty[String, Doc]

  /** Apply one upload. Within an upload every copy of a new message is
    * identical, and re-delivered copies only hit stored messages, so
    * the first writer of a message is always its original rendering. */
  def ingest(ds: Seq[Delivery]): Unit = ds.foreach { d =>
    val doc = docs.getOrElseUpdate(d.msg.idx, {
      val nd = new Doc(d.msg)
      d.msg.messageId.foreach(byId(_) = nd)
      nd
    })
    doc.slots += d.slot
  }

  def messages: IndexedSeq[Msg] = docs.valuesIterator.map(_.msg).toIndexedSeq
  def uniqueCount: Long = docs.size.toLong
  def contains(idx: Int): Boolean = docs.contains(idx)

  /** Mailbox census: (user, folder) → mailbox entries, the shape of
    * `EmailQueries.mailboxCounts`. */
  def census: Map[(String, String), Long] =
    docs.valuesIterator.flatMap(_.slots.iterator.map(s => (s.user, s.folder)))
      .toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)

  def bySender(addr: String): Long = docs.valuesIterator.count(_.msg.from == addr).toLong
  def byRecipient(addr: String): Long =
    docs.valuesIterator.count(_.msg.to.contains(addr)).toLong
  def byMailbox(user: String, folder: String): Long =
    docs.valuesIterator.count(_.slots.exists(s =>
      s.user == user && s.folder == folder)).toLong
  def byMonth(month: String): Long =
    docs.valuesIterator.count(_.msg.month == month).toLong

  /** First-writer subject and mailbox set of a Message-ID key. */
  def byKey(key: String): Option[(String, Set[Slot])] =
    byId.get(key).map(d => (d.msg.subject, d.slots.toSet))

  def keys: IndexedSeq[String] = byId.keys.toIndexedSeq.sorted

  /** Communication edges (from → each distinct to/cc/bcc address) with
    * message counts, the shape of `EmailQueries.communicationEdges`. */
  def commEdges: Map[(String, String), Long] =
    docs.valuesIterator.flatMap { d =>
      val m = d.msg
      (m.to ++ m.cc ++ m.bcc).distinct.map(r => (m.from, r))
    }.toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)

  /** Reply threads: components over the union of In-Reply-To and
    * References links whose target is stored. */
  def threadCount: Long = {
    val uf = new UnionFind
    docs.valuesIterator.foreach { d =>
      uf.find(d.msg.idx)
      (d.msg.inReplyTo.toSeq ++ d.msg.references).foreach { r =>
        byId.get(r).foreach(t => uf.union(d.msg.idx, t.msg.idx))
      }
    }
    uf.components.toLong
  }

  /** Components of the undirected communication graph over addresses. */
  def commComponents: (Long, Long) = {
    val ids = mutable.HashMap.empty[String, Int]
    def id(a: String) = ids.getOrElseUpdate(a, ids.size)
    val uf = new UnionFind
    commEdges.keys.foreach { case (s, d) => uf.union(id(s), id(d)) }
    (ids.size.toLong, uf.components.toLong)
  }

  /** A canonical text form, for the byte-identity self-test. */
  def canonical: String = {
    val sb = new StringBuilder
    docs.valuesIterator.foreach { d =>
      val m = d.msg
      sb.append(m.idx).append('|').append(m.messageId.getOrElse("-"))
        .append('|').append(m.from).append('|').append(m.to.mkString(","))
        .append('|').append(m.month).append('|').append(m.subject).append('|')
        .append(d.slots.map(_.entryName).toSeq.sorted.mkString(",")).append('\n')
    }
    sb.append(threadCount).append('\n')
    sb.toString
  }
}

final class UnionFind {
  private val parent = mutable.HashMap.empty[Int, Int]
  def find(x: Int): Int = {
    val p = parent.getOrElseUpdate(x, x)
    if (p == x) x
    else { val r = find(p); parent(x) = r; r }
  }
  def union(a: Int, b: Int): Unit = {
    val ra = find(a); val rb = find(b)
    if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
  }
  def components: Int = parent.keysIterator.count(x => find(x) == x)
}
