package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators for the three workloads, with their ground truth.
  *
  * Plain Scala, no Spark: the expected answers are computed here from the
  * generated rows, independently of the engine under test. Every generator
  * is a pure function of `(seed, shard, index)`, so one seed always yields
  * the same inputs whatever the run length.
  */
object Gen {

  val Day0Ms: Long = 1704067200000L // 2024-01-01T00:00:00Z
  val HourMs: Long = 3600L * 1000L

  def rng(seed: Long, parts: Long*): SplittableRandom =
    new SplittableRandom(parts.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, p) => (h ^ p) * 0xBF58476D1CE4E5B9L + 0x632BE59BD9B4E7BL))

  private val EventTypes = Vector("page_view", "click", "purchase", "signup", "search", "share")
  private val Platforms = Vector("ios", "android", "web")
  private val Plans = Vector("free", "pro", "team", "enterprise")
  private val Countries = Vector("US", "DE", "IN", "BR", "JP", "FR", "NG", "CA")

  // ---------------------------------------------------------------- cdf_export

  final case class EventRow(
      eventId: Long, userId: Long, eventType: String, tsMs: Long,
      value: Double, platform: String, changeType: String)

  final case class EventCommit(version: Long, commitTsMs: Long, rows: Vector[EventRow]) {
    /** Rows an EVENT export keeps: inserts only. */
    def inserts: Long = rows.count(_.changeType == "insert").toLong
  }

  /** One shard's commit history for the `cdf_export` events table. */
  def eventHistory(seed: Long, shard: Int, commits: Int, rowsPerCommit: Int): Vector[EventCommit] = {
    val r = rng(seed, 1, shard)
    var nextId = shard.toLong * 100000000L
    val live = mutable.ArrayBuffer.empty[EventRow]
    (1 to commits).toVector.map { v =>
      val commitTs = Day0Ms + v * HourMs
      val n = (rowsPerCommit * (0.9 + 0.2 * r.nextDouble())).toInt
      val rows = mutable.ArrayBuffer.empty[EventRow]
      while (rows.size < n) {
        val p = r.nextDouble()
        if (p < 0.82 || live.isEmpty) {
          val e = EventRow(nextId, r.nextLong(50000L), EventTypes(r.nextInt(EventTypes.size)),
            commitTs - r.nextLong(HourMs), math.rint(r.nextDouble() * 1e4) / 100,
            Platforms(r.nextInt(Platforms.size)), "insert")
          nextId += 1
          live += e
          rows += e
        } else if (p < 0.95) {
          // a corrected event: pre-image + post-image pair
          val i = r.nextInt(live.size)
          val old = live(i)
          val upd = old.copy(value = math.rint(r.nextDouble() * 1e4) / 100)
          live(i) = upd
          rows += old.copy(changeType = "update_preimage")
          rows += upd.copy(changeType = "update_postimage")
        } else {
          val i = r.nextInt(live.size)
          rows += live(i).copy(changeType = "delete")
          live(i) = live(live.size - 1)
          live.remove(live.size - 1)
        }
      }
      EventCommit(v, commitTs, rows.toVector)
    }
  }

  /** `cdf_export` batch schedule: batch `i` exports a `width`-commit window
    * of shard `i % shards`, sliding one commit per visit across its history.
    */
  def cdfWindow(i: Int, shards: Int, commits: Int, width: Int): (Int, Long, Long) = {
    val slots = commits - width + 1
    val start = 1L + (i / shards) % slots
    (i % shards, start, start + width - 1)
  }

  // ------------------------------------------------------------- ingest_export

  final case class UserRow(
      userId: Long, plan: String, country: String, score: Double,
      updatedMs: Long, changeType: String)

  final case class IngestEvent(eventId: Long, userId: Long, eventType: String, tsMs: Long, amount: Double)

  /** One step's commit: user-property upserts/deletes plus new events. */
  final case class IngestCommit(version: Long, commitTsMs: Long, users: Vector[UserRow], events: Vector[IngestEvent]) {
    /** User rows an upsert export keeps: inserts plus post-images. */
    def keptUserIds: Vector[Long] =
      users.filter(u => u.changeType == "insert" || u.changeType == "update_postimage").map(_.userId)
  }

  /** Stateful per-shard commit stream: commit `k` depends only on
    * `(seed, shard, k)` and the commits before it.
    */
  final class IngestStream(seed: Long, shard: Int, usersPerCommit: Int, eventsPerCommit: Int) {
    private val r = rng(seed, 2, shard)
    private var version = 0L
    private var nextUser = shard.toLong * 100000000L
    private var nextEvent = shard.toLong * 100000000L
    private val live = mutable.ArrayBuffer.empty[UserRow]

    def next(): IngestCommit = {
      version += 1
      val ts = Day0Ms + version * HourMs
      val users = mutable.ArrayBuffer.empty[UserRow]
      val touched = mutable.HashSet.empty[Long]
      def fresh(): UserRow = {
        val u = UserRow(nextUser, Plans(r.nextInt(Plans.size)), Countries(r.nextInt(Countries.size)),
          math.rint(r.nextDouble() * 1e4) / 100, ts - r.nextLong(HourMs), "insert")
        nextUser += 1
        u
      }
      val n = (usersPerCommit * (0.9 + 0.2 * r.nextDouble())).toInt
      while (users.size < n) {
        val p = r.nextDouble()
        if (p < 0.45 || live.size < 50) {
          val u = fresh()
          live += u
          touched += u.userId
          users += u
        } else {
          val i = r.nextInt(live.size)
          val old = live(i)
          if (!touched(old.userId)) {
            touched += old.userId
            if (p < 0.88) {
              val upd = old.copy(plan = Plans(r.nextInt(Plans.size)),
                score = math.rint(r.nextDouble() * 1e4) / 100, updatedMs = ts - r.nextLong(HourMs))
              live(i) = upd
              users += old.copy(changeType = "update_preimage")
              users += upd.copy(changeType = "update_postimage")
            } else {
              users += old.copy(changeType = "delete")
              live(i) = live(live.size - 1)
              live.remove(live.size - 1)
            }
          }
        }
      }
      val ne = (eventsPerCommit * (0.9 + 0.2 * r.nextDouble())).toInt
      val events = Vector.fill(ne) {
        val e = IngestEvent(nextEvent, live(r.nextInt(live.size)).userId,
          EventTypes(r.nextInt(EventTypes.size)), ts - r.nextLong(HourMs),
          math.rint(r.nextDouble() * 1e4) / 100)
        nextEvent += 1
        e
      }
      IngestCommit(version, ts, users.toVector, events)
    }
  }

  /** Whether step `step` of `shard` first removes the oldest commit of its
    * export window, and from which of the two tables (0 = users, 1 = events).
    */
  def removedCommit(seed: Long, shard: Int, step: Int, share: Double): Option[Int] = {
    val r = rng(seed, 3, shard, step)
    if (r.nextDouble() < share) Some(r.nextInt(2)) else None
  }

  /** Exported rows of the ingest join: every kept event row paired with every
    * kept user row of the same user in the user table's window.
    */
  def ingestJoinRows(userWindow: Seq[IngestCommit], eventWindow: Seq[IngestCommit]): Long = {
    val perUser = userWindow.flatMap(_.keptUserIds).groupBy(identity).view.mapValues(_.size.toLong).toMap
    eventWindow.iterator.flatMap(_.events).map(e => perUser.getOrElse(e.userId, 0L)).sum
  }

  // ------------------------------------------------------------------ curation

  final case class Doc(docId: Long, text: String)

  /** A corpus with planted duplicate groups. `exactGroups` members differ
    * from their base only in case and whitespace; `nearGroups` members have
    * one or two words swapped. Each group lists every member id.
    */
  final case class Corpus(docs: Vector[Doc], exactGroups: Vector[Set[Long]], nearGroups: Vector[Set[Long]]) {
    def planted: Vector[Set[Long]] = exactGroups ++ nearGroups
  }

  private def word(r: SplittableRandom, len: Int): String = {
    val sb = new StringBuilder
    (0 until len).foreach(_ => sb += ('a' + r.nextInt(26)).toChar)
    sb.toString
  }

  def corpus(seed: Long, shard: Int, docs: Int, groups: Int): Corpus = {
    val r = rng(seed, 4, shard)
    // word length follows rank, not the seed, so text size and
    // compressibility stay alike across seeds
    val vocab = Vector.tabulate(4000)(rank => word(r, 3 + rank % 7))
    def pick(): String = vocab((vocab.size * math.pow(r.nextDouble(), 2.0)).toInt)
    val base = mutable.ArrayBuffer.empty[Array[String]]
    val texts = mutable.ArrayBuffer.empty[String]
    val exact = mutable.ArrayBuffer.empty[Set[Long]]
    val near = mutable.ArrayBuffer.empty[Set[Long]]
    // unique documents first
    val uniques = docs - 5 * groups
    (0 until uniques).foreach { _ =>
      val w = Array.fill(40 + r.nextInt(50))(pick())
      base += w
      texts += w.mkString(" ")
    }
    def addCopies(exactKind: Boolean): Unit = {
      val src = r.nextInt(uniques)
      val copies = 1 + r.nextInt(2)
      val ids = mutable.Set(src.toLong)
      (0 until copies).foreach { _ =>
        val w = base(src).clone()
        val text =
          if (exactKind) {
            val s = w.map(x => if (r.nextInt(4) == 0) x.toUpperCase else x).mkString(" " * (1 + r.nextInt(2)))
            if (r.nextBoolean()) "  " + s + " " else s
          } else {
            (0 until 1 + r.nextInt(2)).foreach(_ => w(r.nextInt(w.length)) = pick())
            w.mkString(" ")
          }
        ids += texts.size.toLong
        texts += text
      }
      (if (exactKind) exact else near) += ids.toSet
    }
    // each group is planted on a distinct source document
    (0 until groups).foreach(_ => addCopies(exactKind = true))
    (0 until groups).foreach(_ => addCopies(exactKind = false))
    // sources may repeat across groups by chance; merge such groups so every
    // planted group is one connected set of documents
    def merged(gs: Seq[Set[Long]]): Vector[Set[Long]] =
      gs.foldLeft(Vector.empty[Set[Long]]) { (acc, g) =>
        val (hit, rest) = acc.partition(_.exists(g))
        rest :+ hit.foldLeft(g)(_ ++ _)
      }
    val all = merged(exact.toSeq ++ near.toSeq)
    val exactIds = exact.flatten.toSet
    Corpus(
      texts.zipWithIndex.map { case (t, i) => Doc(i.toLong, t) }.toVector,
      all.filter(_.forall(exactIds)),
      all.filterNot(_.forall(exactIds)))
  }

  final case class Embeddings(vectors: Vector[Array[Float]], queries: Vector[Long])

  def embeddings(seed: Long, shard: Int, n: Int, dims: Int, clusters: Int, queries: Int): Embeddings = {
    val r = rng(seed, 5, shard)
    val centers = Vector.fill(clusters)(Array.fill(dims)(r.nextDouble() * 2 - 1))
    val vs = Vector.fill(n) {
      val c = centers(r.nextInt(clusters))
      Array.tabulate(dims)(d => (c(d) + 0.35 * gaussian(r)).toFloat)
    }
    val qs = mutable.LinkedHashSet.empty[Long]
    while (qs.size < queries) qs += r.nextInt(n).toLong
    Embeddings(vs, qs.toVector)
  }

  private def gaussian(r: SplittableRandom): Double = {
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Exact cosine top-k per query (self excluded) as `(id, score)` pairs,
    * best first, ties broken towards the smaller id — the contract of
    * `Similarity.bruteForceTopK`.
    */
  def exactTopK(e: Embeddings, k: Int): Map[Long, Vector[(Long, Double)]] = {
    val norms = e.vectors.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
    e.queries.map { q =>
      val qv = e.vectors(q.toInt)
      val scored = e.vectors.indices.iterator.filter(_ != q.toInt).map { i =>
        val v = e.vectors(i)
        var dot = 0.0
        var d = 0
        while (d < v.length) { dot += qv(d).toDouble * v(d); d += 1 }
        (i.toLong, dot / (norms(q.toInt) * norms(i)))
      }.toVector
      q -> scored.sortBy { case (i, s) => (-s, i) }.take(k + 1)
    }.toMap
  }
}
