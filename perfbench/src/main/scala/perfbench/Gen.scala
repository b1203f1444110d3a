package perfbench

import java.security.MessageDigest
import java.time.LocalDate
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators for the three workloads. Every input is a pure
  * function of (seed, size): nothing is read from outside the benchmark.
  * The shapes follow the repository's fixtures — the Sparkify song and
  * log feeds (FIXTURES.md A.1/A.2), TPC-H-style orders and lineitem, and a
  * word-token document corpus with clustered embeddings. */
object Gen {

  /** SHA-256 over the canonical text of every generated record. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    var rows = 0L
    var bytes = 0L
    def add(rec: String): Unit = {
      val b = (rec + "\n").getBytes("UTF-8")
      md.update(b); rows += 1; bytes += b.length
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Input sizes and digest of one generated input set. */
  final case class Summary(rows: Long, bytes: Long, digest: String)

  private def rng(seed: Long, salt: Long) = new SplittableRandom(seed * 1000003L + salt)

  /** A fixed pseudo-word vocabulary (the seed only picks from it). */
  def vocabulary(n: Int, prefix: String): IndexedSeq[String] = {
    val cons = "bcdfghklmnprstvz"; val vows = "aeiou"
    (0 until n).map { i =>
      val sb = new StringBuilder(prefix)
      var x = i + 7
      val syl = 1 + (i % 4)
      (0 until syl).foreach { _ =>
        sb += cons(x % cons.length); x /= cons.length
        sb += vows(x % vows.length); x = x / vows.length + i * 31 % 17
      }
      sb.result()
    }.distinct
  }

  /** Zipf-like pick in [0, n): low indexes are frequent. */
  private def zipf(r: SplittableRandom, n: Int): Int =
    math.min(n - 1, (math.pow(n.toDouble + 1, r.nextDouble()) - 1).toInt)

  // ---------------------------------------------------------------- sparkify

  final case class Song(songId: String, title: String, artistId: String, artistName: String,
                        location: String, lat: Option[Double], lon: Option[Double],
                        year: Int, duration: Double, numSongs: Int) {
    def json: String = {
      def num(o: Option[Double]) = o.map(_.toString).getOrElse("null")
      s"""{"artist_id":"$artistId","artist_latitude":${num(lat)},""" +
        s""""artist_location":"$location","artist_longitude":${num(lon)},""" +
        s""""artist_name":"$artistName","duration":$duration,"num_songs":$numSongs,""" +
        s""""song_id":"$songId","title":"$title","year":$year}"""
    }
  }

  final case class Event(userId: String, first: String, last: String, gender: String,
                         level: String, song: String, artist: String, sessionId: Long,
                         location: String, agent: String, ts: Long) {
    def json: String =
      s"""{"userId":"$userId","firstName":"$first","lastName":"$last","gender":"$gender",""" +
        s""""level":"$level","song":"$song","artist":"$artist","sessionId":$sessionId,""" +
        s""""location":"$location","userAgent":"$agent","ts":$ts}"""
  }

  final case class EtlBatch(songs: IndexedSeq[Song], events: IndexedSeq[Event])

  /** Per-table inserts the pipeline must make for one batch, the level
    * each user first seen in the batch must carry, and the inserted plays
    * by level and by matched song title. */
  final case class EtlExpect(inserts: Map[String, Long], newUserLevels: Map[String, String],
                             playsByLevel: Map[String, Long], playsByTitle: Map[String, Long])

  final case class EtlSize(batches: Int, songs: Int, artists: Int, events: Int, users: Int)

  /** Song and log feed batches: batch 0 is the full load, the rest are
    * increments. Planted: duplicate song keys within a batch and across
    * batches, replayed log events, colliding event times, users whose
    * `level` flips, and played titles with no song in the batch. */
  def etl(seed: Long, sz: EtlSize): (IndexedSeq[EtlBatch], IndexedSeq[EtlExpect], Summary) = {
    val r = rng(seed, 1)
    val d = new Digest
    val words = vocabulary(600, "")
    val cities = IndexedSeq("Austin, TX", "Berlin", "Lagos", "Lima", "Osaka", "Oslo", "Perth")
    val agents = IndexedSeq("Mozilla/5.0", "Safari/605", "Chrome/120", "Edge/119")
    val songs = mutable.ArrayBuffer.empty[Song]
    var nArtists = 0
    var nUsers = 0
    val userLevel = mutable.Map.empty[Int, String]
    var ts = 1541000000000L + r.nextInt(1000000)
    var session = 1L
    var prevEvents = IndexedSeq.empty[Event]
    val batches = (0 until sz.batches).map { b =>
      val newArtists = (nArtists until nArtists + sz.artists).toIndexedSeq
      nArtists += sz.artists
      def title(i: Int) = s"${words(i % words.size)} ${words(i / words.size % words.size)} $i"
      val fresh = (0 until sz.songs).map { j =>
        val i = songs.size + j
        val a = if (r.nextInt(4) == 0 && nArtists > sz.artists) r.nextInt(nArtists)
                else newArtists(r.nextInt(newArtists.size))
        Song(f"SO$i%08d", title(i), f"AR$a%06d", s"Artist $a", cities(a % cities.size),
          if (a % 3 == 0) None else Some(30.0 + a % 20), if (a % 3 == 0) None else Some(-90.0 + a % 50),
          // an artist releases in two years; a fifth of songs have no year
          if (r.nextInt(5) == 0) 0 else 1960 + a % 60 + r.nextInt(2), 60.0 + r.nextInt(400000) / 1000.0, 1)
      }
      songs ++= fresh
      // duplicate keys: re-sent songs from earlier batches and in-batch
      // copies whose non-key attributes differ
      val resent = if (b == 0) Nil else (0 until sz.songs / 10).map(_ => songs(r.nextInt(songs.size - sz.songs)))
      val copies = (0 until sz.songs / 20).map { _ =>
        val s = fresh(r.nextInt(fresh.size)); s.copy(duration = s.duration + 1.0) }
      val batchSongs = (fresh ++ resent ++ copies).sortBy(s => (s.songId, s.duration))

      val newUsers = (nUsers until nUsers + sz.users).toIndexedSeq
      nUsers += sz.users
      newUsers.foreach(u => userLevel(u) = if (r.nextBoolean()) "free" else "paid")
      val events = mutable.ArrayBuffer.empty[Event]
      (0 until sz.events).foreach { _ =>
        val u = if (r.nextInt(3) == 0) newUsers(r.nextInt(newUsers.size)) else r.nextInt(nUsers)
        if (r.nextInt(40) == 0) userLevel(u) = if (userLevel(u) == "free") "paid" else "free"
        if (r.nextInt(25) == 0) session += 1
        ts += r.nextInt(3) * 7 // gap 0 plants colliding start times
        val song = r.nextInt(10) match {
          case 0 => s"unplayed ${words(r.nextInt(words.size))} ${r.nextInt(1000)}"
          case 1 => songs(r.nextInt(songs.size)).title // maybe not in this batch
          case _ => batchSongs(r.nextInt(batchSongs.size)).title
        }
        events += Event(u.toString, s"F$u", s"L${u % 97}", if (u % 2 == 0) "F" else "M",
          userLevel(u), song, s"Artist ${r.nextInt(nArtists)}", session + u % 7,
          cities(u % cities.size), agents(u % agents.size), ts)
      }
      // replayed events: exact copies, from this batch and the previous one
      val replay = (0 until sz.events / 50).map(_ => events(r.nextInt(events.size))) ++
        prevEvents.take(sz.events / 100)
      prevEvents = events.toIndexedSeq
      val batch = EtlBatch(batchSongs, (events ++ replay).toIndexedSeq)
      batch.songs.foreach(s => d.add(s.json))
      batch.events.foreach(e => d.add(e.json))
      batch
    }
    (batches, expectEtl(batches), Summary(d.rows, d.bytes, d.hex))
  }

  /** What the star-schema pipeline must insert per batch: new distinct keys
    * per dimension, and for songplays every row whose key (start_time,
    * song_id looked up by title in THIS batch's songs, sessionId) is new,
    * null-safe. */
  def expectEtl(batches: Seq[EtlBatch]): IndexedSeq[EtlExpect] = {
    val seen = mutable.Map.empty[String, mutable.Set[Any]]
    def fresh(t: String, keys: Iterable[Any]): Long = {
      val s = seen.getOrElseUpdate(t, mutable.Set.empty)
      val n = keys.toSet.count(k => !s.contains(k)); s ++= keys; n
    }
    batches.map { b =>
      val byTitle = b.songs.groupBy(_.title).map { case (t, ss) => t -> ss.head.songId }
      val prevUsers = seen.get("users").map(_.toSet).getOrElse(Set.empty)
      // the latest event per new user fixes its level; a tie on the full
      // ordering between rows of different level has no single answer
      val newUserLevels = b.events.groupBy(_.userId).toSeq.flatMap {
        case (u, es) if !prevUsers.contains(u) =>
          val top = es.map(e => (e.ts, e.sessionId, e.song)).max
          val levels = es.filter(e => (e.ts, e.sessionId, e.song) == top).map(_.level).distinct
          if (levels.size == 1) Some(u -> levels.head) else None
        case _ => None
      }.toMap
      // songplays is the fact table: every log row whose key is new to the
      // table is inserted, repeats inside one batch included
      val playKey = (e: Event) => (e.ts, byTitle.get(e.song), e.sessionId)
      val seenPlays = seen.getOrElseUpdate("songplays", mutable.Set.empty)
      val plays = b.events.filterNot(e => seenPlays.contains(playKey(e)))
      seenPlays ++= plays.map(playKey)
      EtlExpect(Map(
        "songs" -> fresh("songs", b.songs.map(_.songId)),
        "artists" -> fresh("artists", b.songs.map(_.artistId)),
        "users" -> fresh("users", b.events.map(_.userId)),
        "time" -> fresh("time", b.events.map(_.ts)),
        "songplays" -> plays.size.toLong), newUserLevels,
        plays.groupBy(_.level).map { case (l, es) => l -> es.size.toLong },
        plays.flatMap(e => byTitle.get(e.song).map(_ => e.song))
          .groupBy(identity).map { case (t, ts) => t -> ts.size.toLong })
    }.toIndexedSeq
  }

  // ---------------------------------------------------------------- lake

  final case class Order(key: Long, cust: Long, status: String, totalCents: Long,
                         date: Int, priority: String) {
    def canon: String = s"$key|$cust|$status|$totalCents|$date|$priority"
  }

  /** A lineitem row; money in integer cents so every sum is exact. */
  final case class Line(orderKey: Long, lineNo: Int, partKey: Long, qty: Long,
                        priceCents: Long, discount: Int, shipDate: Int,
                        returnFlag: String, lineStatus: String) {
    def shipYear: Int = LocalDate.ofEpochDay(shipDate.toLong).getYear
    def key: (Long, Int) = (orderKey, lineNo)
    def canon: String =
      s"$orderKey|$lineNo|$partKey|$qty|$priceCents|$discount|$shipDate|$returnFlag|$lineStatus|$shipYear"
  }

  val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val FirstDay: Int = LocalDate.of(1992, 1, 1).toEpochDay.toInt
  val Days = 2400

  sealed trait LakeOp { def kind: String; def mode: String = "" }
  final case class Point(orderKey: Long) extends LakeOp { def kind = "point" }
  final case class Range(from: Int, to: Int) extends LakeOp { def kind = "range" }
  final case class Star(priority: String, from: Int, to: Int) extends LakeOp { def kind = "star" }
  case object Agg extends LakeOp { def kind = "agg" }
  final case class Append(rows: Seq[Line]) extends LakeOp { def kind = "append" }
  final case class Merge(rows: Seq[Line], override val mode: String) extends LakeOp { def kind = "merge" }
  final case class Delete(lo: Long, hi: Long, override val mode: String) extends LakeOp { def kind = "delete" }
  final case class Update(lo: Long, hi: Long, override val mode: String) extends LakeOp { def kind = "update" }
  case object Compact extends LakeOp { def kind = "compact" }
  case object Vacuum extends LakeOp { def kind = "vacuum" }

  val ReadKinds = Set("point", "range", "star", "agg")
  val WriteKinds = Set("append", "merge", "delete", "update")

  /** The script's fixed 17-op cycle: eight reads, seven writes over the
    * three DML encodings, then compact and vacuum; the same for every
    * seed, which draws only each op's parameters. */
  val Cycle: IndexedSeq[(String, String)] = IndexedSeq(
    "point" -> "", "append" -> "cow", "range" -> "", "merge" -> "cow", "point" -> "",
    "delete" -> "mor", "range" -> "", "update" -> "cow", "agg" -> "", "merge" -> "eq",
    "point" -> "", "delete" -> "eq", "star" -> "", "merge" -> "mor", "range" -> "",
    "compact" -> "", "vacuum" -> "")

  final case class LakeSize(orders: Int, scriptOps: Int, batchRows: Int)

  final case class LakeInputs(orders: IndexedSeq[Order], lines: IndexedSeq[Line],
                              script: IndexedSeq[LakeOp], summary: Summary)

  def lake(seed: Long, sz: LakeSize): LakeInputs = {
    val r = rng(seed, 2)
    val d = new Digest
    val flags = IndexedSeq("A", "N", "R")
    def line(o: Long, n: Int, date: Int) = Line(o, n, 1 + r.nextInt(20000), 1 + r.nextInt(50),
      (90000 + r.nextInt(10000000)).toLong, r.nextInt(11), date + 1 + r.nextInt(120),
      flags(r.nextInt(3)), if (r.nextBoolean()) "O" else "F")
    val orders = (1 to sz.orders).map { k =>
      Order(k.toLong, 1 + r.nextInt(sz.orders / 10), if (r.nextBoolean()) "O" else "F",
        (100000 + r.nextInt(50000000)).toLong, FirstDay + r.nextInt(Days),
        Priorities(r.nextInt(Priorities.size)))
    }
    val lines = orders.flatMap(o => (1 to 1 + r.nextInt(7)).map(n => line(o.key, n, o.date)))
    val base = lines.map(l => l.key -> l).toMap
    var nextKey = sz.orders.toLong + 1
    def freshRows(n: Int): Seq[Line] = {
      val out = mutable.ArrayBuffer.empty[Line]
      while (out.size < n) {
        val date = FirstDay + r.nextInt(Days)
        out ++= (1 to 1 + r.nextInt(7)).map(k => line(nextKey, k, date)); nextKey += 1
      }
      out.take(n).toSeq
    }
    val script = (0 until sz.scriptOps).map { i =>
      val (kind, mode) = Cycle(i % Cycle.size)
      kind match {
        case "point" => Point(1 + r.nextInt(sz.orders))
        case "range" => val f = FirstDay + r.nextInt(Days - 30); Range(f, f + 30)
        case "star" =>
          val f = FirstDay + r.nextInt(Days - 60)
          Star(Priorities(r.nextInt(Priorities.size)), f, f + 60)
        case "agg" => Agg
        case "append" => Append(freshRows(sz.batchRows))
        case "merge" =>
          // half updates of base keys (ship date kept, so rows stay in
          // their partition), half inserts of fresh keys
          val upd = (0 until sz.batchRows / 2).map { _ =>
            val o = 1L + r.nextInt(sz.orders)
            base.get((o, 1)).map(l => l.copy(qty = 1 + r.nextInt(50), returnFlag = "M"))
          }.flatten.distinctBy(_.key)
          Merge(upd ++ freshRows(sz.batchRows / 2), mode)
        case "delete" => val lo = 1L + r.nextInt(sz.orders - 30); Delete(lo, lo + 4, mode)
        case "update" => val lo = 1L + r.nextInt(sz.orders - 30); Update(lo, lo + 9, mode)
        case "compact" => Compact
        case "vacuum" => Vacuum
      }
    }
    orders.foreach(o => d.add(o.canon))
    lines.foreach(l => d.add(l.canon))
    script.foreach(op => d.add(op.toString))
    LakeInputs(orders, lines, script, Summary(d.rows, d.bytes, d.hex))
  }

  // ---------------------------------------------------------------- curation

  final case class Doc(id: Long, text: String, lang: String)
  final case class Vec(id: Long, v: Array[Float])

  final case class CurateSize(docs: Int, benchDocs: Int, vecs: Int, dim: Int, clusters: Int,
                              queries: Int)

  /** Corpus with planted near-duplicates, repetitive (quality-gated) docs,
    * markup, and docs that quote a benchmark passage; the benchmark set;
    * clustered embeddings; ANN query vectors and BM25 term sets. */
  final case class CurateInputs(docs: IndexedSeq[Doc], bench: IndexedSeq[Doc],
                                contaminated: Set[Long], vecs: IndexedSeq[Vec],
                                annQueries: IndexedSeq[Vec], bm25Queries: IndexedSeq[Seq[String]],
                                summary: Summary)

  def curate(seed: Long, sz: CurateSize): CurateInputs = {
    val r = rng(seed, 3)
    val d = new Digest
    val vocab = vocabulary(3000, "")
    val stop = IndexedSeq("the", "a", "of", "to", "and", "in", "is")
    // benchmark passages use their own words, so only planted quotes share
    // shingles with them
    val benchVocab = vocabulary(800, "q")
    def words(n: Int) = (0 until n).map(_ =>
      if (r.nextInt(8) == 0) stop(r.nextInt(stop.size)) else vocab(zipf(r, vocab.size)))
    val bench = (0 until sz.benchDocs).map(i =>
      Doc(1000000L + i, (0 until 40).map(_ => benchVocab(r.nextInt(benchVocab.size))).mkString(" "), "en"))
    val contaminated = mutable.Set.empty[Long]
    val docs = mutable.ArrayBuffer.empty[Doc]
    (0 until sz.docs).foreach { i =>
      val lang = if (i % 5 == 0) "de" else "en"
      val text = r.nextInt(20) match {
        case 0 if docs.nonEmpty => // near-duplicate of an earlier doc
          val src = docs(r.nextInt(docs.size)).text.split(' ')
          src.indices.map(j => if (r.nextInt(40) == 0) vocab(r.nextInt(vocab.size)) else src(j)).mkString(" ")
        case 1 => // repetitive: fails the Gopher top-word gate
          val w = vocab(r.nextInt(vocab.size)); Seq.fill(30 + r.nextInt(30))(w).mkString(" ")
        case 2 => // quotes a benchmark passage
          contaminated += i.toLong
          (words(20) ++ bench(r.nextInt(bench.size)).text.split(' ').slice(5, 25) ++ words(20)).mkString(" ")
        case 3 => s"<p>${words(40 + r.nextInt(80)).mkString(" ")}</p> <b>&amp; more</b>"
        case _ => words(30 + r.nextInt(150)).mkString(" ")
      }
      docs += Doc(i.toLong, text, lang)
    }
    val centers = (0 until sz.clusters).map(_ => Array.fill(sz.dim)((r.nextDouble() * 2 - 1).toFloat))
    def near(c: Array[Float], spread: Double) = c.map(x => (x + r.nextGaussian() * spread).toFloat)
    val vecs = (0 until sz.vecs).map(i => Vec(i.toLong, near(centers(r.nextInt(centers.size)), 0.25)))
    val annQueries = (0 until sz.queries).map(i =>
      Vec(10000000L + i, near(centers(r.nextInt(centers.size)), 0.25)))
    val bm25Queries = (0 until sz.queries).map { _ =>
      (0 until 2 + r.nextInt(2)).map(_ => vocab(zipf(r, 400))).distinct }
    docs.foreach(x => d.add(s"${x.id}|${x.lang}|${x.text}"))
    bench.foreach(x => d.add(s"${x.id}|${x.text}"))
    (vecs ++ annQueries).foreach(v => d.add(s"${v.id}|${v.v.mkString(",")}"))
    bm25Queries.foreach(q => d.add(q.mkString(" ")))
    CurateInputs(docs.toIndexedSeq, bench, contaminated.toSet, vecs, annQueries, bm25Queries,
      Summary(d.rows, d.bytes, d.hex))
  }
}
