package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end golden test of the literal reference flow: song/log JSON feeds
  * shaped exactly like `Tables.songFeedSchema`/`logFeedSchema` → the five
  * star tables, incremental and idempotent.
  */
class SparkifyPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val songLines = Seq(
    """{"artist_id":"AR1","artist_latitude":35.1,"artist_location":"NYC","artist_longitude":-71.2,"artist_name":"The Codes","duration":201.5,"num_songs":1,"song_id":"SO1","title":"Shuffle Free","year":2019}""",
    """{"artist_id":"AR1","artist_latitude":35.1,"artist_location":"NYC","artist_longitude":-71.2,"artist_name":"The Codes","duration":188.0,"num_songs":1,"song_id":"SO2","title":"Broadcast Joins","year":2020}""",
    """{"artist_id":"AR2","artist_latitude":null,"artist_location":"","artist_longitude":null,"artist_name":"Null Safe","duration":95.25,"num_songs":1,"song_id":"SO3","title":"Left Anti","year":2021}""",
    // duplicate song_id with drifted metadata — must collapse to ONE row
    """{"artist_id":"AR1","artist_latitude":35.1,"artist_location":"NYC","artist_longitude":-71.2,"artist_name":"The Codes","duration":201.5,"num_songs":1,"song_id":"SO1","title":"Shuffle Free","year":2018}""")

  // user 7 flips free→paid (later ts must win); one play matches no song
  private val logLines = Seq(
    """{"userId":"7","firstName":"Ada","lastName":"L","gender":"F","level":"free","song":"Shuffle Free","artist":"The Codes","sessionId":1,"location":"NYC","userAgent":"ua1","ts":1541000000000}""",
    """{"userId":"7","firstName":"Ada","lastName":"L","gender":"F","level":"paid","song":"Left Anti","artist":"Null Safe","sessionId":2,"location":"NYC","userAgent":"ua1","ts":1541100000000}""",
    """{"userId":"9","firstName":"Grace","lastName":"H","gender":"F","level":"free","song":"Not In Catalog","artist":"Unknown","sessionId":3,"location":"SF","userAgent":"ua2","ts":1541200000000}""")

  private def writeFeeds(): (String, String, String) = {
    val dir = Files.createTempDirectory("sparkify").toString
    Files.write(Paths.get(s"$dir/songs.json"),
      songLines.mkString("\n").getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/logs.json"),
      logLines.mkString("\n").getBytes("UTF-8"))
    (s"$dir/songs.json", s"$dir/logs.json", s"$dir/out")
  }

  // one new user's play of a known song, plus a song already loaded
  private def writeIncrement(): (String, String) = {
    val dir = Files.createTempDirectory("sparkify2").toString
    Files.write(Paths.get(s"$dir/songs.json"), songLines.head.getBytes("UTF-8"))
    Files.write(Paths.get(s"$dir/logs.json"),
      """{"userId":"11","firstName":"New","lastName":"U","gender":"M","level":"free","song":"Shuffle Free","artist":"The Codes","sessionId":9,"location":"LA","userAgent":"ua3","ts":1541300000000}"""
        .getBytes("UTF-8"))
    (s"$dir/songs.json", s"$dir/logs.json")
  }

  test("one run builds the five star tables with reference semantics fixed") {
    val (songFeed, logFeed, out) = writeFeeds()
    val counts = SparkifyPipeline.run(spark, songFeed, logFeed, out)
    assert(counts === Map("songs" -> 3L, "artists" -> 2L, "users" -> 2L,
      "time" -> 3L, "songplays" -> 3L))

    val songs = spark.read.parquet(s"$out/songs")
    assert(songs.count() === 3, "duplicate song_id collapsed")
    assert(songs.columns.toSet === Set("song_id", "title", "duration", "year", "artist_id"))

    // level flip: latest event wins
    val users = spark.read.parquet(s"$out/users")
      .select("userId", "level").as[(String, String)].collect().toMap
    assert(users === Map("7" -> "paid", "9" -> "free"))

    // songplays: matched plays carry the song/artist ids, unmatched stay null
    val plays = spark.read.parquet(s"$out/songplays")
    assert(plays.count() === 3)
    assert(plays.filter(col("song_id").isNull).count() === 1)
    assert(plays.select("songplay_id").distinct().count() === 3, "unique surrogate ids")
    // partition layout (year, month) exists on disk
    assert(new java.io.File(s"$out/songplays/year=2018").exists())
  }

  test("second run over the same feeds inserts zero rows everywhere") {
    val (songFeed, logFeed, out) = writeFeeds()
    SparkifyPipeline.run(spark, songFeed, logFeed, out)
    val second = SparkifyPipeline.run(spark, songFeed, logFeed, out)
    assert(second === Map("songs" -> 0L, "artists" -> 0L, "users" -> 0L,
      "time" -> 0L, "songplays" -> 0L),
      "idempotency (incl. the null-song_id play, which needs the null-safe key)")
  }

  test("incremental feed adds only the new rows and keys ids after existing") {
    val (songFeed, logFeed, out) = writeFeeds()
    SparkifyPipeline.run(spark, songFeed, logFeed, out)

    val (incSongs, incLogs) = writeIncrement()
    val counts = SparkifyPipeline.run(spark, incSongs, incLogs, out)
    assert(counts === Map("songs" -> 0L, "artists" -> 0L, "users" -> 1L,
      "time" -> 1L, "songplays" -> 1L))

    val plays = spark.read.parquet(s"$out/songplays")
    assert(plays.count() === 4)
    assert(plays.select("songplay_id").distinct().count() === 4,
      "new surrogate ids do not collide with existing ones")
  }

  test("each returned count equals the rows its run added on disk; a re-run adds none") {
    val (songFeed, logFeed, out) = writeFeeds()
    val (incSongs, incLogs) = writeIncrement()
    val tables = Seq("songs", "artists", "users", "time", "songplays")
    def loadAndDiff(songs: String, logs: String) = {
      val before = TablesOnDisk(spark, out, tables)
      val counts = SparkifyPipeline.run(spark, songs, logs, out)
      val after = TablesOnDisk(spark, out, tables)
      assert(counts === TablesOnDisk.added(before, after), "returned counts vs rows on disk")
      (counts, before, after)
    }
    loadAndDiff(songFeed, logFeed)
    loadAndDiff(incSongs, incLogs)
    val (again, before, after) = loadAndDiff(incSongs, incLogs)
    assert(again.values.forall(_ == 0L), s"re-run over the same feeds inserted $again")
    // an append of no rows writes no file into a partitioned table ...
    Seq("songs", "time", "songplays").foreach { t =>
      assert(after(t).files === before(t).files, s"$t gained a file on the re-run")
    }
    // ... and exactly one schema-only file into an unpartitioned one: Spark's
    // writer keeps task 0's file when the job wrote no rows
    Seq("artists", "users").foreach { t =>
      val extra = after(t).files -- before(t).files
      assert(extra.size === 1, s"$t: files added by the re-run: $extra")
      assert(spark.read.parquet(extra.head).count() === 0L)
    }
  }
}
