package graft.pipeline

import graft.operators.{LatestPerKey, SurrogateKey}
import graft.sources.{Json, Sink, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's literal entry flow (`etl.py:62-294`): song-feed and
  * log-feed JSON in, the five Sparkify star tables out
  * (songs, artists, users, time, songplays), incremental and idempotent.
  *
  * Differences from the reference, each a documented fix (SURVEY §7.4):
  *  - explicit FAILFAST schemas for both feeds (the reference's explicit
  *    `SongSchema` is dead code at `etl.py:95`; the live read infers);
  *  - epoch-ms → timestamp via native `timestamp_millis`
  *    (the reference round-trips through a Python UDF + string,
  *    `etl.py:173`);
  *  - dimension rows are deduplicated BY KEY with a deterministic winner —
  *    the reference's `distinct()` keeps one row per distinct tuple, so a
  *    song/artist/user whose attributes vary across feed files stays
  *    duplicated (`etl.py:102,132,182`); `users` picks the LATEST row by
  *    event time (the `level` flip, §7.4.4);
  *  - insert-only-new is a real anti join (the reference's left_outer with
  *    the isNull filter commented out re-inserts everything, `etl.py:114`);
  *    songplays uses the NULL-SAFE form — its `song_id` key component is
  *    null whenever the title lookup missed, and `NULL = NULL` is never
  *    true, so the reference re-inserts every unmatched play each run;
  *  - songplays joins against the songs dim built THIS run (the reference
  *    reads back `spark-warehouse/songs`, a stale local path —
  *    `etl.py:241`);
  *  - surrogate ids are partition-sparse `monotonically_increasing_id` +
  *    `max(existing)+1` (the reference's seed is a NameError, `etl.py:272`).
  *
  * Layout matches the reference: songs partitioned by (year, artist_id),
  * time and songplays by (year, month) — at 100 TB these are the pruning
  * keys the workload filters on, and every dimension join is broadcast.
  */
object SparkifyPipeline {

  /** Deterministic one-row-per-key: latest by `order` (all remaining columns
    * as the tie-break so ties cannot pick nondeterministically).
    */
  private def onePerKey(df: DataFrame, keys: Seq[String]): DataFrame =
    LatestPerKey(df, keys, df.columns.filterNot(keys.contains).map(col).toSeq)

  /** `songs` dimension (`etl.py:102`): one row per song_id. */
  def songs(feed: DataFrame): DataFrame =
    onePerKey(feed.select("song_id", "title", "artist_id", "year", "duration"),
      Seq("song_id"))

  /** `artists` dimension (`etl.py:132`): one row per artist_id. */
  def artists(feed: DataFrame): DataFrame =
    onePerKey(feed.select(col("artist_id"), col("artist_name"),
      col("artist_location"), col("artist_latitude"), col("artist_longitude")),
      Seq("artist_id"))

  /** Log feed with the epoch-ms `ts` resolved to a timestamp `start_time`. */
  def logWithTime(log: DataFrame): DataFrame =
    log.withColumn("start_time", timestamp_millis(col("ts"))).drop("ts")

  /** `users` dimension (`etl.py:182` + the §7.4.4 level-flip fix): one row
    * per userId, latest event wins (sessionId then song break exact-ts ties
    * deterministically).
    */
  def users(log: DataFrame): DataFrame =
    LatestPerKey(
      logWithTime(log).select(col("userId"), col("firstName"), col("lastName"),
        col("gender"), col("level"), col("start_time"), col("sessionId"), col("song")),
      Seq("userId"), Seq(col("start_time"), col("sessionId"), col("song")))
      .drop("start_time", "sessionId", "song")

  /** `time` dimension (`etl.py:209-211`, lower-cased column names). */
  def timeTable(log: DataFrame): DataFrame =
    logWithTime(log).select(
      col("start_time"),
      hour(col("start_time")).as("hour"),
      dayofmonth(col("start_time")).as("day"),
      weekofyear(col("start_time")).as("week"),
      month(col("start_time")).as("month"),
      year(col("start_time")).as("year")).distinct()

  /** `songplays` fact (`etl.py:244-247`): every log row, enriched with
    * (song_id, artist_id) where the played title matches the songs dim —
    * broadcast left-outer, the log never shuffles for the lookup. The title
    * is the reference's whole join key (it ignores artist/duration); kept
    * for parity, with the dim deduped per title so the join cannot fan out.
    */
  def songplays(log: DataFrame, songsDim: DataFrame): DataFrame = {
    val titleLookup = onePerKey(
      songsDim.select(col("title"), col("song_id"), col("artist_id")), Seq("title"))
    logWithTime(log)
      .join(broadcast(titleLookup), col("song") === col("title"), "left_outer")
      .select(col("start_time"), col("userId"), col("level"), col("song_id"),
        col("artist_id"), col("sessionId"), col("location"), col("userAgent"),
        year(col("start_time")).as("year"), month(col("start_time")).as("month"))
  }

  /** Full incremental run over JSON feed paths: writes the five star tables
    * under `outDir`, inserting only new rows ([[Sink.insertNew]]); returns
    * per-table insert counts. Running twice over the same feeds inserts
    * zero everywhere.
    */
  def run(spark: SparkSession, songFeed: String, logFeed: String,
          outDir: String): Map[String, Long] = {
    val song = Json.read(spark, Tables.songFeedSchema, songFeed)
    val log = Json.read(spark, Tables.logFeedSchema, logFeed)

    def load(name: String, staged: DataFrame, keys: Seq[String],
             partitionCols: Seq[String], nullSafe: Boolean = false): Long =
      Sink.insertNew(spark, staged, s"$outDir/$name", keys, partitionCols, nullSafe)

    val songsDim = songs(song)
    val nSongs = load("songs", songsDim, Seq("song_id"), Seq("year", "artist_id"))
    val nArtists = load("artists", artists(song), Seq("artist_id"), Nil)
    val nUsers = load("users", users(log), Seq("userId"), Nil)
    val nTime = load("time", timeTable(log), Seq("start_time"), Seq("year", "month"))

    val plays = songplays(log, songsDim)
    val playsPath = s"$outDir/songplays"
    val keyedSchema = SurrogateKey.sparse(plays, "songplay_id").schema
    val keyed = SurrogateKey.sparse(plays, "songplay_id",
      SurrogateKey.nextOffset(Sink.readOrEmpty(spark, playsPath, keyedSchema), "songplay_id"))
    val nPlays = load("songplays", keyed,
      Seq("start_time", "song_id", "sessionId"), Seq("year", "month"), nullSafe = true)

    Map("songs" -> nSongs, "artists" -> nArtists, "users" -> nUsers,
      "time" -> nTime, "songplays" -> nPlays)
  }
}
