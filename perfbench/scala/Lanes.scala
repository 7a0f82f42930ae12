package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.{Sinks, Versioned}

/** One unit of work the closed-loop client runs: `build` is the timed call
  * into the program (a catalog query function, or a set of ingest writes)
  * and returns the frame whose every column the timed action then hashes.
  */
trait Lane {
  def name: String
  def build(spark: SparkSession, dir: String): DataFrame
  /** Untimed reset before each run of the lane. */
  def reset(): Unit = ()
  /** For round-trip lanes: the frame the read-back must hash equal to. */
  def expected(spark: SparkSession, dir: String): Option[DataFrame] = None
  /** Bytes the lane's writes left on disk (0 for read-only lanes). */
  def outputBytes: Long = 0L
}

/** A catalog lane, reached only through `graft.Queries.queries`. */
final case class CatalogLane(name: String) extends Lane {
  def build(spark: SparkSession, dir: String): DataFrame =
    graft.Queries.queries(name)(spark, dir)
}

/** An ingest round trip: write a source frame through a `graft.sources`
  * writer, then read the result back through the matching reader. The
  * writes are the build; hashing the read-back is the action, and the
  * read-back must hash equal to the source frame.
  */
final case class WriterLane(name: String, root: Path,
                            source: (SparkSession, String) => DataFrame,
                            write: (SparkSession, DataFrame, String) => Unit,
                            read: (SparkSession, String, DataFrame) => DataFrame)
    extends Lane {
  private def out: Path = root.resolve(name)
  override def reset(): Unit = Workloads.deleteTree(out)
  def build(spark: SparkSession, dir: String): DataFrame = {
    val src = source(spark, dir)
    write(spark, src, out.toString)
    read(spark, out.toString, src)
  }
  override def expected(spark: SparkSession, dir: String): Option[DataFrame] =
    Some(source(spark, dir))
  override def outputBytes: Long =
    if (!Files.exists(out)) 0L
    else {
      val s = Files.walk(out)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
}

object Workloads {
  val relational: Seq[String] = Seq("q_agg_pricing", "q_window_suite", "q_asof_join", "q_dormant_cust")

  val ingestParsers: Seq[String] = Seq("q_idspec_parse")

  val streaming: Seq[String] = Seq("q_dedup_stream")

  val llmPairs: Seq[String] = Seq("q_knn_brute", "q_doc_simhash_pairs", "q_knn_lsh")

  private def dayNs(isoDay: String): Long =
    java.time.LocalDate.parse(isoDay).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli * 1000000L

  /** The first week of `events` (ts is epoch nanoseconds): seven day
    * partitions keep the partitioned writer's file count small.
    */
  private def firstWeek(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).where(col("ts") < lit(dayNs("2024-01-08")))

  /** The ingest round trips: the day-partitioned sink with an incremental
    * refresh and a compaction of the refreshed days, the JSONL export, and
    * a Versioned commit.
    */
  def writerLanes(root: Path): Seq[Lane] = Seq(
    WriterLane("w_day_partitioned", root, firstWeek,
      (spark, src, path) => {
        Sinks.writePartitionedByDay(src, "ts", path)
        Sinks.refreshDays(src.where(col("ts") < lit(dayNs("2024-01-04"))), "ts", path)
        Sinks.compactDays(spark, path, 5000L, Seq("2024-01-01", "2024-01-02", "2024-01-03"))
      },
      (spark, path, _) => spark.read.parquet(path).drop("day")),
    WriterLane("w_jsonl", root, Tables.events,
      (_, src, path) => Sinks.writeJsonl(src, path, "event_id", 4),
      (spark, path, src) => Sinks.readJsonl(spark, path, src.schema).drop("_corrupt")),
    WriterLane("w_versioned", root, Tables.events,
      (_, src, path) => Versioned.commit(src, path, overwrite = true),
      (spark, path, _) => Versioned.read(spark, path)))

  def lanes(workload: String, work: Path): Seq[Lane] = workload match {
    case "batch" =>
      (relational ++ ingestParsers ++ llmPairs).map(CatalogLane) ++
        writerLanes(work.resolve("ingest"))
    case "streaming" => streaming.map(CatalogLane)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }
}
