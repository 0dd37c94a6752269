package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.maint.VersionedTable

/** Spark jobs started by the versioned table's metadata paths on a
  * 10k-row table, counted per job group. Deciding which files to read
  * must start none: per-file stats ride in the log entry and bloom
  * position sets sit in the version directory, both read on the driver.
  * A commit's jobs are its data write plus what new files need (schema
  * check, sizing and position sets of a registered index, a feed). */
class JobCountSpec extends SparkSpec {

  private def jobs(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    org.apache.spark.ListenerBusDrain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def rows(from: Long, to: Long): DataFrame =
    spark.range(from, to).select(col("id"),
      (col("id") * 7919 % 1000).as("k"),
      date_add(lit("1995-01-01").cast("date"), (col("id") % 2000).cast("int")).as("d"))

  private def table(bloom: Boolean): VersionedTable = {
    val t = new VersionedTable(spark,
      Files.createTempDirectory("graft_jobs_").toString + "/t")
    t.write(rows(0, 10000).repartitionByRange(8, col("d")))
    if (bloom) t.buildBloomIndex("id")
    t
  }

  test("pruned reads start no job to decide which files to read") {
    val t = table(bloom = true)
    val v = t.latestVersion.get
    assert(jobs(t.filteredFiles("id = 4242", v)) == 0, "pruning must start no job")
    val point = jobs(t.readFiltered("id = 4242").collect())
    assert(point <= 2, s"point readFiltered ran $point jobs")
    val range = jobs(t.readWhere("d", java.sql.Date.valueOf("1996-01-01"),
      java.sql.Date.valueOf("1996-02-01")).collect())
    assert(range <= 2, s"readWhere ran $range jobs")
    info(s"jobs: point readFiltered $point, readWhere $range")
  }

  test("appends and feed commits start only the jobs their new files need") {
    val plain = table(bloom = false)
    val append = jobs(plain.append(rows(10000, 10300)))
    assert(append <= 3, s"300-row append ran $append jobs")
    val indexed = table(bloom = true)
    val bloomAppend = jobs(indexed.append(rows(10000, 10300)))
    assert(bloomAppend <= 9, s"300-row append on a bloom-indexed table ran $bloomAppend jobs")
    val fed = new VersionedTable(spark,
      Files.createTempDirectory("graft_jobs_").toString + "/t")
    fed.writeWithChangeFeed(rows(0, 10000).repartitionByRange(8, col("d")), Seq("id"))
    fed.buildBloomIndex("id")
    val feed = jobs(fed.writeWithChangeFeed(
      rows(0, 10000).withColumn("k", col("k") + (col("id") % 10 === 0).cast("long"))
        .repartitionByRange(8, col("d")), Seq("id")))
    assert(feed <= 14, s"writeWithChangeFeed on a bloom-indexed table ran $feed jobs")
    info(s"jobs: append $append, bloom-indexed append $bloomAppend, feed commit $feed")
  }
}
