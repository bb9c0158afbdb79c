package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.ManifestTable

/** Rival writer for the conflict-abort spec: JVM-global state, so a
  * UDF running in any task thread fires it exactly once. */
object ManifestPublishRival {
  val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var act: () => Unit = () => ()
  def fire(): Unit = if (fired.compareAndSet(false, true)) act()
}

/** The manifest commit path: every writer stages through one rule
  * (snapshot-unique basenames, which deletion vectors key on) and
  * publishes through one of two primitives (shared metadata, shared
  * conflict rules, staging dropped on a conflict abort). */
class ManifestPublishSpec extends SparkSpec {
  import spark.implicits._

  private def kv(df: DataFrame): Map[Long, Long] =
    df.select("k", "v").as[(Long, Long)].collect().toMap

  private def dataDirs(table: String): Seq[String] = {
    val st = Files.list(Paths.get(table, "data"))
    try scala.jdk.CollectionConverters.IteratorHasAsScala(st.iterator())
      .asScala.map(_.getFileName.toString).toSeq
    finally st.close()
  }

  test("compact into several outputs keeps basenames unique: later " +
      "DV deletes and merges mask the right rows in every reader") {
    val table = Files.createTempDirectory("graft-compact-dv").toString
    var replay = Map.empty[Long, Long]
    // 12 equal small files
    for (q <- 0 until 12) {
      val ks = (q * 100L + 1L) to (q * 100L + 100L)
      ManifestTable.commitWithStats(ks.map(k => (k, k * 10L))
          .toDF("k", "v").coalesce(1),
        table, append = true, "k")
      replay ++= ks.map(k => k -> k * 10L)
    }
    val sizes = ManifestTable.snapshotFor(table, None).files
      .map(f => Files.size(Paths.get(table).resolve(f)))
    val (_, before, after) =
      ManifestTable.compact(spark, table, sizes.sum / 4 + 1)
    assert(before == 12 && after >= 4, s"$before -> $after")
    def check(what: String): Unit = {
      val viaRead = kv(ManifestTable.read(spark, table))
      val viaFormat = kv(spark.read.format("graft-manifest")
        .option("path", table).load())
      assert(viaRead == replay, s"$what: ManifestTable.read disagrees " +
        s"with the replay (${viaRead.size} vs ${replay.size} rows)")
      assert(viaFormat == replay, s"$what: graft-manifest read " +
        s"disagrees with the replay (${viaFormat.size} vs " +
        s"${replay.size} rows)")
      assert(ManifestTable.countRows(table).contains(replay.size.toLong),
        s"$what: countRows ${ManifestTable.countRows(table)} vs " +
          s"${replay.size}")
    }
    check("compact")
    // a range spanning every output group, kept as deletion vectors
    val (_, rw, dvd, _) = ManifestTable.deleteRangeDv(spark, table, "k",
      250L, 1050L, dvMaxFraction = 1.0)
    assert(rw == 0 && dvd >= 3, s"rewritten $rw, DV'd $dvd")
    replay = replay.filter { case (k, _) => k < 250L || k > 1050L }
    check("deleteRangeDv")
    val upd = Seq(7L, 180L, 1090L, 1199L).map(k => (k, -k)) ++
      Seq((5000L, 1L), (5001L, 2L))
    val (_, rw2, dvd2, _) = ManifestTable.mergeByKeyDv(spark, table,
      upd.toDF("k", "v"), "k", dvMaxFraction = 1.0)
    assert(rw2 == 0 && dvd2 >= 2, s"rewritten $rw2, DV'd $dvd2")
    replay ++= upd
    check("mergeByKeyDv")
    // the second OPTIMIZE purges the vectors and keeps every row
    ManifestTable.compact(spark, table, sizes.sum / 4 + 1)
    check("second compact")
    val names = ManifestTable.snapshotFor(table, None).files
      .map(_.split('/').last)
    assert(names.distinct.size == names.size, names.toString)
  }

  test("SQL MERGE, UPDATE and DELETE record #ndv= sketches for every " +
      "file they write, copy-on-write and merge-on-read alike") {
    val root = Files.createTempDirectory("graft-ndv-root").toString
    spark.conf.set("spark.sql.catalog.gndv", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gndv.root", root)
    def seed(dir: String): Unit = {
      ManifestTable.commitWithStats(spark.range(0, 50)
          .select(col("id").as("k"), (col("id") * 10).as("p")).coalesce(1),
        dir, append = true, "k")
      ManifestTable.commitWithStats(spark.range(50, 100)
          .select(col("id").as("k"), (col("id") * 10).as("p")).coalesce(1),
        dir, append = true, "k")
    }
    def assertNdvs(dir: String, before: Set[String], what: String)
        : Set[String] = {
      val snap = ManifestTable.snapshotFor(dir, None)
      val fresh = snap.files.toSet -- before
      assert(fresh.nonEmpty, s"$what wrote no file")
      fresh.foreach(f => assert(
        snap.ndvs.getOrElse(f, Seq.empty).exists(_._1 == "k"),
        s"$what: new file $f has no #ndv= line for k"))
      snap.files.toSet
    }
    val src = "ndv_src_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    spark.range(60, 63).select(col("id").as("k"), lit(-1L).as("p"))
      .unionByName(spark.range(500, 503)
        .select(col("id").as("k"), lit(7L).as("p")))
      .createOrReplaceTempView(src)
    val merge = s"USING $src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET t.p = s.p " +
      "WHEN NOT MATCHED THEN INSERT (k, p) VALUES (s.k, s.p)"
    // copy-on-write (the default mode): group replacement
    val cow = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    seed(s"$root/$cow")
    var files = ManifestTable.snapshotFor(s"$root/$cow", None).files.toSet
    spark.sql(s"MERGE INTO gndv.$cow t $merge")
    files = assertNdvs(s"$root/$cow", files, "copy-on-write MERGE")
    spark.sql(s"UPDATE gndv.$cow SET p = 0 WHERE k BETWEEN 0 AND 4")
    assertNdvs(s"$root/$cow", files, "copy-on-write UPDATE")
    // merge-on-read: a DELETE over the DV budget rewrites its file,
    // a MERGE appends one insert file
    val mor = "t_" + java.util.UUID.randomUUID().toString.replace("-", "")
    spark.sql(s"CREATE TABLE gndv.$mor (k BIGINT, p BIGINT) " +
      "USING `graft-manifest` TBLPROPERTIES ('merge.mode'='merge-on-read')")
    seed(s"$root/$mor")
    files = ManifestTable.snapshotFor(s"$root/$mor", None).files.toSet
    spark.sql(s"DELETE FROM gndv.$mor WHERE k % 10 <> 0 AND k < 50")
    files = assertNdvs(s"$root/$mor", files, "merge-on-read DELETE")
    spark.sql(s"MERGE INTO gndv.$mor t $merge")
    assertNdvs(s"$root/$mor", files, "merge-on-read MERGE")
    assert(ManifestTable.read(spark, s"$root/$mor").count() == 55L + 3L)
  }

  test("a conflict abort deletes the aborting writer's staged files") {
    val table = Files.createTempDirectory("graft-abort-stage").toString
    ManifestTable.commitWithStats((1L to 50L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1), table, append = true, "k")
    ManifestTable.commitWithStats((51L to 100L).map(k => (k, k))
      .toDF("k", "v").coalesce(1), table, append = true, "k")
    // the rival: once the merge has pinned v2, publish v3 without the
    // file the merge rewrites (as a concurrent rewrite would)
    val manifests = Paths.get(table, "_manifests")
    val victim = ManifestTable.snapshotFor(table, None).files.head
    ManifestPublishRival.fired.set(false)
    ManifestPublishRival.act = () => {
      val v2 = Files.readAllLines(manifests.resolve("v2"))
      v2.removeIf(l => l.contains(victim))
      Files.write(manifests.resolve("v3"), v2); ()
    }
    val rivalUdf = udf((k: Long) => { ManifestPublishRival.fire(); k })
    val updates = Seq((7L, -7L), (500L, 5L)).toDF("k", "v")
      .withColumn("k", rivalUdf(col("k")))
    val ex = intercept[IllegalArgumentException] {
      ManifestTable.mergeByKey(spark, table, updates, "k")
    }
    assert(ManifestPublishRival.fired.get(), "the rival never ran")
    assert(ex.getMessage.contains("concurrent rewrite removed"),
      ex.getMessage)
    assert(!dataDirs(table).exists(_.startsWith("m-")),
      s"aborted merge left staging behind: ${dataDirs(table)}")
    assert(ManifestTable.versions(table) == Seq(1L, 2L, 3L))
  }
}
