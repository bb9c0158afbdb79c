package graft.perfbench

import java.nio.file.Path
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.ManifestTable

/** Writes beside reads on one manifest table.
  *
  * Chosen because small DML is bound by job count and driver work, not
  * data volume, and because deletion vectors trade read cost against
  * write cost: merges and deletes publish positions instead of
  * rewriting files, reads pay to mask them, and compaction pays the
  * debt down. Loads `sources` (ManifestTable and the graft-manifest
  * data source) and the Spark scheduler; bypasses `pipelines` and
  * `operators`.
  *
  * A batch is five operations in a seeded order: a pruned read through
  * `readPrunedTyped`, a filtered read through `format("graft-manifest")`,
  * `countRows`, `mergeByKeyDv` of 1k keys (80% existing, 20% new) and
  * `deleteRangeDv` of 500 consecutive keys; then, alternately, one
  * `streamMerge` AvailableNow epoch of 500 rows (even batches) or
  * `compact` plus `vacuum` (odd batches), so compaction runs every 12
  * operations and any two consecutive batches hold the whole mix.
  * Every operation is checked against an in-memory replay of the
  * operation log: reads by an order-free aggregate of the range,
  * everything else by `countRows`. */
final class TableMaintenance(spark: SparkSession, tr: Tracer, ledger: Ledger,
    dir: Path, seed: Long) extends Workload {
  import TableMaintenance._

  private val table = dir.resolve("table").toString
  private val streamSrc = dir.resolve("stream-src").toString
  private val checkpoint = dir.resolve("stream-ckpt").toString
  private val rnd = new scala.util.Random(seed)
  private val seedMix = Math.floorMod(seed, 1000003L)

  // the replay model: key -> (v, ts)
  private val vOf = mutable.LongMap.empty[Long]
  private val tsOf = mutable.LongMap.empty[Long]
  private var nextKey = InitialRows.toLong
  private var opNo = 0L

  private var filesSeen = 0L
  private var filesScanned = 0L
  private var bytesWritten = 0L
  private var bytesUpdated = 0L
  private var filesRewritten = 0L
  private var filesDv = 0L

  def rowsPerBatch: Long = MergeKeys + DeleteKeys

  def setup(): Unit = {
    val df = spark.range(0L, InitialRows.toLong, 1L, RangeFiles)
      .select(col("id").as("k"),
        pmod(col("id") * lit(2654435761L) + lit(seedMix * 1000003L),
          lit(1000000007L)).as("v"),
        lit(0L).as("ts"))
      .withColumn("payload", payloadOf(col("k"), col("v")))
    ManifestTable.commitWithStats(df, table, append = false, "k")
    var k = 0L
    while (k < InitialRows) {
      vOf(k) = Math.floorMod(k * 2654435761L + seedMix * 1000003L, 1000000007L)
      tsOf(k) = 0L
      k += 1
    }
  }

  def batch(i: Int): Unit = {
    val round = rnd.shuffle(Seq("readPrunedTyped", "format_read", "countRows",
      "mergeByKeyDv", "deleteRangeDv"))
    (round :+ (if (i % 2 == 0) "streamMerge" else "compact")).foreach(run)
  }

  private def run(op: String): Unit = {
    opNo += 1
    op match {
      case "readPrunedTyped" =>
        val (lo, hi) = readRange()
        ledger.op("sources.manifest.readPrunedTyped") {
          val (df, nFiles, nScanned) = ManifestTable.readPrunedTyped(spark,
            table, Seq(("k", lo: Any, hi: Any)), None)
          filesSeen += nFiles; filesScanned += nScanned
          fingerprint(df)
        }(fp => checkRange(fp, lo, hi))
      case "format_read" =>
        val (lo, hi) = readRange()
        ledger.op("sources.manifest.format_read") {
          fingerprint(spark.read.format("graft-manifest")
            .option("path", table).load()
            .filter(col("k").between(lo, hi)))
        }(fp => checkRange(fp, lo, hi))
      case "countRows" =>
        ledger.op("sources.manifest.countRows") {
          ManifestTable.countRows(table)
        }(n => Check(n.contains(vOf.size.toLong),
          s"op $opNo countRows $n, replay ${vOf.size}"))
      case "mergeByKeyDv" =>
        val rows = updates(MergeKeys)
        val upd = frame(rows)
        dml("sources.manifest.mergeByKeyDv", rows.size) {
          val (_, rw, dv, _) = ManifestTable.mergeByKeyDv(spark, table, upd,
            "k", DvMaxFraction)
          (rw, dv)
        } { rows.foreach { case (k, v, ts) => vOf(k) = v; tsOf(k) = ts } }
      case "deleteRangeDv" =>
        val lo = (rnd.nextDouble() * (nextKey - DeleteKeys)).toLong
        val hi = lo + DeleteKeys - 1
        val dead = (lo to hi).count(vOf.contains)
        dml("sources.manifest.deleteRangeDv", dead) {
          val (_, rw, dv, _) = ManifestTable.deleteRangeDv(spark, table, "k",
            lo, hi, DvMaxFraction)
          (rw, dv)
        } { (lo to hi).foreach { k => vOf.remove(k); tsOf.remove(k) } }
      case "streamMerge" =>
        val rows = updates(StreamKeys)
        frame(rows).coalesce(1).write.mode("append").parquet(streamSrc)
        dml("sources.manifest.streamMerge", rows.size) {
          ManifestTable.streamMerge(
            spark.readStream.schema(Schema).parquet(streamSrc), table,
            checkpoint, "k", "ts", DvMaxFraction)
          (0, 0)
        } { rows.foreach { case (k, v, ts) => vOf(k) = v; tsOf(k) = ts } }
      case "compact" =>
        ledger.op("sources.manifest.compact") {
          val r = ManifestTable.compact(spark, table, CompactTargetBytes)
          ManifestTable.vacuum(table, keepVersions = 1, graceMs = 0L)
          r
        }(_ => Check(ManifestTable.countRows(table).contains(vOf.size.toLong),
          s"op $opNo compact: countRows ${ManifestTable.countRows(table)}, replay ${vOf.size}"))
    }
  }

  /** A write: applies `model` to the replay only if the call returned,
    * then checks the row count and books the bytes it wrote. */
  private def dml(kind: String, rows: Int)(call: => (Int, Int))(
      model: => Unit): Unit = {
    val before = Util.treeBytes(java.nio.file.Paths.get(table))
    ledger.op(kind)(call) { case (rw, dv) =>
      model
      filesRewritten += rw; filesDv += dv
      bytesWritten += Util.treeBytes(java.nio.file.Paths.get(table)) - before
      bytesUpdated += rows.toLong * RowBytes
      val n = ManifestTable.countRows(table)
      Check(n.contains(vOf.size.toLong), s"op $opNo $kind: countRows $n, replay ${vOf.size}")
    }
  }

  private def readRange(): (Long, Long) = {
    val lo = (rnd.nextDouble() * (nextKey - ReadKeys)).toLong
    (lo, lo + ReadKeys - 1)
  }

  /** `n` rows: 80% random live keys, 20% new keys, one row per key. */
  private def updates(n: Int): Seq[(Long, Long, Long)] = {
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < n * 4 / 5) {
      val k = (rnd.nextDouble() * nextKey).toLong
      if (vOf.contains(k)) keys += k
    }
    while (keys.size < n) { keys += nextKey; nextKey += 1 }
    keys.toSeq.map(k => (k, rnd.nextInt(1000000000).toLong, opNo))
  }

  private def frame(rows: Seq[(Long, Long, Long)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (k, v, ts) => Row(k, v, ts, s"p$k-$v") }, 1), Schema)

  private def checkRange(fp: Fingerprint, lo: Long, hi: Long): Unit = {
    val want = modelFingerprint(k => k >= lo && k <= hi)
    Check(fp == want, s"op $opNo read [$lo, $hi]: table $fp, replay $want")
  }

  private def modelFingerprint(keep: Long => Boolean): Fingerprint = {
    var n = 0L; var sk = BigInt(0); var sv = BigInt(0); var st = BigInt(0)
    vOf.foreach { case (k, v) =>
      if (keep(k)) { n += 1; sk += k; sv += v; st += tsOf(k) }
    }
    Fingerprint(n, sk, sv, st, 0L)
  }

  override def finish(): Unit = {
    val all = modelFingerprint(_ => true)
    ledger.op("bench.final_read") {
      ManifestTable.read(spark, table).select("k", "v", "ts", "payload")
        .collect()
    } { rows =>
      Check(rows.length == vOf.size, s"read: ${rows.length} rows, replay ${vOf.size}")
      rows.foreach { r =>
        val k = r.getLong(0)
        Check(vOf.get(k).contains(r.getLong(1)) && tsOf(k) == r.getLong(2) &&
          r.getString(3) == s"p$k-${r.getLong(1)}", s"read: row $r differs from replay")
      }
    }
    ledger.op("bench.final_format_read") {
      fingerprint(spark.read.format("graft-manifest").option("path", table).load())
    }(fp => Check(fp == all, s"format read: table $fp, replay $all"))
  }

  override def layerMetrics(): Map[String, Double] = {
    val dvLive = ManifestTable.history(spark, table)
      .orderBy(col("version").desc).select("dv_positions").head().getLong(0)
    val live = vOf.iterator.map { case (k, v) =>
      24L + s"p$k-$v".length }.sum
    Map(
      "sources.manifest.files_scanned_ratio" ->
        filesScanned.toDouble / filesSeen.max(1L),
      "sources.manifest.dv_positions_live" -> dvLive.toDouble,
      "sources.manifest.write_amp" -> bytesWritten.toDouble / bytesUpdated.max(1L),
      "sources.manifest.files_rewritten" -> filesRewritten.toDouble,
      "sources.manifest.files_dv" -> filesDv.toDouble,
      "sources.manifest.space_amp" ->
        Util.treeBytes(java.nio.file.Paths.get(table)).toDouble / live)
  }
}

object TableMaintenance {
  val InitialRows = 100000
  val RangeFiles = 16
  val ReadKeys = 2000
  val MergeKeys = 1000
  val DeleteKeys = 500
  val StreamKeys = 500
  val DvMaxFraction = 0.5
  /** The usual OPTIMIZE target file size; the whole table fits in one. */
  val CompactTargetBytes: Long = 128L << 20
  /** Logical bytes of one row: three longs and a ~21-byte payload. */
  val RowBytes = 45L

  val Schema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType),
    StructField("ts", LongType), StructField("payload", StringType)))

  def payloadOf(k: org.apache.spark.sql.Column,
      v: org.apache.spark.sql.Column) =
    concat(lit("p"), k.cast("string"), lit("-"), v.cast("string"))

  /** Order-free summary of (k, v, ts) rows plus the count of rows whose
    * payload does not match their key and value. */
  final case class Fingerprint(n: Long, sumK: BigInt, sumV: BigInt,
      sumTs: BigInt, badPayload: Long)

  def fingerprint(df: DataFrame): Fingerprint = {
    val r = df.agg(count(lit(1)), sum(col("k").cast("decimal(38,0)")),
      sum(col("v").cast("decimal(38,0)")), sum(col("ts").cast("decimal(38,0)")),
      sum(when(col("payload") =!= payloadOf(col("k"), col("v")), 1L)
        .otherwise(0L))).head()
    def big(i: Int) =
      if (r.isNullAt(i)) BigInt(0) else BigInt(r.getDecimal(i).toBigInteger)
    Fingerprint(r.getLong(0), big(1), big(2), big(3),
      if (r.isNullAt(4)) 0L else r.getLong(4))
  }
}
