package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.Merge
import graft.pipelines.{Attributes, Importer}
import graft.sources.ManifestTable

/** The paper's own job: a raw product dump refreshed into a committed
  * catalog.
  *
  * Set-up writes a `;`-separated Taobao-style dump of about 20k SKUs
  * under 4k master codes, with dirty prices (`1 299,50`), `.0` SKU
  * suffixes, `key:value-key:value` attributes, image arrays, details
  * HTML and rows without a master code, imports it and commits the
  * starting snapshot. A batch reads a fresh delta dump of 5k rows (80%
  * updated SKUs, 20% new ones, plus rejects), runs it through
  * `Importer.loadRaw`/`runFrom` and the `Attributes` dictionaries and
  * links, and merges it into the manifest product and collection
  * tables.
  *
  * Each batch then reads the SKUs of 40 consecutive masters back
  * through `format("graft-manifest")`, as a consumer of the catalog
  * would.
  *
  * Chosen because its time goes to `pipelines` string repair and to
  * copy-on-write merges in `sources` (every delta touches most product
  * files), while it bypasses `operators.Dedup` and the text kernels.
  *
  * After each delta the product table must equal a replay of every
  * dump so far, computed from the generator's clean SKUs and prices
  * (never from the dirty strings the importer repairs). */
final class CatalogRefresh(spark: SparkSession, tr: Tracer, ledger: Ledger,
    dir: Path, seed: Long, breakInput: Boolean) extends Workload {
  import CatalogRefresh._

  private val rnd = new scala.util.Random(seed)
  private val mapPath = dir.resolve("map.csv").toString
  private def table(name: String) = dir.resolve("catalog").resolve(name).toString
  private val products = table("products")
  private val collections = table("collections")
  private val attrKeys = table("attr_keys")
  private val attrValues = table("attr_values")
  private val attrLinks = table("collection_attr_links")

  /** The generator's clean view of a master and of a SKU. */
  private final case class Master(code: String, name: String,
      category: String, attrs: String, images: Seq[String],
      video: Option[String], html: Option[String], var skus: Int)
  private final case class Sku(master: String, priceCents: Option[Long],
      inventory: Long)
  private val masters = mutable.ArrayBuffer.empty[Master]
  private val skuNames = mutable.ArrayBuffer.empty[String]
  /** Replay model: clean SKU -> its latest clean row. */
  private val model = mutable.HashMap.empty[String, Sku]

  def rowsPerBatch: Long = DeltaRows.toLong
  /** Set-up already runs the importer and the commits three times. */
  override def warmupBatches: Int = 0

  def setup(): Unit = {
    Files.createDirectories(dir.resolve("dumps"))
    Files.write(java.nio.file.Paths.get(mapPath), MappingCsv.getBytes(UTF_8))
    (0 until BaseMasters).foreach(_ => newMaster())
    val rows = mutable.ArrayBuffer.empty[String]
    masters.foreach { m =>
      (0 until 1 + rnd.nextInt(2 * SkusPerMaster - 1)).foreach(_ =>
        rows += skuRow(m, newSku(m)))
    }
    rows ++= rejects(rows.size / 100)
    val path = writeDump("base", rows.toSeq)
    // five commits read the import; cache it so the dump is parsed once
    val t0 = Importer.runFrom(spark, Importer.loadRaw(spark, path), mapPath, "base")
    val t = t0.copy(products = t0.products.cache(),
      collections = t0.collections.cache())
    val pairs = Attributes.explodePairs(t.collections, "collection_id",
      col("attributes_raw"))
    ManifestTable.commitWithStats(t.products, products, append = false, "sku")
    ManifestTable.commitWithStats(t.collections, collections, append = false,
      "collection_id")
    ManifestTable.commit(Attributes.keyDict(pairs), attrKeys, append = false)
    ManifestTable.commit(Attributes.valueDict(pairs), attrValues, append = false)
    ManifestTable.commit(Attributes.links(pairs, "collection_id",
      spark.emptyDataFrame.selectExpr("'' AS collection_id",
        "'' AS attr_value_id")), attrLinks, append = false)
    t.products.unpersist(blocking = true)
    t.collections.unpersist(blocking = true)
    Check(ManifestTable.countRows(products).contains(model.size.toLong),
      s"base import: ${ManifestTable.countRows(products)} products, " +
        s"replay ${model.size}")
  }

  def batch(i: Int): Unit = {
    val path = writeDump(s"delta-$i", delta())
    val input = if (breakInput) path + ".missing" else path
    ledger.op("bench.refresh") {
      val raw = tr.span("sources.csv_read")(Importer.loadRaw(spark, input))
      val t = tr.span("pipelines.importer") {
        val t = Importer.runFrom(spark, raw, mapPath, s"delta-$i")
        t.copy(products = tr.boundary(t.products),
          collections = tr.boundary(t.collections))
      }
      val (keys, values, links) = tr.span("pipelines.attributes") {
        val pairs = tr.boundary(Attributes.explodePairs(t.collections,
          "collection_id", col("attributes_raw")))
        (tr.boundary(Merge.insertIfAbsent(ManifestTable.read(spark, attrKeys),
            Attributes.keyDict(pairs), Seq("attr_key_id"))),
          tr.boundary(Merge.insertIfAbsent(ManifestTable.read(spark, attrValues),
            Attributes.valueDict(pairs), Seq("attr_value_id"))),
          tr.boundary(Attributes.links(pairs, "collection_id",
            ManifestTable.read(spark, attrLinks))))
      }
      tr.span("sources.manifest.mergeByKey") {
        ManifestTable.mergeByKey(spark, products, t.products, "sku")
      }
      tr.span("sources.manifest.mergeByKey") {
        ManifestTable.mergeByKey(spark, collections, t.collections,
          "collection_id")
      }
      Seq(keys -> attrKeys, values -> attrValues, links -> attrLinks)
        .foreach { case (df, to) =>
          tr.span("sources.manifest.commit") {
            ManifestTable.commit(df, to, append = false)
          }
        }
    }(_ => checkProducts(productRows(ManifestTable.read(spark, products)),
      _ => true))
    // a reader of the refreshed catalog: the SKUs of 40 consecutive
    // masters through the graft-manifest source, pruned on SKU zones
    val first = rnd.nextInt(masters.size - ReadMasters)
    val (lo, hi) = (masters(first).code, masters(first + ReadMasters).code)
    ledger.op("sources.manifest.format_read") {
      productRows(spark.read.format("graft-manifest").option("path", products)
        .load().filter(col("sku").between(lo, hi)))
    }(rows => checkProducts(rows, s => s >= lo && s <= hi))
  }

  private def productRows(df: DataFrame): Array[Row] =
    df.select("sku", "master_code", "collection_id", "selling_price",
      "inventory").collect()

  /** Products read back against the replay restricted to the SKUs
    * `keep` selects, compared as sets of rows. */
  private def checkProducts(got: Array[Row], keep: String => Boolean): Unit = {
    val want = model.count { case (s, _) => keep(s) }
    Check(got.length == want, s"products: ${got.length} rows, replay $want")
    val ids = mutable.HashMap.empty[String, String]
    got.foreach { r =>
      val want = model.get(r.getString(0))
      val price = if (r.isNullAt(3)) None else Some(r.getDouble(3))
      Check(want.exists(w => w.master == r.getString(1) &&
          ids.getOrElseUpdate(w.master, collectionId(w.master)) == r.getString(2) &&
          w.priceCents.map(_ / 100.0) == price &&
          w.inventory == r.getLong(4)),
        s"products: row $r, replay $want")
    }
  }

  private def newMaster(): Master = {
    val code = f"M${masters.size}%06d"
    val nAttrs = 1 + rnd.nextInt(3)
    val attrs = rnd.shuffle(AttrKeys).take(nAttrs).map(k =>
      s"$k:${AttrValues(rnd.nextInt(AttrValues.size))}").mkString("-")
    val m = Master(code,
      Seq.fill(2)(Words(rnd.nextInt(Words.size))).mkString(" ").capitalize,
      Categories(rnd.nextInt(Categories.size)), attrs,
      Seq.fill(rnd.nextInt(4))(s"https://img.example/$code/${rnd.nextInt(1000)}.jpg"),
      if (rnd.nextInt(5) == 0) Some(s"https://video.example/$code.mp4") else None,
      if (rnd.nextInt(3) == 0) Some(
        s"<p>${Words(rnd.nextInt(Words.size))}</p><img src='https://d.example/$code.jpg'>")
      else None, 0)
    masters += m
    m
  }

  private def newSku(m: Master): String = {
    m.skus += 1
    val s = s"${m.code}-${m.skus}"
    skuNames += s
    s
  }

  /** One dump row for a SKU with freshly drawn price and inventory;
    * records the clean values in the replay model. */
  private def skuRow(m: Master, sku: String): String = {
    val cents = 100L + rnd.nextInt(500000)
    val badPrice = rnd.nextInt(100) == 0
    val inv = rnd.nextInt(500).toLong
    model(sku) = Sku(m.code, if (badPrice) None else Some(cents), inv)
    val rawSku = if (rnd.nextInt(5) == 0) sku + ".0" else sku
    val price = if (badPrice) "n/a" else dirtyPrice(cents)
    val images = if (m.images.isEmpty) "" else m.images.mkString("[", ", ", "]")
    Seq(m.code, rawSku, s"${m.name} ${sku.takeRight(2)}", price, inv.toString,
      m.attrs, images, m.video.getOrElse(""), m.category, m.html.getOrElse(""))
      .mkString(";")
  }

  /** `1 299,50`, `1299,50` or `1299.50` for the same clean price. */
  private def dirtyPrice(cents: Long): String = {
    val whole = cents / 100
    val frac = f"${cents % 100}%02d"
    rnd.nextInt(3) match {
      case 0 =>
        val s = whole.toString
        val grouped = s.reverse.grouped(3).mkString(" ").reverse
        s"$grouped,$frac"
      case 1 => s"$whole,$frac"
      case _ => s"$whole.$frac"
    }
  }

  /** Rows without a master code, which the importer must drop. */
  private def rejects(n: Int): Seq[String] =
    (0 until n).map(j =>
      s";REJ-${rnd.nextInt(1000000)}-$j;No master;1,00;1;;;;Misc;")

  private def delta(): Seq[String] = {
    val updated = mutable.LinkedHashSet.empty[Int]
    while (updated.size < DeltaRows * 4 / 5) updated += rnd.nextInt(skuNames.size)
    val byCode = masters.iterator.map(m => m.code -> m).toMap
    val rows = mutable.ArrayBuffer.empty[String]
    updated.foreach { j =>
      val s = skuNames(j)
      rows += skuRow(byCode(model(s).master), s)
    }
    // new SKUs: half under existing masters, half under new ones
    while (rows.size < DeltaRows) {
      val m = if (rows.size % 2 == 0) masters(rnd.nextInt(masters.size))
        else newMaster()
      rows += skuRow(m, newSku(m))
    }
    rnd.shuffle(rows.toSeq) ++ rejects(DeltaRows / 100)
  }

  private def writeDump(name: String, rows: Seq[String]): String = {
    val p = dir.resolve("dumps").resolve(s"$name.csv")
    Files.write(p, (Header +: rows).mkString("\n").getBytes(UTF_8))
    p.toString
  }

  override def layerMetrics(): Map[String, Double] = {
    val live = model.iterator.map { case (s, k) =>
      s.length + k.master.length + 36 + 8 + 8 }.sum
    Map("sources.manifest.space_amp" ->
      Util.treeBytes(java.nio.file.Paths.get(products)).toDouble / live)
  }
}

object CatalogRefresh {
  val BaseMasters = 1000
  val SkusPerMaster = 5
  val DeltaRows = 1250
  val ReadMasters = 20

  val Header = "Master Code;Product SKU;Product Name;Selling Price;Inventory;" +
    "Attributes;Images;Video Url;Category;Details HTML"
  val MappingCsv: String = Seq(
    "raw_input_field,db_table,field",
    "Master Code,product_collection,master_code",
    "Product Name,product_collection,collection_name",
    "Attributes,product_collection,attributes_raw",
    "Images,product_collection,images_raw",
    "Video Url,product_collection,video_url",
    "Product SKU,product,sku",
    "Selling Price,product,selling_price",
    "Inventory,product,inventory",
    "Category,product_collection,category_raw",
    "Details HTML,product_collection,details_html_raw").mkString("\n") + "\n"

  val Words: Vector[String] = Vector("oak", "pine", "lamp", "chair", "table",
    "desk", "shelf", "sofa", "stool", "bench", "mirror", "rug", "vase",
    "clock", "frame", "basket", "cabinet", "drawer", "bed", "crib")
  val Categories: Vector[String] = Vector("Chairs", "Tables", "Lighting",
    "Storage", "Beds", "Decor", "Textiles", "Kitchen", "Outdoor", "Office",
    "Kids", "Bath")
  val AttrKeys: Vector[String] = Vector("品牌", "材质", "颜色", "brand",
    "size", "color", "material", "style")
  val AttrValues: Vector[String] = Vector("OakCo", "PineCo", "橡木", "松木",
    "红色", "black", "white", "L", "XL", "S", "modern", "classic", "steel",
    "glass", "linen", "walnut")

  /** graft's deterministic id, recomputed without Spark: the SHA-256 of
    * the `|`-joined key, laid out as a uuid. */
  def collectionId(master: String): String = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"pc|$master".getBytes(UTF_8)).map(b => f"$b%02x").mkString
    Seq(h.substring(0, 8), h.substring(8, 12), h.substring(12, 16),
      h.substring(16, 20), h.substring(20, 32)).mkString("-")
  }
}
