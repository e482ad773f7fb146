package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.schema.Schemas

/** Seeded input generation. Every value is a pure function of (seed, salt,
  * key) through a 64-bit hash, so one seed gives identical inputs on every
  * run and the program sees nothing but the files written here. */
object Gen {

  /** Uniform double in [0, 1) from the seed, a per-column salt and keys. */
  def u(seed: Long, salt: Int, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(1000003L))
      .cast("double") / 1000003.0

  /** Uniform long in [0, n). */
  def pick(seed: Long, salt: Int, n: Long, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(n))

  def choose(values: Seq[String], seed: Long, salt: Int, keys: Column*)
      : Column =
    element_at(typedLit(values), (pick(seed, salt, values.size.toLong,
      keys: _*) + 1).cast("int"))

  val Categories: Seq[String] = Seq("Accessories", "Active", "Blazers",
    "Dresses", "Fashion Hoodies", "Intimates", "Jeans", "Jumpsuits",
    "Leggings", "Maternity", "Outerwear", "Pants", "Plus", "Shorts",
    "Skirts", "Sleep", "Socks", "Suits", "Sweaters", "Swim", "Tops",
    "Underwear", "Clothing Sets", "Pants & Capris", "Sweatshirts")

  // ---- reference-shaped pipeline inputs -----------------------------------

  /** One batch of the pipeline workload: `orders` orders with ids from
    * `idBase`, created on `day`, split into `parts` CSV parts per table. */
  final case class BatchSpec(batch: String, day: String, orders: Int,
      idBase: Long, parts: Int, defect: String)

  val NoDefect = "none"
  val NullUser = "null_user_id"
  val DanglingProduct = "dangling_product_id"

  val NumProducts = 2000L

  /** splitmix64 finalizer of (seed, salt, key): the driver-side twin of
    * [[pick]], for inputs written without Spark. */
  private def mix(seed: Long, salt: Int, key: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + key
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def below(seed: Long, salt: Int, key: Long, n: Long): Long =
    java.lang.Math.floorMod(mix(seed, salt, key), n)
  private def unit(seed: Long, salt: Int, key: Long): Double =
    below(seed, salt, key, 1000003L) / 1000003.0
  private def oneOf(values: Seq[String], seed: Long, salt: Int, key: Long) =
    values(below(seed, salt, key, values.size.toLong).toInt)
  private def money(x: Double): String =
    java.math.BigDecimal.valueOf(x).setScale(2,
      java.math.RoundingMode.HALF_UP).toPlainString

  private val TsFormat =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def ts(epochSec: Long): String =
    java.time.LocalDateTime.ofEpochSecond(epochSec, 0,
      java.time.ZoneOffset.UTC).format(TsFormat)

  /** Stage every batch as `<dir>/<batch>/orders_part<N>.csv` and
    * `order_items_part<N>.csv`, plus one `<dir>/products.csv`, written
    * directly (no Spark job). Each part carries its header in the exact
    * field order of [[Schemas]]; every header is checked before returning.
    * Returns the staged files per batch. */
  def stage(seed: Long, specs: Seq[BatchSpec], dir: String)
      : Map[String, (Seq[String], Seq[String])] = {
    writeCsv(s"$dir/products.csv", Schemas.products,
      (0L until NumProducts).iterator.map { id =>
        Seq(id.toString, f"SKU-$id%06d", money(2 + unit(seed, 20, id) * 200),
          oneOf(Categories, seed, 21, id),
          oneOf(Seq("Classic", "Slim", "Relaxed", "Vintage", "Essential"),
            seed, 22, id) + " " + oneOf(Categories, seed, 23, id),
          s"Brand ${below(seed, 24, id, 40)}",
          money(10 + unit(seed, 25, id) * 400),
          oneOf(Seq("Men", "Women"), seed, 26, id))
      })
    val staged = specs.map { s =>
      val day0 = java.time.LocalDate.parse(s.day).toEpochDay * 86400L
      val orders = (0 until s.orders).map { k =>
        val oid = s.idBase + k
        val created = day0 + below(seed, 2, oid, 86400)
        val user =
          if (s.defect == NullUser && k == 0) ""
          else (below(seed, 3, oid, 20000) + 1).toString
        // items per order cycle through 1..7 from a seeded offset, so every
        // batch of a given size holds the same number of rows
        (oid, user, created,
          (java.lang.Math.floorMod(k + below(seed, 7, s.idBase, 7), 7L) + 1)
            .toInt)
      }
      val orderRows = orders.map { case (oid, user, created, n) =>
        oid -> Seq(oid.toString, user,
          oneOf(Seq("Complete", "Shipped", "Processing", "Returned",
            "Cancelled"), seed, 4, oid), ts(created),
          if (unit(seed, 5, oid) < 0.1) ts(created + 9 * 86400) else "",
          ts(created + 86400),
          if (unit(seed, 6, oid) < 0.7) ts(created + 4 * 86400) else "",
          n.toString)
      }
      val itemRows = orders.zipWithIndex.flatMap {
        case ((oid, user, created, n), k) => (1 to n).map { line =>
          val id = oid * 10 + line
          val product =
            if (s.defect == DanglingProduct && k == 0 && line == 1)
              NumProducts + 1000
            else below(seed, 8, id, NumProducts)
          id -> Seq(id.toString, oid.toString, user, product.toString,
            if (unit(seed, 9, id) < 0.1) "returned"
            else oneOf(Seq("complete", "shipped"), seed, 10, id),
            ts(created), ts(created + 86400),
            if (unit(seed, 6, oid) < 0.7) ts(created + 4 * 86400) else "",
            if (unit(seed, 5, oid) < 0.1) ts(created + 9 * 86400) else "",
            money(5 + unit(seed, 11, id) * 495))
        }
      }
      def parts(table: String, schema: StructType,
          rows: Seq[(Long, Seq[String])]): Seq[String] =
        (1 to s.parts).map { p =>
          val path = s"$dir/${s.batch}/${table}_part$p.csv"
          writeCsv(path, schema, rows.iterator
            .filter(r => java.lang.Math.floorMod(r._1, s.parts.toLong) == p - 1)
            .map(_._2))
          path
        }
      s.batch -> (parts("orders", Schemas.orders, orderRows),
        parts("order_items", Schemas.orderItems, itemRows))
    }.toMap
    checkHeader(s"$dir/products.csv", Schemas.products)
    staged.values.foreach { case (os, is) =>
      os.foreach(checkHeader(_, Schemas.orders))
      is.foreach(checkHeader(_, Schemas.orderItems))
    }
    staged
  }

  private def writeCsv(path: String, schema: StructType,
      rows: Iterator[Seq[String]]): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p)
    try {
      w.write(schema.fieldNames.mkString(","))
      w.newLine()
      rows.foreach { r =>
        require(r.size == schema.size && !r.exists(_.contains(",")),
          s"$path: bad row $r")
        w.write(r.mkString(","))
        w.newLine()
      }
    } finally w.close()
  }

  /** Write `df` as one file of `format` and move it to `to`. */
  def writeSingle(df: DataFrame, tmp: String, format: String, to: String)
      : Unit = {
    df.coalesce(1).write.option("header", "true").format(format).save(tmp)
    val ls = Files.list(Paths.get(tmp))
    val found = try ls.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && n.endsWith("." + format)
    }.toSeq finally ls.close()
    require(found.size == 1,
      s"expected one $format file under $tmp, found ${found.size}")
    Files.move(found.head, Paths.get(to), StandardCopyOption.ATOMIC_MOVE)
    deleteTree(Paths.get(tmp))
  }

  /** A CSV part whose header differs from the schema would be read by
    * position under an explicit schema, silently swapping columns. */
  def checkHeader(path: String, schema: StructType): Unit = {
    val r = Files.newBufferedReader(Paths.get(path))
    val header = try r.readLine() finally r.close()
    val want = schema.fieldNames.mkString(",")
    require(header == want, s"$path: header '$header' != '$want'")
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }

  // ---- TPC-H-shaped query inputs ------------------------------------------

  /** The 30 words of the documents corpus of the repository's test tiers. */
  private val Vocab = Seq("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "a", "the",
    "line", "sort", "window", "data", "column", "join", "small", "customer",
    "query", "order", "group", "filter", "big", "vector", "stream")

  /** The query_mix tables, `lineitem` and `documents`, one parquet file
    * each, in the column names and types of the repository's query inputs
    * and fitted to the shape of its test tiers (perfbench/README.md lists
    * both): per order four line items on uniformly drawn order keys, 2/15
    * parts and 1/150 suppliers, and 1/30 documents. A document is 10-99
    * words drawn uniformly from [[Vocab]]; 5 % of the documents copy a
    * random document's words and append "dup". */
  def queryTables(spark: SparkSession, seed: Long, numOrders: Long,
      dir: String): Unit = {
    val numParts = math.max(100L, numOrders * 2 / 15)
    val numDocs = math.max(30L, numOrders / 30)
    val day0 = lit(java.sql.Date.valueOf("1995-01-01"))
    val orderDays = 2404L // 1995-01-01 .. 2001-08-01
    // line items draw their order key, so items per order spread 0..~15
    // around 4 and (order, line number) repeats, as in the test tiers
    val lk = col("lk")
    val lineitem = spark.range(numOrders * 4).select(col("id").as("lk"))
      .withColumn("l_quantity", (pick(seed, 51, 50, lk) + 1).cast("double"))
      .select(pick(seed, 50, numOrders, lk).as("l_orderkey"),
        pick(seed, 52, numParts, lk).as("l_partkey"),
        pick(seed, 53, math.max(10L, numOrders / 150), lk).as("l_suppkey"),
        (pick(seed, 49, 7, lk) + 1).cast("int").as("l_linenumber"),
        col("l_quantity"),
        round(col("l_quantity") * (lit(900.0) + u(seed, 54, lk) * 1200.0), 2)
          .as("l_extendedprice"),
        (pick(seed, 55, 11, lk).cast("double") / 100.0).as("l_discount"),
        (pick(seed, 56, 9, lk).cast("double") / 100.0).as("l_tax"),
        choose(Seq("A", "N", "R"), seed, 57, lk).as("l_returnflag"),
        choose(Seq("O", "F"), seed, 58, lk).as("l_linestatus"),
        date_add(day0, (pick(seed, 59, orderDays, lk) + pick(seed, 48, 95, lk)
          + 1).cast("int")).cast("timestamp_ntz").as("l_shipdate"))
    val d = col("doc_id")
    // every 20th document, from a seeded offset, is a near-duplicate
    val dup = pmod(d + pick(seed, 60, 20), lit(20L)) === 0
    // the words of document `src`, whether or not `src` is itself a copy
    def words(src: Column): Column = {
      val n = (pick(seed, 62, 90, src) + 10).cast("int")
      array_join(transform(sequence(lit(1), n), i =>
        element_at(typedLit(Vocab), (pmod(xxhash64(lit(seed), lit(64), src,
          i), lit(Vocab.size.toLong)) + 1).cast("int"))), " ")
    }
    val docs = spark.range(numDocs).select(col("id").as("doc_id"))
      .withColumn("text", when(dup, concat(words(pick(seed, 61, numDocs, d)),
        lit(" dup"))).otherwise(words(d)))
      .select(d, col("text"),
        choose(Seq.fill(8)("en") ++ Seq("zh", "es", "fr", "de").flatMap(
          Seq.fill(3)(_)), seed, 65, d).as("lang"),
        format_string("src%d", pmod(d, lit(20L))).as("source"),
        length(col("text")).cast("long").as("n_chars"))
    Seq("lineitem" -> lineitem, "documents" -> docs).foreach {
      case (name, df) =>
        writeSingle(df, s"$dir/_w_$name", "parquet", s"$dir/$name.parquet")
    }
  }
}
