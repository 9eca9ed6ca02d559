package perfbench

import org.apache.spark.sql.SparkSession

/** TPC-H-shaped tables and `events` stream files.
  *
  * Every value is a hash of (row id, column number), so the rows do not
  * depend on the partitioning. The data is the same for every seed (the seed
  * varies the policies and statements), so it is written once per checkout
  * and reused. Strings are ASCII, which keeps the built-in oracle masks
  * (regexp classes) equal to the program's character-class masks.
  */
object Data {
  /** Bump when the generated rows change, so stale copies are not reused. */
  private val Version = 1
  private val Seed = 0L

  /** `dir` written by `write` once; later calls reuse it. */
  private def cached(dir: String)(write: String => Unit): String = {
    val done = new java.io.File(dir, "_PERFBENCH_COMPLETE")
    if (!done.exists()) {
      Files.deleteTree(new java.io.File(dir))
      write(dir)
      done.createNewFile()
    }
    dir
  }
  /** Column names and SQL types of each generated table, in schema order. */
  val schemas: Map[String, Seq[(String, String)]] = Map(
    "customer" -> Seq("c_custkey" -> "BIGINT", "c_name" -> "STRING",
      "c_address" -> "STRING", "c_nationkey" -> "INT", "c_phone" -> "STRING",
      "c_acctbal" -> "DOUBLE", "c_mktsegment" -> "STRING"),
    "orders" -> Seq("o_orderkey" -> "BIGINT", "o_custkey" -> "BIGINT",
      "o_orderstatus" -> "STRING", "o_totalprice" -> "DOUBLE",
      "o_orderdate" -> "DATE", "o_orderpriority" -> "STRING",
      "o_clerk" -> "STRING"),
    "lineitem" -> Seq("l_orderkey" -> "BIGINT", "l_linenumber" -> "INT",
      "l_partkey" -> "BIGINT", "l_quantity" -> "DOUBLE",
      "l_extendedprice" -> "DOUBLE", "l_discount" -> "DOUBLE",
      "l_returnflag" -> "STRING", "l_shipdate" -> "DATE",
      "l_shipmode" -> "STRING", "l_comment" -> "STRING"),
    "events" -> Seq("event_id" -> "BIGINT", "ts" -> "TIMESTAMP",
      "user_id" -> "BIGINT", "event_type" -> "STRING", "value" -> "DOUBLE",
      "props" -> "STRING"))

  val tpch: Seq[String] = Seq("customer", "orders", "lineitem")

  def customers(sf: Double): Long = math.max(100L, (150000 * sf).toLong)
  def orders(sf: Double): Long = 10 * customers(sf)

  private def pick(h: String, xs: Seq[String]): String =
    s"element_at(array(${xs.map(x => s"'$x'").mkString(", ")}), CAST(pmod($h, ${xs.length}) AS INT) + 1)"

  /** Mixed-case alphanumeric text of `words` hashed words. */
  private def text(seed: Long, col: Int, words: Int): String =
    (0 until words).map { w =>
      val h = s"hex(xxhash64(${seed}L, id, ${100 * col + w}))"
      if (w % 2 == 0) s"lower(substring($h, 1, 7))" else s"substring($h, 8, 5)"
    }.mkString("concat_ws(' ', ", ", ", ")")

  private def selects(table: String, seed: Long, sf: Double): Seq[String] = {
    def h(k: Int) = s"xxhash64(${seed}L, id, $k)"
    val nCust = customers(sf)
    val day0 = 8035 // 1992-01-01, in days
    table match {
      case "customer" => Seq(
        "id + 1 AS c_custkey",
        "concat('Customer#', lpad(CAST(id + 1 AS STRING), 9, '0')) AS c_name",
        s"${text(seed, 2, 3)} AS c_address",
        s"CAST(pmod(${h(3)}, 25) AS INT) AS c_nationkey",
        s"concat(CAST(10 + pmod(${h(3)}, 25) AS STRING), '-', CAST(100 + pmod(${h(4)}, 900) AS STRING), '-', CAST(100 + pmod(${h(5)}, 900) AS STRING), '-', CAST(1000 + pmod(${h(6)}, 9000) AS STRING)) AS c_phone",
        s"CAST(pmod(${h(7)}, 1099999) AS DOUBLE) / 100 - 999.99 AS c_acctbal",
        s"${pick(h(8), Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} AS c_mktsegment")
      case "orders" => Seq(
        "id + 1 AS o_orderkey",
        s"pmod(${h(1)}, $nCust) + 1 AS o_custkey",
        s"${pick(h(2), Seq("F", "O", "P"))} AS o_orderstatus",
        s"CAST(pmod(${h(3)}, 50000000) AS DOUBLE) / 100 + 850 AS o_totalprice",
        s"date_from_unix_date($day0 + CAST(pmod(${h(4)}, 2400) AS INT)) AS o_orderdate",
        s"${pick(h(5), Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} AS o_orderpriority",
        s"concat('Clerk#', lpad(CAST(pmod(${h(6)}, 1000) + 1 AS STRING), 9, '0')) AS o_clerk")
      case "lineitem" => Seq(
        "id DIV 4 + 1 AS l_orderkey",
        "CAST(id % 4 + 1 AS INT) AS l_linenumber",
        s"pmod(${h(1)}, 200000) + 1 AS l_partkey",
        s"CAST(pmod(${h(2)}, 50) + 1 AS DOUBLE) AS l_quantity",
        s"CAST(pmod(${h(3)}, 10000000) AS DOUBLE) / 100 + 900 AS l_extendedprice",
        s"CAST(pmod(${h(4)}, 11) AS DOUBLE) / 100 AS l_discount",
        s"${pick(h(5), Seq("A", "N", "R"))} AS l_returnflag",
        s"date_from_unix_date($day0 + CAST(pmod(${h(6)}, 2500) AS INT)) AS l_shipdate",
        s"${pick(h(7), Seq("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"))} AS l_shipmode",
        s"${text(seed, 8, 4)} AS l_comment")
      case "events" => Seq(
        "id AS event_id",
        s"timestamp_seconds(1700000000 + id * 3 + pmod(${h(1)}, 3)) AS ts",
        s"pmod(${h(2)}, 1000) AS user_id",
        s"${pick(h(3), Seq("view", "click", "cart", "purchase", "search"))} AS event_type",
        s"CAST(pmod(${h(4)}, 100000) AS DOUBLE) / 100 AS value",
        s"concat('{\"ref\":\"', ${text(seed, 5, 2)}, '\"}') AS props")
    }
  }

  private def rows(table: String, sf: Double): Long = table match {
    case "customer" => customers(sf)
    case "orders" => orders(sf)
    case "lineitem" => 4 * orders(sf)
  }

  /** The TPC-H-shaped tables at scale `sf`, as parquet under `cache`;
    * returns table name -> path.
    */
  def tpchTables(spark: SparkSession, cache: String, sf: Double,
      files: Int): Map[String, String] = {
    val dir = cached(s"$cache/tpch-v$Version-sf$sf-f$files") { d =>
      tpch.foreach(t => spark.range(0, rows(t, sf), 1, files)
        .selectExpr(selects(t, Seed, sf): _*).write.parquet(s"$d/$t"))
    }
    tpch.map(t => t -> s"$dir/$t").toMap
  }

  /** `files` event files of `rowsPerFile` rows in a directory under
    * `cache`, named `ev-NNNNN.parquet`, with strictly increasing
    * modification times so a file stream reads them in file-number order.
    * Event ids of file `f` are `[f * rowsPerFile, (f + 1) * rowsPerFile)`;
    * `first` offsets the ids, so that two sets never share one.
    */
  def eventFiles(spark: SparkSession, cache: String, files: Int, rowsPerFile: Int,
      first: Long = 0): String =
    cached(s"$cache/events-v$Version-$first-${files}x$rowsPerFile")(
      writeEvents(spark, _, files, rowsPerFile, first))

  private def writeEvents(spark: SparkSession, dir: String, files: Int,
      rowsPerFile: Int, first: Long): Unit = {
    val staging = s"$dir.staging"
    spark.range(first, first + files.toLong * rowsPerFile, 1, files)
      .selectExpr(selects("events", Seed, 0): _*)
      .write.mode("overwrite").parquet(staging)
    val out = new java.io.File(dir)
    out.mkdirs()
    val parts = new java.io.File(staging).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(parts.length == files, s"expected $files event files, got ${parts.length}")
    val t0 = System.currentTimeMillis() - files * 1000L
    parts.zipWithIndex.foreach { case (p, i) =>
      val dst = new java.io.File(out, f"ev-$i%05d.parquet")
      require(p.renameTo(dst), s"cannot move $p to $dst")
      dst.setLastModified(t0 + i * 1000L)
    }
    Files.deleteTree(new java.io.File(staging))
  }
}

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
