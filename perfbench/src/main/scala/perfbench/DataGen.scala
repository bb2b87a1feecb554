package perfbench

import graft.tools.CrossoverGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The registry workloads' input tables, written inside the benchmark's work
  * directory so a run reads nothing outside its checkout.
  *
  * The tables have the testdata's schemas (TESTDATA.md) and its sf0.1 row
  * shapes scaled by `scale`: 1.0 gives sf0.1's counts (events 100k, orders
  * 150k, lineitem ~600k, customer 15k, part 20k, supplier 1k). Every row is
  * a pure function of its id, through the public row generators of
  * [[graft.tools.CrossoverGen]] where one exists, so the same scale always
  * gives byte-identical tables and the pinned output hashes stay valid.
  * Each table is one file, like the testdata, so the program's
  * partition-spreading decisions see the layout they see there.
  */
object DataGen {

  // The sf0.1 documents table's 31-word vocabulary and language weights
  // (CrossoverGen measures them from that table; here they are fixed so the
  // generator reads nothing outside the checkout).
  val Vocab: Array[String] = ("a agg batch big column customer data dup fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark stream table the value " +
    "vector window").split(" ")
  private val Langs = Array("de" -> 702.0, "en" -> 2059.0, "es" -> 744.0, "fr" -> 742.0, "zh" -> 753.0)

  private def rng(salt: Long, id: Long): java.util.Random = {
    var z = salt ^ id
    z += 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    new java.util.Random(z ^ (z >>> 31))
  }

  /** One parquet file named `<name>.parquet`, the testdata's layout. */
  private def write(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = java.nio.file.Paths.get(s"$dir/$name.tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val files = java.nio.file.Files.list(tmp)
    try {
      val part = files.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, java.nio.file.Paths.get(s"$dir/$name.parquet"))
    } finally files.close()
    org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
  }

  private def ntzFromMicros(c: String) = timestamp_micros(col(c)).cast("timestamp_ntz")

  def generate(spark: SparkSession, dir: String, scale: Double): Unit = {
    import spark.implicits._
    def n(base: Long) = math.max((base * scale).toLong, 1L)
    val nEvents = n(100000L)
    val nOrders = n(150000L)
    val nCust = math.max(nOrders / 10L, 1L)
    val nParts = math.max(nOrders * 2L / 15L, 1L)
    val nSupp = math.max(nOrders / 150L, 1L)

    val startUs = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    val stepUs = 30L * 86400L * 1000000L / nEvents
    val nUsers = math.max(nEvents * 3L / 200L, 1L) // sf0.1: 1500 users per 100k events
    val eventTypes = Array("click", "error", "purchase", "signup", "view")
    write(spark.range(nEvents).as[Long].mapPartitions(_.map(
        CrossoverGen.eventRow(_, nUsers, startUs, stepUs, eventTypes)))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", ntzFromMicros("ts")), dir, "events")

    val startDay = java.time.LocalDate.parse("1995-01-01").toEpochDay
    val spanDays = 2404
    write(spark.range(nOrders).as[Long].mapPartitions(_.map(
        CrossoverGen.orderRow(_, nCust, startDay, spanDays)))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "day", "o_orderpriority")
      .withColumn("o_orderdate", timestamp_micros(col("day") * 86400000000L).cast("timestamp_ntz"))
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority"), dir, "orders")

    val flags = Array("A", "N", "R")
    write(spark.range(nOrders).as[Long].mapPartitions(_.flatMap { oid =>
        val orderDay = CrossoverGen.orderRow(oid, nCust, startDay, spanDays)._5
        val r = rng(0x11EA17L, oid)
        (1 to 1 + r.nextInt(7)).map { line =>
          (oid, java.lang.Math.floorMod(r.nextLong(), nParts),
            java.lang.Math.floorMod(r.nextLong(), nSupp), line,
            (1 + r.nextInt(50)).toDouble,
            math.rint((900.0 + r.nextDouble() * 104100.0) * 100) / 100,
            r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
            flags(r.nextInt(3)), if (r.nextInt(2) == 0) "F" else "O",
            orderDay + 1 + r.nextInt(120))
        }
      })
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "ship_day")
      .withColumn("l_linenumber", col("l_linenumber").cast("int"))
      .withColumn("l_shipdate", timestamp_micros(col("ship_day") * 86400000000L).cast("timestamp_ntz"))
      .drop("ship_day"), dir, "lineitem")

    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write(spark.range(nCust).as[Long].mapPartitions(_.map { id =>
        val r = rng(0xC057L, id)
        (id, s"Customer#$id", r.nextInt(25), math.rint((-999.0 + r.nextDouble() * 10999.0) * 100) / 100,
          segments(r.nextInt(segments.length)))
      }).toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), dir, "customer")

    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val adjs = Array("red", "blue", "small", "hot", "green", "cold", "large", "dim")
    val nouns = Array("ring", "widget", "bolt", "gear", "gizmo", "plate", "cog", "pin")
    write(spark.range(nParts).as[Long].mapPartitions(_.map { id =>
        val r = rng(0x9A27L, id)
        (id, s"${adjs(r.nextInt(adjs.length))} ${nouns(r.nextInt(nouns.length))}",
          s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(types.length)), 1 + r.nextInt(50),
          math.rint((900.0 + r.nextDouble() * 99.9) * 100) / 100)
      }).toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"), dir, "part")

    write(spark.range(nSupp).as[Long].mapPartitions(_.map { id =>
        val r = rng(0x50BBL, id)
        (id, s"Supplier#$id", r.nextInt(25), math.rint((-999.0 + r.nextDouble() * 10999.0) * 100) / 100)
      }).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), dir, "supplier")

    write((0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey"),
      dir, "nation")
    write(Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"), (4, "MIDDLE EAST"))
      .toDF("r_regionkey", "r_name"), dir, "region")

    // documents and embeddings are not read by the registry workload's
    // queries; they are written small so the oracle replay, which binds
    // every testdata table, runs over the same directory.
    val langTotal = Langs.map(_._2).sum
    val langCdf = Langs.map(_._1).zip(Langs.map(_._2 / langTotal).scanLeft(0.0)(_ + _).tail)
    val vocab = Vocab
    write(spark.range(n(5000L)).as[Long].mapPartitions(_.map { id =>
        val text = CrossoverGen.docText(id, vocab)
        val r = rng(0x7AB1E5L, id)
        val u = r.nextDouble()
        (id, text, langCdf.find(u <= _._2).map(_._1).getOrElse(langCdf.last._1),
          s"src${r.nextInt(20)}", text.length.toLong)
      }).toDF("doc_id", "text", "lang", "source", "n_chars"), dir, "documents")
    write(spark.range(n(2000L)).as[Long].mapPartitions(_.map { id =>
        val r = rng(0xE58EDL, id)
        val raw = Array.fill(64)(r.nextGaussian())
        val norm = math.sqrt(raw.map(x => x * x).sum)
        (id, raw.map(x => (x / norm).toFloat).toSeq, (id % 10).toInt)
      }).toDF("vec_id", "embedding", "label"), dir, "embeddings")
  }
}
