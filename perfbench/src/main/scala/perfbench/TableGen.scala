package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic tables for the batch workload, with the schemas and
  * value shapes `graft.Tables` serves (TPC-H-like star schema plus the
  * events/documents/embeddings tables, as described in FIXTURES.md), so
  * the benchmark needs no data from outside its checkout. Row counts
  * follow the scale factor as the test fixtures' do (lineitem =
  * 6,000,000 x sf). The content is a function of the table name alone:
  * every checkout writes the same rows.
  */
object TableGen {

  val DefaultSf = 0.01

  private val Day = 86400L * 1000000L
  private def epochUs(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay * Day

  private def r2(v: Double): Double = math.round(v * 100) / 100.0

  private def rng(table: String) = new SplittableRandom(table.hashCode.toLong * 31 + 42)

  def tables(sf: Double): Seq[(String, StructType, Seq[Row])] = {
    val nCust = math.max(150, (150000 * sf).toInt)
    val nSupp = math.max(10, (10000 * sf).toInt)
    val nPart = math.max(200, (200000 * sf).toInt)
    val nOrd = math.max(1500, (1500000 * sf).toInt)
    val nLine = math.max(6000, (6000000 * sf).toInt)
    val nEv = math.max(1000, (1000000 * sf).toInt)
    val nDoc = 500
    val nEmb = 500

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val region = (regions.indices.map(i => Row(i, regions(i))),
      StructType(Seq(StructField("r_regionkey", IntegerType),
        StructField("r_name", StringType))))
    val nation = ((0 until 25).map(i => Row(i, s"NATION_$i", i % 5)),
      StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType), StructField("n_regionkey", IntegerType))))

    val segs = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val cr = rng("customer")
    val customer = ((0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
        cr.nextInt(25), r2(-999.99 + cr.nextDouble() * 10999.98),
        segs(cr.nextInt(segs.length)))),
      StructType(Seq(StructField("c_custkey", LongType),
        StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))))

    val sr = rng("supplier")
    val supplier = ((0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d",
        sr.nextInt(25), r2(-999.99 + sr.nextDouble() * 10999.98))),
      StructType(Seq(StructField("s_suppkey", LongType),
        StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))))

    val adj = Array("small", "red", "blue", "hot", "old", "large", "cold", "new")
    val noun = Array("ring", "widget", "bolt", "gear", "gizmo", "plate", "rod", "anvil")
    val types = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    val pr = rng("part")
    val part = ((0 until nPart).map(i => Row(i.toLong,
        s"${adj(pr.nextInt(adj.length))} ${noun(pr.nextInt(noun.length))}",
        s"Brand#${1 + pr.nextInt(25)}", types(pr.nextInt(types.length)),
        1 + pr.nextInt(50), r2(900.0 + (i % 1000) / 10.0))),
      StructType(Seq(StructField("p_partkey", LongType),
        StructField("p_name", StringType), StructField("p_brand", StringType),
        StructField("p_type", StringType), StructField("p_size", IntegerType),
        StructField("p_retailprice", DoubleType))))

    val prio = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val status = Array("F", "O", "P")
    val d0 = epochUs(1995, 1, 1)
    val orr = rng("orders")
    val orders = ((0 until nOrd).map(i => Row(i.toLong, orr.nextInt(nCust).toLong,
        status(orr.nextInt(3)), r2(1000 + orr.nextDouble() * 499000),
        new java.sql.Timestamp((d0 + orr.nextInt(2404) * Day) / 1000),
        prio(orr.nextInt(prio.length)))),
      StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType))))

    val lr = rng("lineitem")
    val flags = Array("A", "N", "R")
    val lineitem = ((0 until nLine).map(_ => Row(lr.nextInt(nOrd).toLong,
        lr.nextInt(nPart).toLong, lr.nextInt(nSupp).toLong, 1 + lr.nextInt(7),
        (1 + lr.nextInt(50)).toDouble, r2(900 + lr.nextDouble() * 99100),
        lr.nextInt(11) / 100.0, lr.nextInt(9) / 100.0, flags(lr.nextInt(3)),
        if (lr.nextBoolean()) "O" else "F",
        new java.sql.Timestamp((d0 + (1 + lr.nextInt(2499)) * Day) / 1000))),
      StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
        StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType))))

    val evTypes = Array("click", "signup", "error", "view", "purchase")
    val er = rng("events")
    val e0 = epochUs(2024, 1, 1)
    val meanGapUs = 30L * Day / nEv
    var ts = e0
    val events = ((0 until nEv).map { i =>
        ts += (er.nextDouble() * 2 * meanGapUs).toLong
        Row(i.toLong, new java.sql.Timestamp(ts / 1000), er.nextInt(150).toLong,
          evTypes(er.nextInt(evTypes.length)),
          // exponential, mean 50: about one value in eight exceeds 100
          r2(0.01 - 50 * math.log(1 - er.nextDouble())),
          s"""{"k": ${er.nextInt(100)}}""")
      },
      StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType))))

    val vocab = ("row the query stream fast spark line small customer group " +
      "value hash batch sort data big filter key agg scan slow table part a " +
      "merge window order column join vector").split(' ')
    val langs = Array("en", "en", "en", "zh", "de", "fr", "es")
    val dr = rng("documents")
    val texts = new Array[String](nDoc)
    val documents = ((0 until nDoc).map { i =>
        // about one in twenty documents is a near-duplicate of an earlier
        // one (one word changed, a trailing "dup"), as in the fixtures
        texts(i) =
          if (i > 10 && dr.nextInt(20) == 0) {
            val w = texts(dr.nextInt(i)).split(' ')
            w(dr.nextInt(w.length)) = vocab(dr.nextInt(vocab.length))
            w.mkString(" ") + " dup"
          } else Iterator.fill(10 + dr.nextInt(90))(vocab(dr.nextInt(vocab.length)))
            .mkString(" ")
        Row(i.toLong, texts(i), langs(dr.nextInt(langs.length)), s"src${i % 20}",
          texts(i).length.toLong)
      },
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))

    val mr = rng("embeddings")
    val centroids = Array.fill(10, 64)(mr.nextDouble() * 2 - 1)
    val embeddings = ((0 until nEmb).map { i =>
        val label = mr.nextInt(10)
        val v = centroids(label).map(c => c + (mr.nextDouble() - 0.5) * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      },
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))))

    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings).map { case (n, (rows, schema)) => (n, schema, rows) }
  }

  /** Write every table as `<dir>/<name>.parquet`, one file each. */
  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tables(sf).foreach { case (name, schema, rows) =>
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }
}
