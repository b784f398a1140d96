package perfbench

import java.sql.Timestamp
import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Row counts of one generated table set. The shapes follow the
  * TPC-H-like tables the registry queries read (same names, columns and
  * types), scaled down so that a run fits the benchmark's time budget.
  */
final case class Scale(
    name: String, customers: Int, parts: Int, suppliers: Int, orders: Int,
    documents: Int, embeddings: Int)

object Scale {
  // ~1/10 of the sf0.1 row counts: each registry query then costs
  // 0.3-4 s warm on 4 cores, most of it driver-side (plan build,
  // Catalyst, scheduling), which is what the iterative operators spend
  // their time on at every scale
  val full = Scale("full", 1500, 2000, 100, 15000, 500, 500)
  // brief runs for the benchmark's own tests
  val smoke = Scale("smoke", 150, 200, 10, 1500, 200, 300)

  def byName(n: String): Scale = n match {
    case "full" => full
    case "smoke" => smoke
    case other => throw new IllegalArgumentException(s"scale: $other")
  }
}

/** Seeded generator of the input tables. The same seed and scale give
  * the same rows; the tables are written as parquet under `dir` with
  * the names `graft.Tables.load` expects.
  */
object Gen {

  private val segments =
    Seq("BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE")
  private val partWords = Seq("large", "small", "blue", "red", "green",
    "hot", "cold", "ring", "bolt", "screw", "nut", "plate", "rod", "tube",
    "wire", "gear")
  private val partTypes =
    Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  private val vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Seq("en" -> 0.41, "de" -> 0.1475, "fr" -> 0.1475,
    "es" -> 0.1475, "zh" -> 0.1475)
  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private val day0 = LocalDate.parse("1995-01-01")
  private val orderDays = 2403 // 1995-01-01 .. 2001-08-01

  private def ts(d: LocalDate): Timestamp =
    Timestamp.valueOf(d.atStartOfDay())

  private def cents(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  private def weighted(r: Random, xs: Seq[(String, Double)]): String = {
    val u = r.nextDouble()
    var acc = 0.0
    xs.find { case (_, p) => acc += p; u < acc }.map(_._1)
      .getOrElse(xs.last._1)
  }

  /** Tables the store workload reads. */
  val storeTables: Set[String] = Set("nation", "customer", "supplier", "part", "orders")

  /** Generate the named tables of `scale` from `seed` into `dir`. Each
    * table has its own generator, so its rows do not depend on which
    * other tables are written.
    */
  def write(spark: SparkSession, dir: String, scale: Scale, seed: Long,
      tables: Set[String] = Set("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings")): Unit = {
    def rng(name: String) = new Random(seed * 31 + name.hashCode)
    def save(name: String, fields: (String, DataType)*)(rows: Random => Seq[Row]): Unit =
      if (tables.contains(name))
        spark.createDataFrame(java.util.Arrays.asList(rows(rng(name)): _*),
          StructType(fields.map { case (n, t) => StructField(n, t) }))
          .coalesce(1).write.parquet(s"$dir/$name.parquet")

    save("region", "r_regionkey" -> IntegerType, "r_name" -> StringType) { _ =>
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
        .zipWithIndex.map { case (n, i) => Row(i, n) }
    }

    save("nation", "n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType) { _ =>
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    }

    save("customer", "c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType) { r =>
      (0 until scale.customers).map(i => Row(i.toLong, f"Customer#$i%09d",
        r.nextInt(25), cents(r, -1000, 10000), pick(r, segments)))
    }

    save("supplier", "s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType) { r =>
      (0 until scale.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d",
        r.nextInt(25), cents(r, -999.99, 9999.99)))
    }

    save("part", "p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType) { r =>
      (0 until scale.parts).map(i => Row(i.toLong,
        s"${pick(r, partWords)} ${pick(r, partWords)}",
        s"Brand#${11 + r.nextInt(45)}", pick(r, partTypes), 1 + r.nextInt(50),
        cents(r, 900, 1000)))
    }

    lazy val orderDates = {
      val r = rng("orderdate")
      Array.fill(scale.orders)(day0.plusDays(r.nextInt(orderDays + 1)))
    }
    save("orders", "o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType) { r =>
      (0 until scale.orders).map(i => Row(i.toLong,
        r.nextInt(scale.customers).toLong, pick(r, Seq("O", "P", "F")),
        cents(r, 1000, 500000), ts(orderDates(i)), pick(r, priorities)))
    }

    save("lineitem", "l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampType) { r =>
      (0 until scale.orders).flatMap { o =>
        (1 to 1 + r.nextInt(7)).map { ln =>
          Row(o.toLong, r.nextInt(scale.parts).toLong,
            r.nextInt(scale.suppliers).toLong, ln, (1 + r.nextInt(50)).toDouble,
            cents(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
            pick(r, Seq("N", "A", "R")), pick(r, Seq("O", "F")),
            ts(orderDates(o).plusDays(1 + r.nextInt(95))))
        }
      }
    }

    save("documents", "doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType) { r =>
      val t = texts(r, scale.documents)
      val lr = rng("lang")
      t.indices.map(i => Row(i.toLong, t(i), weighted(lr, langs), s"src${i % 20}",
        t(i).length.toLong))
    }

    save("embeddings", "vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType, containsNull = true),
        "label" -> IntegerType) { r =>
      val centers = Array.fill(10, 64)(r.nextGaussian())
      (0 until scale.embeddings).map { i =>
        val label = r.nextInt(10)
        Row(i.toLong,
          centers(label).map(c => (c + 0.35 * r.nextGaussian()).toFloat).toSeq, label)
      }
    }
  }

  /** Document texts over a 30-word vocabulary, with 2% near-duplicates
    * (an earlier text with a few words changed) and 0.4% exact copies,
    * so the dedup operators have pairs to find.
    */
  private def texts(r: Random, n: Int): Array[String] = {
    val out = new Array[String](n)
    for (i <- out.indices) {
      val u = r.nextDouble()
      out(i) =
        if (i > 0 && u < 0.004) out(r.nextInt(i))
        else if (i > 0 && u < 0.024) {
          val ws = out(r.nextInt(i)).split(" ")
          (0 until 1 + r.nextInt(3)).foreach(_ => ws(r.nextInt(ws.length)) = "dup")
          ws.mkString(" ")
        } else Seq.fill(10 + r.nextInt(91))(pick(r, vocab)).mkString(" ")
    }
    out
  }
}
