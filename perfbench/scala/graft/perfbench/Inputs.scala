package graft.perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generator. Shapes follow the sf0.1 tables (15k customers,
  * 600k lineitems; orders in slices of the probe's size); values are
  * derived from `xxhash64(seed, row, salt)` so the same seed gives the same
  * inputs. Every table is written as ONE parquet file, so a scan arrives as
  * one partition — the layout the single-partition lookup finding is about.
  */
object Inputs {
  val Customers = 15000L
  val Lineitems = 600000L

  private def h(seed: Long, id: Column, salt: Int): Column =
    xxhash64(lit(seed), id, lit(salt))

  private def pick(values: Seq[String], hash: Column): Column =
    element_at(array(values.map(lit): _*), (pmod(hash, lit(values.size.toLong)) + 1).cast(IntegerType))

  private def rows(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, 1).toDF("id")

  def customer(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    rows(spark, Customers).select(
      id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast(StringType), 9, "0")).as("c_name"),
      pmod(h(seed, id, 1), lit(25L)).cast(IntegerType).as("c_nationkey"),
      ((pmod(h(seed, id, 2), lit(1100000L)) - 100000L) / 100.0).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), h(seed, id, 3))
        .as("c_mktsegment"))
  }

  def orders(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    rows(spark, n).select(
      id.as("o_orderkey"),
      pmod(h(seed, id, 11), lit(Customers)).as("o_custkey"),
      pick(Seq("F", "O", "P"), h(seed, id, 14)).as("o_orderstatus"),
      (pmod(h(seed, id, 15), lit(50000000L)) / 100.0).as("o_totalprice"),
      date_add(lit("1992-01-01").cast(DateType), pmod(h(seed, id, 16), lit(2400L)).cast(IntegerType))
        .as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), h(seed, id, 17))
        .as("o_orderpriority"))
  }

  def lineitem(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    rows(spark, Lineitems).select(
      (id / 4).cast(LongType).as("l_orderkey"),
      pmod(h(seed, id, 21), lit(20000L)).as("l_partkey"),
      pmod(h(seed, id, 22), lit(1000L)).as("l_suppkey"),
      (pmod(id, lit(4L)) + 1).cast(IntegerType).as("l_linenumber"),
      (pmod(h(seed, id, 23), lit(50L)) + 1).cast(DoubleType).as("l_quantity"),
      (pmod(h(seed, id, 24), lit(10000000L)) / 100.0).as("l_extendedprice"),
      (pmod(h(seed, id, 25), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(seed, id, 26), lit(9L)) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), h(seed, id, 27)).as("l_returnflag"),
      pick(Seq("F", "O"), h(seed, id, 28)).as("l_linestatus"),
      date_add(lit("1992-01-01").cast(DateType), pmod(h(seed, id, 29), lit(2500L)).cast(IntegerType))
        .as("l_shipdate"))
  }

  /** Seeded fault sets over customer keys: about 1% answer 404, and about
    * 1% are refused with 503 on their first attempt.
    */
  def faults(spark: SparkSession, seed: Long): (Array[Boolean], Array[Boolean]) = {
    val r = rows(spark, Customers).select(
      col("id"),
      (pmod(h(seed, col("id"), 404), lit(100L)) === 0).as("nf"),
      (pmod(h(seed, col("id"), 503), lit(100L)) === 0).as("busy")).collect()
    val nf = new Array[Boolean](Customers.toInt)
    val busy = new Array[Boolean](Customers.toInt)
    r.foreach { row =>
      nf(row.getLong(0).toInt) = row.getBoolean(1)
      busy(row.getLong(0).toInt) = row.getBoolean(2) && !row.getBoolean(1)
    }
    (nf, busy)
  }

  // ---- documents -------------------------------------------------------

  private val Vocab = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter", "group",
    "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window",
    "index", "shard", "token", "corpus", "page", "crawl", "label", "model", "train", "eval")
  private val Langs = Seq("en", "en", "de", "es", "fr", "zh")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** The dedup corpus is fixed: its oracle answer is computed once, by
    * `perfbench/oracle.py`, and stored in `perfbench/golden.json`. The
    * seed only permutes row order, which the dedup results do not depend
    * on. 2000 documents: 1500 random ones, 400 near duplicates (a few words
    * replaced, inserted or dropped), 60 exact copies and 40 too short to
    * shingle.
    */
  lazy val corpus: Seq[Doc] = {
    val rnd = new java.util.SplittableRandom(20240917L)
    def words(n: Int) = Seq.fill(n)(Vocab(rnd.nextInt(Vocab.size)))
    val base = (0 until 1500).map(_ => words(15 + rnd.nextInt(70)))
    val near = (0 until 400).map { _ =>
      val src = base(rnd.nextInt(base.size))
      src.map(w => if (rnd.nextInt(100) < 8) Vocab(rnd.nextInt(Vocab.size)) else w)
        .flatMap(w => rnd.nextInt(100) match {
          case x if x < 3 => Nil
          case x if x < 6 => Seq(w, Vocab(rnd.nextInt(Vocab.size)))
          case _ => Seq(w)
        })
    }
    val exact = (0 until 60).map(_ => base(rnd.nextInt(base.size)))
    val short = (0 until 40).map(_ => words(1 + rnd.nextInt(2)))
    val texts = base ++ near ++ exact ++ short
    // ids in a shuffled order so copies are not adjacent to their sources
    val ids = scala.util.Random.javaRandomToRandom(new java.util.Random(7L)).shuffle(texts.indices.toVector)
    texts.zip(ids).map { case (ws, id) =>
      val t = ws.mkString(" ")
      Doc(id.toLong, t, Langs(id % Langs.size), s"src${id % 20}", t.length.toLong)
    }.sortBy(_.doc_id)
  }

  def corpusDigest(docs: Seq[Doc]): String =
    sha256(docs.sortBy(_.doc_id).map(d => s"${d.doc_id}|${d.lang}|${d.source}|${d.text}"))

  def documents(spark: SparkSession, seed: Long): DataFrame = {
    val order = new java.util.SplittableRandom(seed)
    val docs = corpus.map(d => (order.nextLong(), d)).sortBy(_._1).map(_._2)
    spark.createDataFrame(spark.sparkContext.parallelize(docs, 1)).toDF()
  }

  def sha256(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes(StandardCharsets.UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ---- sink record checksum ------------------------------------------

  /** Order-independent identity of one lineitem record, computed the same
    * way from a source Row and from the JSON the endpoint received.
    */
  def recordHash(values: Seq[String]): Long =
    scala.util.hashing.MurmurHash3.orderedHash(values) & 0xffffffffL

  def rowHash(schema: StructType)(r: Row): Long =
    recordHash(schema.fields.indices.map { i =>
      schema.fields(i).dataType match {
        case DoubleType => java.lang.Double.toString(r.getDouble(i))
        case _ => r.get(i).toString
      }
    })

  def jsonHash(schema: StructType)(n: com.fasterxml.jackson.databind.JsonNode): Long =
    recordHash(schema.fields.toSeq.map { f =>
      val v = n.get(f.name)
      if (v == null) "<missing>"
      else f.dataType match {
        case DoubleType => java.lang.Double.toString(v.asDouble())
        case LongType | IntegerType => v.asLong().toString
        case _ => v.asText()
      }
    })
}
