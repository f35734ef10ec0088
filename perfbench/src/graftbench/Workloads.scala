package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Retrieval
import graft.queries.Queries
import graft.sources.{Generators, TeraSort}

/** Seeded inputs shared by the workloads. Everything derives from the
  * run seed; the engine only ever sees the generated frames. */
final class Inputs(spark: SparkSession, dataDir: String, seed: Long) {
  import spark.implicits._
  /** The head: the most frequent terms of a [[zipfDocs]] corpus, which
    * carry about 29% of all postings. */
  val HeadRanks = 10
  /** Phrases per query batch for each head term: 3 x 10 of 100 queries
    * hold a head term, about the head's share of the postings. */
  val PerHead = 3

  /** Writes `df` as parquet under the run's data directory and reads it
    * back, so later ops scan files instead of re-running generators. */
  def land(name: String, df: DataFrame): DataFrame = {
    val path = s"$dataDir/$name"
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  def bytesOf(name: String): Long = {
    val dir = new java.io.File(s"$dataDir/$name")
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(dir)
  }

  /** A per-purpose seed derived from the run seed. */
  def seedFor(salt: Long): Long = seed * 1000003L + salt

  def zipfDocs(n: Long, vocab: Int, salt: Long): DataFrame =
    Generators.zipfText(spark, n, vocab = vocab, seed = seedFor(salt))
      .select(col("id").as("doc_id"), col("text"))

  /** `sets` batches of `size` 3-term queries over a [[zipfDocs]] corpus.
    * Each query is three consecutive tokens of a seeded document, so every
    * phrase has at least one match. A batch holds exactly `PerHead`
    * phrases for each head term, holding that head term and no other,
    * and fills the rest with phrases holding none: the head-term postings
    * are read on every batch, and a batch's cost does not hang on how many
    * (and which) head terms the seed drew. qids are unique across sets. */
  def querySets(docs: DataFrame, sets: Int, size: Int, salt: Long)
      : Seq[Seq[(Long, String)]] = {
    val n = docs.count()
    val rnd = new scala.util.Random(seed * 7919L + salt)
    val picks = Seq.fill(sets * size * 4)(rnd.nextLong(n))
    val text = docs.filter(col("doc_id").isin(picks.distinct: _*))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // the phrase's slot: 0 without a head term, r with head term r once
    def slot(p: Seq[String]) = p.map(_.drop(1).toInt).filter(_ <= HeadRanks) match {
      case Seq() => 0
      case Seq(r) => r
      case _ => -1
    }
    val from = picks.iterator
    val phrases = Seq.fill(sets) {
      val left = scala.collection.mutable.Map(0 -> (size - HeadRanks * PerHead)) ++
        (1 to HeadRanks).map(_ -> PerHead)
      val batch = scala.collection.mutable.ArrayBuffer[String]()
      while (batch.length < size) {
        require(from.hasNext, "too few documents to fill the query mix")
        val toks = text(from.next()).split(" ").toSeq
        val w = toks.length - 2
        val at = rnd.nextInt(w)
        (0 until w).map(i => toks.slice((at + i) % w, (at + i) % w + 3))
          .find(p => left.getOrElse(slot(p), 0) > 0)
          .foreach { p => left(slot(p)) -= 1; batch += p.mkString(" ") }
      }
      batch.toSeq
    }.flatten
    phrases.zipWithIndex.map { case (p, i) => (i.toLong, p) }.grouped(size).toSeq
  }

  def frame(qs: Seq[(Long, String)]): DataFrame = qs.toDF("qid", "qtext")
}

object Rows {
  def of(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  def digest(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update(r.toString.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** Every qid of the batch got 1 to `k` results, ranked 1..n. */
  def answered(rows: Seq[Row], qids: Seq[Long], k: Int): Boolean = {
    val by = rows.groupBy(_.getAs[Long]("qid"))
    qids.forall { q =>
      val rs = by.getOrElse(q, Nil).map(_.getAs[Int]("rnk")).sorted
      rs.nonEmpty && rs.length <= k && rs == (1 to rs.length)
    }
  }

  def check(name: String, covers: Seq[String])(body: => (Boolean, String))
      : Check =
    try {
      val (ok, detail) = body
      Check(name, covers, ok, detail)
    } catch {
      case scala.util.control.NonFatal(e) => Check(name, covers, false, e.toString)
    }
}

/** serve-small: batches of 100 seeded 3-term queries against one standing
  * positional BM25 index over a 5,000-doc Zipf corpus. The corpus is tiny
  * and each batch runs tens of driver jobs, so control reads and planning
  * dominate. The client runs bm25 → maxscore → phrase, alternating between
  * two query sets. */
final class ServeSmall(spark: SparkSession, in: Inputs) extends Workload {
  val kinds = Seq("bm25", "maxscore", "phrase")
  val K = 5
  val BatchSize = 100
  val Sets = 2
  private val idx = "ss_idx"
  private var sets: Seq[Seq[(Long, String)]] = Nil
  private var frames: Seq[DataFrame] = Nil
  private var warm = Map.empty[String, Seq[Row]]

  private def query(kind: String, s: Int): DataFrame = kind match {
    case "bm25" => Retrieval.bm25Query(spark, idx, frames(s), "qid", "qtext", K)
    case "maxscore" =>
      Retrieval.bm25QueryMaxScore(spark, idx, frames(s), "qid", "qtext", K)
    case "phrase" => Retrieval.bm25PhraseQuery(spark, idx, frames(s), "qid", "qtext", K)
  }

  def setup(): Unit = {
    val docs = in.zipfDocs(5000L, 4096, 1L)
    Log.step("index")(Retrieval.bm25Build(docs, "doc_id", "text", idx,
      positions = true))
    sets = in.querySets(docs, Sets, BatchSize, 2L)
    frames = sets.map(in.frame)
    // the warm-up collects set 0's results; the checks compare them
    warm = kinds.map(k => k -> Log.step("warm " + k)(Rows.of(query(k, 0)))).toMap
  }

  def cycle(c: Int): Seq[Op] =
    kinds.map(k => Op(k, () => Some(query(k, c % Sets)), queries = BatchSize))

  def checks(): Seq[Check] = {
    val qids = sets.head.map(_._1)
    Seq(
      Rows.check("bm25 answers every query", Seq("bm25")) {
        (Rows.answered(warm("bm25"), qids, K), "")
      },
      Rows.check("maxscore top-k = bm25 top-k", Seq("maxscore")) {
        (warm("maxscore") == warm("bm25"), s"${warm("maxscore").length} rows")
      },
      Rows.check("phrase digest stable across the window, every query matched",
          Seq("phrase")) {
        val after = Rows.of(query("phrase", 0))
        (Rows.digest(after) == Rows.digest(warm("phrase")) &&
          Rows.answered(after, qids, K),
          Rows.digest(after) + " vs " + Rows.digest(warm("phrase")))
      })
  }
}

/** mr-batch: the canonical MapReduce jobs over seeded files. */
final class MrBatch(spark: SparkSession, in: Inputs, sfDir: String,
                    outDir: String) extends Workload {
  import spark.implicits._
  val kinds = Seq("wordcount", "secsort", "join", "terasort")
  val TextRows = 300000L
  val Orders = 80000L
  val TeraRows = 600000L
  private var bytes = Map.empty[String, Long]

  def setup(): Unit = {
    val s = spark
    val text = Generators.randomText(s, TextRows, seed = seedOf(1))
      .select(col("id").as("doc_id"), col("text"))
    Log.step("text")(in.land("sf/documents.parquet", text))
    // lineitem/orders: 1-7 lines per order, every line joins one order
    val orders = s.range(Orders).select(col("id").as("o_orderkey"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").map(lit): _*), (pmod(xxhash64(col("id"), lit(seedOf(2))), lit(5)) + 1)
        .cast("int")).as("o_orderpriority"))
    Log.step("orders")(in.land("sf/orders.parquet", orders))
    val lines = s.range(Orders).select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (pmod(xxhash64(col("id"), lit(seedOf(3))), lit(7)) + 1)
          .cast("int"))).as("l_linenumber"))
      .select(col("l_orderkey"), col("l_linenumber"),
        timestamp_seconds(lit(694224000L) + pmod(xxhash64(col("l_orderkey"),
          col("l_linenumber"), lit(seedOf(4))), lit(86400L * 2500))).as("l_shipdate"),
        (pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(seedOf(5))),
          lit(10000000L)) / 100.0).as("l_extendedprice"))
    Log.step("lineitem")(in.land("sf/lineitem.parquet", lines))
    Log.step("teragen")(in.land("tera_in", TeraSort.teragen(s, TeraRows, seed = seedOf(6))))
    bytes = Map(
      "wordcount" -> in.bytesOf("sf/documents.parquet"),
      "secsort" -> in.bytesOf("sf/lineitem.parquet"),
      "join" -> (in.bytesOf("sf/lineitem.parquet") + in.bytesOf("sf/orders.parquet")),
      "terasort" -> in.bytesOf("tera_in"))
    cycle(0).foreach(o => Log.step("warm " + o.kind)(o.call().foreach(Harness.force)))
  }

  private def dataDir = new java.io.File(sfDir).getParent
  private def seedOf(salt: Long): Long = in.seedFor(salt)

  private def job(kind: String)(f: => Option[DataFrame]) =
    Op(kind, () => f, inputBytes = bytes(kind))

  def cycle(c: Int): Seq[Op] = Seq(
    job("wordcount")(Some(Queries.a1_wordcount(spark, sfDir))),
    job("secsort")(Some(Queries.o2_secsort(spark, sfDir))),
    job("join")(Some(Queries.j1_join(spark, sfDir))),
    job("terasort") {
      TeraSort.terasort(spark.read.parquet(s"$dataDir/tera_in"))
        .write.mode("overwrite").option("compression", "uncompressed")
        .parquet(outDir)
      None
    })

  /** Expected totals come straight from the input files, not through
    * the engine's query code. */
  def checks(): Seq[Check] = {
    val teraSum = TeraSort.checksumOf(spark.read.parquet(s"$dataDir/tera_in"))
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val expect = Map(
      "words" -> spark.read.parquet(s"$sfDir/documents.parquet")
        .select(sum(size(split(col("text"), " ")))).as[Long].head(),
      "lines" -> li.count(),
      "cents" -> li.select(sum(floor(col("l_extendedprice") * 100 + 0.5)
        .cast("long"))).as[Long].head())
    Seq(
    Rows.check("teravalidate: sorted, checksum = teragen's", Seq("terasort")) {
      val r = TeraSort.teravalidateFiles(spark, outDir)
      (r.sortedWithin && r.sortedAcross && r.rows == TeraRows &&
        r.checksum.compareTo(teraSum) == 0, r.toString)
    },
    Rows.check("wordcount total = token count", Seq("wordcount")) {
      val got = Queries.a1_wordcount(spark, sfDir).select(sum("cnt")).as[Long].head()
      (got == expect("words"), s"$got vs ${expect("words")}")
    },
    Rows.check("secsort lists every line once", Seq("secsort")) {
      val got = Queries.o2_secsort(spark, sfDir)
        .select(sum(size(split(col("lines"), ",")))).as[Long].head()
      (got == expect("lines"), s"$got vs ${expect("lines")}")
    },
    Rows.check("join totals = lineitem totals", Seq("join")) {
      val (n, cents) = Queries.j1_join(spark, sfDir)
        .select(sum("n_items"), sum("revenue_cents")).as[(Long, Long)].head()
      (n == expect("lines") && cents == expect("cents"), s"$n lines, $cents cents")
    })
  }
}
