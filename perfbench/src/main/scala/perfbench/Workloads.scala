package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The generated TPC-H-shaped tables, typed to what SCBF stores (int32,
 * float64, utf8), and helpers the workloads share. */
object Inputs {
  val LineitemCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
    "l_shipdate")

  def lineitem(spark: SparkSession, data: String): DataFrame =
    typed(spark.read.parquet(s"$data/lineitem.parquet"))

  def typed(lineitem: DataFrame): DataFrame =
    lineitem.select(
      col("l_orderkey").cast("int").as("l_orderkey"),
      col("l_partkey").cast("int").as("l_partkey"),
      col("l_suppkey").cast("int").as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("l_linestatus"),
      date_format(col("l_shipdate"), "yyyy-MM-dd").as("l_shipdate"))

  def documents(spark: SparkSession, data: String): DataFrame =
    spark.read.parquet(s"$data/documents.parquet").select(
      col("doc_id").cast("int").as("doc_id"), col("text"), col("lang"), col("source"),
      col("n_chars").cast("int").as("n_chars"))

  /** Average user bytes per value of each column: 4 per int32, 8 per
   * float64, the UTF-8 length for utf8. */
  def widths(df: DataFrame): Map[String, Double] = {
    val fields = df.schema.fields
    val strs = fields.filter(_.dataType.typeName == "string").map(_.name)
    val mean: Map[String, Double] = if (strs.isEmpty) Map.empty else {
      val r = df.select(strs.map(c => avg(octet_length(col(c)))): _*).head()
      strs.indices.map(i => strs(i) -> r.getDouble(i)).toMap
    }
    fields.map { f =>
      f.name -> (f.dataType.typeName match {
        case "integer" => 4.0
        case "double" => 8.0
        case "string" => mean(f.name)
        case t => throw new IllegalArgumentException(s"unexpected column type $t")
      })
    }.toMap
  }

  /** Order-independent checksum of the named columns, exact and free
   * of overflow: count, XOR and a sum of the high bits of a row hash. */
  def checksumSql(cols: Seq[String], from: String, where: String = ""): String =
    s"SELECT count(*) AS n, bit_xor(h) AS x, sum(shiftrightunsigned(h, 24)) AS s FROM " +
      s"(SELECT xxhash64(${cols.mkString(", ")}) AS h FROM $from $where)"

  /** Operation kinds dealt from a seeded, shuffled deck: every full
   * deck holds each kind its exact number of times, so the mix of a run
   * does not drift with the seed. */
  final class Deck(cards: Seq[(String, Int)], rng: Random) {
    private var hand: List[String] = Nil
    /** True between decks: the last card dealt completed one. */
    def atStart: Boolean = hand.isEmpty
    def reset(): Unit = hand = Nil
    def next(): String = {
      if (hand.isEmpty) hand = rng.shuffle(cards.flatMap { case (c, n) => Seq.fill(n)(c) }).toList
      val c = hand.head
      hand = hand.tail
      c
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }
}

/** Read-side layer metrics shared by the SCBF workloads, from the
 * traced operations of one kind. */
object LayerMetrics {
  def reads(ctx: Ctx): Map[String, Double] = {
    val rs = ctx.ops.filter(o => o.kind == "read" && o.traced && o.timed)
    val tr = rs.flatMap(o => ctx.traces.get(o.id))
    val planned = tr.map(_.partitions).filter(_ >= 0)
    val listed = tr.map(_.filesListed).filter(_ >= 0)
    val sums = rs.flatMap(o => ctx.listener.flatMap(_.sumsOf(o.id)))
    val n = math.max(1, rs.length).toDouble
    Map(
      "sources.plan_ms" -> Inputs.median(tr.map(_.planMs).filterNot(_.isNaN).toSeq),
      "sources.files_listed" -> listed.sum / n,
      "sources.files_planned" -> planned.sum / n,
      "sources.prune_ratio" ->
        (if (listed.sum == 0) 0.0 else 1.0 - planned.sum.toDouble / listed.sum),
      "sources.scan_task_ms" -> sums.map(_.runMs).sum / n,
      "sources.bytes_read" -> sums.map(_.bytesRead).sum / n,
      "sources.records_read" -> sums.map(_.recordsRead).sum / n)
  }

  def writes(ctx: Ctx, which: OpRecord => Boolean): Map[String, Double] = {
    val ws = ctx.ops.filter(o => which(o) && o.traced && o.timed)
    val tr = ws.flatMap(o => ctx.traces.get(o.id))
    val sums = ws.flatMap(o => ctx.listener.flatMap(_.sumsOf(o.id)))
    val gaps = ws.flatMap { o =>
      ctx.listener.map(l => o.ms - JobListener.coveredMs(l.jobsOf(o.id)))
    }
    val n = math.max(1, ws.length).toDouble
    Map(
      "sources.write_task_ms" -> sums.map(_.runMs).sum / n,
      "sources.bytes_written" -> tr.map(_.newFileBytes).sum / n,
      "sources.files_written" -> tr.map(_.newFiles).sum / n,
      "sources.commit_gap_ms" -> Inputs.median(gaps.toSeq))
  }

  def log(dirs: Seq[String]): Map[String, Double] = {
    val logs = Listing.sizes(dirs).filter { case (p, _) => Listing.isLog(p) }
    Map("sources.log_files" -> logs.size.toDouble, "sources.log_bytes" -> logs.values.sum.toDouble)
  }
}

/** Read-only loop over SCBF tables written once by set-up. */
final class ScanWorkload(ctx: Ctx, seed: Long, rng: Random) extends Workload {
  private val spark = ctx.spark
  private var dirs: Seq[String] = Nil
  private var width: Map[String, Double] = Map.empty
  private var docWidth: Map[String, Double] = Map.empty
  private var rows = 0L
  private var docRows = 0L
  private var files: Map[String, Int] = Map.empty
  private var ranges: IndexedSeq[(Int, Int)] = IndexedSeq.empty
  private var keys: IndexedSeq[Int] = IndexedSeq.empty
  private var dates: IndexedSeq[String] = IndexedSeq.empty
  private val expected = mutable.Map.empty[String, String]
  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")
  private val Files = 48
  private val Sf = 0.05 // 300k lineitem rows

  override def inputs: (Double, Seq[String]) = (Sf, Seq("lineitem", "documents"))

  def setup(rep: Int): Unit = {
    val root = ctx.work.resolve(s"scan/rep$rep")
    val li = Inputs.lineitem(spark, ctx.data)
    val docs = Inputs.documents(spark, ctx.data)
    li.createOrReplaceTempView("p_li")
    docs.createOrReplaceTempView("p_docs")
    val seedCol = lit(seed)
    // many files, rows spread over them by a seeded hash
    li.repartition(Files, xxhash64(col("l_orderkey"), col("l_linenumber"), seedCol))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
      .write.format("scbf").mode("overwrite").save(s"$root/li")
    // range-clustered copy: min/max stats prune key ranges
    li.repartitionByRange(Files, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
      .write.format("scbf").mode("overwrite").save(s"$root/lis")
    docs.repartition(8, xxhash64(col("doc_id"), seedCol)).sortWithinPartitions("doc_id")
      .write.format("scbf").mode("overwrite").save(s"$root/docs")
    Seq("li", "lis", "docs").foreach { t =>
      spark.read.format("scbf").load(s"$root/$t").createOrReplaceTempView(t)
    }
    dirs = Seq("li", "lis", "docs").map(t => s"$root/$t")
    files = Seq("li", "lis", "docs").map(t => t -> Listing.dataFiles(Seq(s"$root/$t"))).toMap
    width = Inputs.widths(li)
    docWidth = Inputs.widths(docs)
    val stats = li.agg(count(lit(1)), min("l_orderkey"), max("l_orderkey")).head()
    rows = stats.getLong(0)
    docRows = docs.count()
    val (lo, hi) = (stats.getInt(1), stats.getInt(2))
    val r = new Random(seed)
    val span = math.max(1, (hi - lo) / 200)
    // small parameter pools: each distinct read is checked once
    ranges = IndexedSeq.fill(6) { val a = lo + r.nextInt(hi - lo - span); (a, a + span) }
    keys = li.select("l_partkey").sample(false, 0.001, seed).limit(16)
      .collect().map(_.getInt(0)).toIndexedSeq
    dates = li.select("l_shipdate").sample(false, 0.001, seed + 1).limit(4)
      .collect().map(_.getString(0)).toIndexedSeq
  }

  private def bytes(cols: Seq[String], w: Map[String, Double], n: Long): Long =
    (cols.map(w).sum * n).toLong

  /** One read: the SCBF view's result, checked against the same SQL on
   * the parquet source. */
  private def read(name: String, table: String, sqlOn: String => String, cols: Seq[String]): Unit = {
    val isDocs = table == "docs"
    val userBytes =
      if (isDocs) bytes(cols, docWidth, docRows) else bytes(cols, width, rows)
    val parquet = sqlOn(if (isDocs) "p_docs" else "p_li")
    ctx.op(name, "read", userBytes) {
      if (ctx.traced) ctx.current.filesListed = files(table)
      val got = Ctx.canon(ctx.collect(sqlOn(table)))
      Some(Result(got, () => expected.getOrElseUpdate(parquet, Ctx.canon(spark.sql(parquet).collect()))))
    }
  }

  // fast: range and documents reads; middle: point lookups and 1-of-N
  // projections; slow: full-width scans and aggregates. The median
  // falls among the projections, the tail among the aggregates.
  private val deck = new Inputs.Deck(Seq("range" -> 4, "full_docs" -> 1, "project_docs" -> 1,
    "point" -> 3, "project_li" -> 6, "full_li" -> 1, "aggregate" -> 4), rng)
  // the projected column cycles through all of them
  private val columns = new Inputs.Deck(Inputs.LineitemCols.map(_ -> 1), rng)
  override def roundComplete: Boolean = deck.atStart
  override def newRound(): Unit = deck.reset()

  def step(): Unit = deck.next() match {
    case "full_li" =>
      read("full_li", "li", t => Inputs.checksumSql(Inputs.LineitemCols, t), Inputs.LineitemCols)
    case "full_docs" => read("full_docs", "docs", t => Inputs.checksumSql(docCols, t), docCols)
    case "project_docs" =>
      read("project_docs", "docs", t => Inputs.checksumSql(Seq("text"), t), Seq("text"))
    case "project_li" =>
      val c = columns.next()
      read("project_li", "li", t => Inputs.checksumSql(Seq(c), t), Seq(c))
    case "range" =>
      val (a, b) = ranges(rng.nextInt(ranges.length))
      read("range_lis", "lis",
        t => Inputs.checksumSql(Inputs.LineitemCols, t, s"WHERE l_orderkey BETWEEN $a AND $b"),
        Inputs.LineitemCols)
    case "point" =>
      val k = keys(rng.nextInt(keys.length))
      read("point_lis", "lis",
        t => Inputs.checksumSql(Inputs.LineitemCols, t, s"WHERE l_partkey = $k"),
        Inputs.LineitemCols)
    case "aggregate" =>
      val d = dates(rng.nextInt(dates.length))
      read("aggregate_li", "li", t =>
        s"SELECT l_returnflag, l_linestatus, count(*), sum(CAST(l_quantity AS BIGINT)), " +
          s"min(l_extendedprice), max(l_extendedprice), max(l_discount) FROM $t " +
          s"WHERE l_shipdate <= '$d' GROUP BY l_returnflag, l_linestatus",
        Seq("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount",
          "l_shipdate"))
  }

  def finish(): Unit = ()

  def spaceAmp(): Option[Double] = {
    val user = width.values.sum * rows + docWidth.values.sum * docRows
    Some(Listing.bytes(dirs) / user)
  }

  def layerMetrics(): Map[String, Double] =
    (LayerMetrics.reads(ctx) ++ LayerMetrics.log(dirs))
}

/** Seeded appends, small and large, into one flat and one partitioned
 * catalog table, with an OPTIMIZE every few commits and a read-back
 * check every few operations. */
final class IngestWorkload(ctx: Ctx, seed: Long, rng: Random) extends Workload {
  private val spark = ctx.spark
  private val Sf = 0.05 // 300k lineitem rows
  private val Buckets = 1024
  private val SmallBuckets = 1
  private val LargeBuckets = 48
  private val OptimizeEvery = 8
  // per bucket: rows, XOR of row hashes, sum of their high bits
  private var bucketSums: Array[(Long, Long, Long)] = Array.empty
  private var rowWidth = 0.0
  private var tables: Seq[(String, String)] = Nil
  private var src: DataFrame = _
  private val appended = mutable.Map.empty[String, (Long, Long, Long)]
  // commits per table: every table is compacted after the same number
  // of its own commits, whatever the order of the operations
  private val commits = mutable.Map.empty[String, Int]
  // per operation kind, how many ran: each kind alternates between the
  // two tables on its own, so both get the same share of every kind
  private val turns = mutable.Map.empty[String, Int]
  private var userBytes = 0L

  override def inputs: (Double, Seq[String]) = (Sf, Seq("lineitem"))

  def setup(rep: Int): Unit = {
    if (src != null) src.unpersist()
    val li = Inputs.lineitem(spark, ctx.data)
    rowWidth = Inputs.widths(li).values.sum
    src = li.select(li.columns.map(col) :+
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber"), lit(seed)), lit(Buckets))
          .cast("int").as("bucket") :+
        xxhash64(Inputs.LineitemCols.map(col): _*).as("h"): _*)
      .repartition(ctx.spark.sparkContext.defaultParallelism, col("bucket"))
      .sortWithinPartitions("bucket") // cached batches prune by bucket range
      .cache()
    val sums = new Array[(Long, Long, Long)](Buckets)
    java.util.Arrays.fill(sums.asInstanceOf[Array[AnyRef]], (0L, 0L, 0L))
    src.groupBy("bucket")
      .agg(count(lit(1)), bit_xor(col("h")), sum(shiftrightunsigned(col("h"), 24)))
      .collect().foreach(r => sums(r.getInt(0)) = (r.getLong(1), r.getLong(2), r.getLong(3)))
    bucketSums = sums
    val ddl = Inputs.LineitemCols.map(c => s"$c ${li.schema(c).dataType.sql}").mkString(", ")
    tables = Seq(s"ingest${rep}_flat" -> "", s"ingest${rep}_part" -> "PARTITIONED BY (l_returnflag)")
      .map { case (t, layout) =>
        val dir = ctx.work.resolve("tables").resolve(t).toString
        spark.sql(s"CREATE TABLE $t ($ddl) USING scbf $layout LOCATION '$dir'")
        t -> dir
      }
    appended.clear()
    tables.foreach { case (t, _) => appended(t) = (0L, 0L, 0L) }
    commits.clear()
    tables.foreach { case (t, _) => commits(t) = 0 }
    turns.clear()
    userBytes = 0L
  }

  private def expectedOf(t: String): String = {
    val (n, x, s) = appended(t)
    if (n == 0) "0|null|null" else s"$n|$x|$s"
  }

  // small appends are about seven in ten operations, so the median falls
  // well inside them rather than at their upper edge
  private val deck = new Inputs.Deck(Seq("small" -> 10, "large" -> 2, "readback" -> 1), rng)
  override def roundComplete: Boolean = deck.atStart
  override def newRound(): Unit = deck.reset()
  // the write path is still warming up for several seconds
  override def warmRounds: Int = 3

  def step(): Unit = {
    val due = tables.find { case (t, _) => commits(t) > 0 && commits(t) % OptimizeEvery == 0 }
    val card = if (due.isDefined) "optimize" else deck.next()
    val (t, dir) = due.getOrElse {
      val n = turns.getOrElse(card, 0)
      turns(card) = n + 1
      tables(n % tables.length)
    }
    if (card == "readback") {
      val exp = expectedOf(t)
      ctx.op("readback", "read", (appended(t)._1 * rowWidth).toLong) {
        if (ctx.traced) ctx.current.filesListed = Listing.dataFiles(Seq(dir))
        Some(Result(Ctx.canon(ctx.collect(Inputs.checksumSql(Inputs.LineitemCols, t))), () => exp))
      }
    } else if (card == "optimize") {
      commits(t) += 1
      ctx.op("optimize", "commit", 0L, Seq(dir)) { ctx.exec(s"OPTIMIZE $t"); None }
    } else {
      commits(t) += 1
      val large = card == "large"
      val n = if (large) LargeBuckets else SmallBuckets
      val b0 = rng.nextInt(Buckets - n + 1)
      val bs = b0 until b0 + n
      val rows = bs.map(bucketSums(_)._1).sum
      val bytes = (rows * rowWidth).toLong
      ctx.op(if (large) "append_large" else "append_small", "commit", bytes, Seq(dir)) {
        src.where(col("bucket").between(b0, b0 + n - 1)).select(Inputs.LineitemCols.map(col): _*)
          .createOrReplaceTempView("batch")
        ctx.exec(s"INSERT INTO $t SELECT * FROM batch")
        None
      }
      if (ctx.ops.last.ok) {
        userBytes += bytes
        val (cn, cx, cs) = appended(t)
        appended(t) = bs.foldLeft((cn, cx, cs)) { case ((a, x, s), b) =>
          val (bn, bx, bsum) = bucketSums(b)
          (a + bn, x ^ bx, s + bsum)
        }
      }
    }
  }

  def finish(): Unit = tables.foreach { case (t, _) =>
    ctx.check(s"final $t") {
      Ctx.canon(spark.sql(Inputs.checksumSql(Inputs.LineitemCols, t)).collect()) == expectedOf(t)
    }
  }

  def spaceAmp(): Option[Double] = Some(Listing.bytes(tables.map(_._2)) / math.max(1.0, userBytes.toDouble))

  def layerMetrics(): Map[String, Double] = {
    val opt = ctx.ops.filter(o => o.name == "optimize" && o.timed).map(_.ms).toSeq
    (LayerMetrics.reads(ctx) ++
      LayerMetrics.writes(ctx, _.name.startsWith("append")) ++ LayerMetrics.log(tables.map(_._2)) +
      ("sources.maintenance_ms" -> Inputs.median(opt)))
  }
}
