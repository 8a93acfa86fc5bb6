package perfbench

import scala.collection.immutable.TreeMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** A seeded mix of small INSERT, UPDATE, DELETE and MERGE statements,
 * point and range SELECTs, `VERSION AS OF` reads and change-feed reads
 * on one partitioned catalog table whose log grows through the run.
 * Every read, and the final table, is checked against the same
 * statements applied to an in-memory model. */
final class MutateWorkload(ctx: Ctx, rng: Random) extends Workload {
  import MutateWorkload._
  private val spark = ctx.spark
  private val Grps = IndexedSeq("AF", "NF", "NO", "RF")
  private var table = ""
  private var dir = ""
  private var model: TreeMap[Int, Rec] = TreeMap.empty
  // one entry per committed statement: the table version it ended at,
  // the state after it, and the rows it removed and added
  private val commits = ArrayBuffer.empty[Commit]
  private var nextId = 0
  private var notes: IndexedSeq[String] = IndexedSeq.empty
  private var rowWidth = 0.0
  private var inserts = 0

  override def inputs: (Double, Seq[String]) = (Rows / 6e6, Seq("lineitem"))

  def setup(rep: Int): Unit = {
    val li = Inputs.lineitem(spark, ctx.data)
      .selectExpr("l_partkey", "l_shipdate").collect()
    // the partitions hold the same number of rows, so a statement costs
    // about the same whichever partition it touches
    model = TreeMap.from(li.indices.map(i =>
      (2 * i) -> Rec(Grps(i % Grps.length), li(i).getInt(0), li(i).getString(1))))
    nextId = 2 * li.length
    inserts = 0
    notes = li.take(64).map(_.getString(1)).toIndexedSeq
    rowWidth = 4 + 2 + 4 + notes.map(_.length).sum.toDouble / notes.length
    table = s"graft.mutate$rep.t"
    dir = ctx.work.resolve("warehouse").resolve(s"mutate$rep").resolve("t").toString
    spark.sql(s"CREATE NAMESPACE graft.mutate$rep")
    spark.sql(s"CREATE TABLE $table (id INT, grp STRING, v INT, note STRING) USING scbf " +
      "PARTITIONED BY (grp)")
    // change capture on, so history and the change feed keep the bytes
    // copy-on-write rewrites replace
    graft.sources.ScbfCdc.enable(new org.apache.hadoop.fs.Path(dir), spark.sessionState.newHadoopConf())
    view("initial", model.toSeq, spark.sparkContext.defaultParallelism)
    spark.sql(s"INSERT INTO $table SELECT * FROM initial")
    commits.clear()
    commits += Commit(latestVersion(), model, Nil, model.toSeq)
  }

  /** The newest commit ordinal (`DESCRIBE HISTORY ... COMMITS`): a
   * statement on a partitioned table may commit once per partition. */
  private def latestVersion(): Int =
    spark.sql(s"DESCRIBE HISTORY $table COMMITS LIMIT 1").head().getAs[Any]("version").toString.toInt

  private def view(name: String, rows: Seq[(Int, Rec)], parts: Int = 1): Unit =
    spark.createDataFrame(rows.map { case (id, r) => Row(id, r.grp, r.v, r.note) }.asJava, Schema)
      .repartition(parts).createOrReplaceTempView(name)

  private def bytes(rows: Int): Long = (rows * rowWidth).toLong

  /** A random live id. */
  private def liveId(): Int = model.keysIterator.drop(rng.nextInt(model.size)).next()

  private def freshRows(n: Int, grp: String): Seq[(Int, Rec)] = (0 until n).map { _ =>
    nextId += 1
    nextId -> Rec(grp, rng.nextInt(200000), notes(rng.nextInt(notes.length)))
  }

  /** A statement that commits; the model follows only if it succeeded. */
  private def mutation(name: String, removed: Seq[(Int, Rec)], added: Seq[(Int, Rec)])(
      sql: => Unit): Unit = {
    val rec = ctx.op(name, "commit", bytes(removed.length + added.length), Seq(dir)) { sql; None }
    if (rec.ok) {
      model = model -- removed.map(_._1) ++ added
      commits += Commit(latestVersion(), model, removed, added)
    }
  }

  private def read(name: String, sqlText: String, expected: String): Unit =
    ctx.op(name, "read", bytes(model.size)) {
      if (ctx.traced) ctx.current.filesListed = Listing.dataFiles(Seq(dir))
      Some(Result(Ctx.canon(ctx.collect(sqlText)), () => expected))
    }

  // Reads and inserts take ~50-100 ms; the copy-on-write statements and
  // the change feed take several times that. A short round (14 point
  // reads, one other fast read, one insert, two slow operations) keeps
  // many rounds in a window, the median well inside the point reads
  // and the tail among the slow operations. The two slow operations of
  // a round are one of two fixed pairs, the heaviest with the lightest,
  // so rounds cost about the same whichever pair they draw.
  private val deck = new Inputs.Deck(Seq("point" -> 14, "insert" -> 1, "fast" -> 1, "slow" -> 2), rng)
  private val fast = new Inputs.Deck(Seq("range" -> 1, "version_as_of" -> 1), rng)
  private val slowPairs = new Inputs.Deck(Seq("merge delete" -> 1, "update change_feed" -> 1), rng)
  private var slow: List[String] = Nil
  override def roundComplete: Boolean = deck.atStart
  override def newRound(): Unit = {
    Seq(deck, fast, slowPairs).foreach(_.reset())
    slow = Nil
  }
  // every operation kind runs at least once before the window
  override def warmRounds: Int = 3

  def step(): Unit = (deck.next() match {
    case "fast" => fast.next()
    case "slow" =>
      if (slow.isEmpty) slow = slowPairs.next().split(' ').toList
      val c = slow.head
      slow = slow.tail
      c
    case card => card
  }) match {
    // every statement stays inside one partition, as small OLTP-style
    // statements do, so each commits once and costs about the same
    case "insert" =>
      inserts += 1
      val rows = freshRows(20, Grps(inserts % Grps.length))
      mutation("insert", Nil, rows) {
        view("ins", rows)
        ctx.exec(s"INSERT INTO $table SELECT * FROM ins")
      }
    case "update" =>
      val a = liveId()
      val g = model(a).grp
      val d = 1 + rng.nextInt(9)
      val note = s"u${ctx.ops.length}"
      val old = model.range(a, a + 81).filter(_._2.grp == g).toSeq
      mutation("update", old, old.map { case (id, r) => id -> r.copy(v = r.v + d, note = note) }) {
        ctx.exec(s"UPDATE $table SET v = v + $d, note = '$note' " +
          s"WHERE grp = '$g' AND id BETWEEN $a AND ${a + 80}")
      }
    case "delete" =>
      val a = liveId()
      val g = model(a).grp
      val old = model.range(a, a + 41).filter(_._2.grp == g).toSeq
      mutation("delete", old, Nil) {
        ctx.exec(s"DELETE FROM $table WHERE grp = '$g' AND id BETWEEN $a AND ${a + 40}")
      }
    case "merge" =>
      val g = model(liveId()).grp
      val inGrp = model.iterator.filter(_._2.grp == g).map(_._1).toIndexedSeq
      val matched = Seq.fill(10)(inGrp(rng.nextInt(inGrp.length))).distinct.map(id => id -> model(id))
      val upd = matched.map { case (id, r) => id -> r.copy(v = r.v + 1 + rng.nextInt(5)) }
      val fresh = freshRows(10, g)
      mutation("merge", matched, upd ++ fresh) {
        view("src", upd ++ fresh)
        ctx.exec(s"""MERGE INTO $table t USING src s ON t.id = s.id
          WHEN MATCHED THEN UPDATE SET t.v = s.v
          WHEN NOT MATCHED THEN INSERT (id, grp, v, note) VALUES (s.id, s.grp, s.v, s.note)""")
      }
    case "point" =>
      val id = liveId()
      val r = model(id)
      read("point", s"SELECT id, grp, v, note FROM $table WHERE id = $id",
        s"$id|${r.grp}|${r.v}|${r.note}")
    case "range" =>
      val a = rng.nextInt(nextId)
      val rs = model.range(a, a + 501).values
      read("range", s"SELECT count(*), sum(v) FROM $table WHERE id BETWEEN $a AND ${a + 500}",
        s"${rs.size}|${if (rs.isEmpty) "null" else rs.map(_.v.toLong).sum.toString}")
    case "version_as_of" =>
      // the table as it was a fixed number of statements ago
      val c = commits(math.max(0, commits.length - 1 - VersionLag))
      val m = c.state
      read("version_as_of",
        s"SELECT count(*), sum(id), sum(v), sum(length(note)) FROM $table VERSION AS OF ${c.version}",
        s"${m.size}|${m.keysIterator.map(_.toLong).sum}|${m.valuesIterator.map(_.v.toLong).sum}|" +
          s"${m.valuesIterator.map(_.note.length.toLong).sum}")
    case "change_feed" =>
      // the changes of the last few statements
      val from = math.max(0, commits.length - 1 - FeedStatements)
      val window = commits.drop(from + 1)
      def agg(sign: String, rows: Seq[(Int, Rec)]): Option[String] =
        if (rows.isEmpty) None
        else Some(s"$sign|${rows.length}|${rows.map(_._1.toLong).sum}|${rows.map(_._2.v.toLong).sum}")
      val expected = (agg("+", window.flatMap(_.added).toSeq) ++
        agg("-", window.flatMap(_.removed).toSeq)).toSeq.sorted.mkString("\n")
      ctx.op("change_feed", "read", bytes(model.size)) {
        if (ctx.traced) ctx.current.filesListed = Listing.dataFiles(Seq(dir))
        ctx.exec(s"CREATE OR REPLACE TEMP VIEW feed AS TABLE CHANGES $table " +
          s"SINCE VERSION ${commits(from).version}")
        val got = ctx.collect("SELECT CASE WHEN _change_type IN ('insert', 'update_post') " +
          "THEN '+' ELSE '-' END, count(*), sum(id), sum(v) FROM feed GROUP BY 1")
        Some(Result(Ctx.canon(got), () => expected))
      }
  }

  def finish(): Unit = ctx.check("final table") {
    val got = Ctx.canon(spark.sql(s"SELECT id, grp, v, note FROM $table").collect())
    got == model.toSeq.map { case (id, r) => s"$id|${r.grp}|${r.v}|${r.note}" }.sorted.mkString("\n")
  }

  def spaceAmp(): Option[Double] = Some(Listing.bytes(Seq(dir)) / bytes(model.size).toDouble)

  def layerMetrics(): Map[String, Double] = {
    val traced = ctx.ops.filter(o => o.kind == "commit" && o.traced && o.timed)
    val rewritten = traced.flatMap(o => ctx.traces.get(o.id)).map(_.newFileBytes).sum
    val user = traced.map(_.userBytes).sum
    (LayerMetrics.reads(ctx) ++ LayerMetrics.writes(ctx, _.kind == "commit") ++
      LayerMetrics.log(Seq(dir)) +
      ("sources.rewrite_bytes_per_user_byte" -> (if (user == 0) 0.0 else rewritten.toDouble / user)))
  }
}

object MutateWorkload {
  /** Rows in the table at the start of the run. */
  val Rows = 15000
  /** How many statements back a `VERSION AS OF` read goes. */
  val VersionLag = 4
  /** How many of the latest statements a change-feed read covers. */
  val FeedStatements = 3
  final case class Rec(grp: String, v: Int, note: String)
  final case class Commit(version: Int, state: TreeMap[Int, Rec], removed: Seq[(Int, Rec)],
      added: Seq[(Int, Rec)])
  val Schema: StructType = StructType(Seq(StructField("id", IntegerType), StructField("grp", StringType),
    StructField("v", IntegerType), StructField("note", StringType)))
}
