package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.scbf._

/** The SCBF codec on its own: encode and decode speed per type,
 * compressed size per type, and the bytes a 1-of-N column read fetches
 * (the format's selective-read claim), through the codec's public API
 * with no Spark involved. */
object CodecProbe {

  /** Columns in the shape the workloads store. The fixture does not
   * depend on the run's seed, so its byte counts repeat exactly. */
  final case class Fixture(ints: Array[Int], doubles: Array[Double], strings: Array[Array[Byte]])

  object Fixture {
    /** 2^17 rows of the int32, float64 and utf8 lineitem columns the
     * SCBF workloads store, generated with a fixed seed. */
    def standard(spark: org.apache.spark.sql.SparkSession): Fixture = {
      val rows = 1 << 17
      val li = Inputs.typed(DataGen.table(spark, "lineitem", rows / 6e6, 0L))
      val rs = li.select("l_linenumber", "l_extendedprice", "l_shipdate").collect()
      Fixture(rs.map(_.getInt(0)), rs.map(_.getDouble(1)), rs.map(_.getString(2).getBytes(UTF_8)))
    }
  }

  private val MinMs = 150.0

  def run(ctx: Ctx, f: Fixture): Map[String, Double] = {
    val t = ctx.tracer
    t.beginOp(0) // op 0 is the codec probe; even ids are traced
    val cols: Seq[(String, ScbfType, ColumnData, Long)] = Seq(
      ("int32", ScbfType.fromName("int32"), IntColumnData(f.ints), 4L * f.ints.length),
      ("float64", ScbfType.fromName("float64"), DoubleColumnData(f.doubles), 8L * f.doubles.length),
      ("utf8", ScbfType.fromName("utf8"), Utf8ColumnData(f.strings), f.strings.map(_.length.toLong).sum))
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    cols.foreach { case (name, tpe, data, userBytes) =>
      val schema = ScbfSchema(Seq(ScbfColumn(name, tpe)))
      var encoded: Array[Byte] = null
      val enc = repeat { t.span("scbf", s"encode.$name") {
        val bos = new ByteArrayOutputStream(math.max(1024L, userBytes).toInt)
        ScbfWriter.write(bos, schema, Seq(data))
        encoded = bos.toByteArray
      } }
      val dec = repeat { t.span("scbf", s"decode.$name") {
        val in = new ScbfReader.ByteArrayInput(encoded)
        val h = ScbfReader.readHeader(in)
        val meta = ScbfReader.readMeta(in, h, encoded.length.toLong)
        ScbfReader.readColumn(in, meta.head)
      } }
      out(s"scbf.encode_mb_per_s.$name") = userBytes / 1e6 / (enc / 1e3)
      out(s"scbf.decode_mb_per_s.$name") = userBytes / 1e6 / (dec / 1e3)
      out(s"scbf.compress_ratio.$name") = encoded.length.toDouble / userBytes
    }
    // the paper's KPI: a 1-of-3 column read through a counting input
    val path = ctx.work.resolve("codec-probe.scbf")
    val schema = ScbfSchema(cols.map { case (n, tpe, _, _) => ScbfColumn(n, tpe) })
    ScbfWriter.write(path.toString, schema, cols.map(_._3))
    val fileLen = Files.size(path)
    var fetched = 0L
    val base = ScbfReader.open(path.toString)
    val counting = new ScbfReader.RandomInput {
      def readFully(offset: Long, length: Int): Array[Byte] = {
        fetched += length
        base.readFully(offset, length)
      }
      def close(): Unit = base.close()
    }
    try {
      val h = ScbfReader.readHeader(counting)
      val meta = ScbfReader.readMeta(counting, h, fileLen)
      ScbfReader.readColumn(counting, meta.find(_.name == "float64").get)
    } finally counting.close()
    out("scbf.pruned_read_bytes") = fetched.toDouble
    out("scbf.file_bytes") = fileLen.toDouble
    out("scbf.pruned_read_bytes_ratio") = fetched.toDouble / fileLen
    out.toMap
  }

  /** Median milliseconds of repeated calls, repeating for at least
   * [[MinMs]] and at least five times. */
  private def repeat(body: => Unit): Double = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var total = 0.0
    while (times.length < 5 || total < MinMs) {
      val t0 = System.nanoTime()
      body
      val ms = (System.nanoTime() - t0) / 1e6
      times += ms
      total += ms
    }
    val s = times.sorted
    s(s.length / 2)
  }
}
