package perfbench

import graft.{GraftConf, SparkEntry}
import graft.perfbench.StagedRelations

/** One pass per step over the LLM-data queries (`d*`, `t*`, `m*`) of
 * `SparkEntry.queries`, on seeded tables at a small scale factor. Each
 * query's result is written as parquet; an outside checker compares it
 * with the query's `SparkEntry.oracleSql` entry. */
final class PipelineWorkload(ctx: Ctx, seed: Long) extends Workload {
  import PipelineWorkload._
  private val spark = ctx.spark
  private var in = ""
  private val out = ctx.work.resolve("pipeline").resolve("out").toString

  // staged-relation owners first, as the engine's own bench orders them,
  // so each staged graph is paid by its owner
  private val names: Seq[String] = {
    val all = SparkEntry.queries.keySet.filter(n => n.matches("[dtm][0-9]+_.*"))
    val owners = Seq("d2_minhash_lsh", "d10_simhash_neardup", "d8_embed_neardup",
      "d5_ann_bruteforce", "d6_ann_lsh", "d11_ann_ivf").filter(all.contains)
    owners ++ all.toSeq.sorted.filterNot(owners.contains)
  }

  def setup(rep: Int): Unit = {
    GraftConf.requireOracleConsistency(spark)
    in = ctx.work.resolve("pipeline").resolve(s"in$rep").toString
    DataGen.write(spark, in, Sf, seed, DataGen.Tables)
  }

  // index of the next query; a round of the mix is one pass
  private var next = 0
  override def roundComplete: Boolean = next == 0
  override def newRound(): Unit = next = 0

  def step(): Unit = {
    if (next == 0) {
      ctx.pass += 1
      StagedRelations.clear()
    }
    val q = names(next)
    ctx.op(q, "query", 0L) {
      val df = ctx.tracer.span("operators", "build")(SparkEntry.queries(q)(spark, in))
      ctx.tracer.span("operators", "execute")(df.write.mode("overwrite").parquet(s"$out/$q"))
      None
    }
    next = (next + 1) % names.length
  }

  def finish(): Unit = java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"),
    Json.value(SparkEntry.oracleSql.filter { case (q, _) => names.contains(q) }))
  def spaceAmp(): Option[Double] = None
  override def outputs(): Map[String, String] = Map("in" -> in, "out" -> out)

  def layerMetrics(): Map[String, Double] = {
    val qs = ctx.ops.filter(o => o.kind == "query" && o.timed)
    val passes = math.max(1, qs.map(_.pass).distinct.size).toDouble
    val perQuery = qs.groupBy(_.name).map { case (q, rs) =>
      s"operators.${q}_s" -> Inputs.median(rs.map(_.ms / 1e3).toSeq)
    }
    val l = ctx.listener.get
    val jobMs = qs.map(o => JobListener.coveredMs(l.jobsOf(o.id))).sum
    val shuffle = qs.flatMap(o => l.sumsOf(o.id)).map(_.shuffleWriteBytes).sum
    (perQuery ++ Map(
      "operators.job_ms" -> jobMs / passes,
      "operators.driver_gap_ms" -> (qs.map(_.ms).sum - jobMs) / passes,
      "operators.shuffle_mb" -> shuffle / 1e6 / passes))
  }
}

object PipelineWorkload {
  /** Scale factor of the pipeline's inputs (500 documents). */
  val Sf = 0.01
}
