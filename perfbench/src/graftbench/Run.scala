package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * One benchmark run: the closed-loop driver (one client, next op only
 * after the previous one returned), the samples it takes, the checks it
 * counts, and the per-layer values the traced run records.
 */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Double,
    val tr: Tracer, val work: String) {
  val opMs = mutable.ArrayBuffer.empty[Double]
  val setupS = mutable.ArrayBuffer.empty[Double]
  val recall = mutable.ArrayBuffer.empty[Double]
  var items = 0L
  var residentMb = 0.0
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  private val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def tracing: Boolean = tr.enabled

  private val born = System.nanoTime()

  /** Note on stderr how far into the run a phase starts. */
  def phase(name: String): Unit =
    System.err.println(f"phase $name at ${(System.nanoTime() - born) / 1e9}%.1f s")

  /** Record a per-layer value; the reported figure is the median of all
    * values recorded under `name`. */
  def record(name: String, v: Double): Unit =
    values.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def recorded: Map[String, Seq[Double]] = values.view.mapValues(_.toSeq).toMap

  /** Count one op and its check; any problem marks the op failed. */
  def check(what: String)(problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      errors ++= problems.take(3).map(p => s"$what: $p")
    }
  }

  /** Record one op's latency (and note it on stderr). */
  def op(ms: Double): Unit = {
    opMs += ms
    System.err.println(f"op ${opMs.size} $ms%.1f ms")
  }

  /** Wall milliseconds of `body`. */
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Run `op(i)` back to back until `seconds` have passed (at least
    * once) or `op` returns false. */
  def steady(op: Int => Boolean): Unit = {
    phase("steady")
    val t0 = System.nanoTime()
    var i = 0
    var more = true
    while (more && (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds)) { more = op(i); i += 1 }
  }

  /** Block-manager storage held now (cached blocks and broadcasts), after
    * a GC so that blocks nobody references have been cleaned. */
  def storageMb(): Double = {
    phase("end of steady")
    System.gc()
    Thread.sleep(500)
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1e6
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def vecs(df: DataFrame): Seq[(Long, Array[Float])] =
    df.select(col("vec_id"), col("embedding")).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  def frame(rows: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  def hits(rows: Array[Row]): Seq[Check.Hit] = rows.toSeq.map(r =>
    Check.Hit(r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"), r.getAs[Double]("dist"),
      r.getAs[Int]("rnk")))
}
