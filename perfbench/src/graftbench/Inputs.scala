package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Seeded input generator. Every input is a pure function of
 * (workload, seed) and is written to parquet before anything is timed;
 * graft reads only those files (or batches cut from them by the client).
 * One writer task per file, in id order, so the same seed gives
 * byte-identical parquet.
 */
object Inputs {
  val Dim = 64
  val Clusters = 256
  val Noise = 1.0f
  val DocTokens = 80
  val Vocab = 2000

  /** Input sizes; `Tiny` is for the benchmark's self-test only. */
  final case class Sizes(corpus: Int, queryPool: Int, insertBatch: Int, cycles: Int,
      docs: Int, planted: Int)
  val Full = Sizes(corpus = 5000, queryPool = 1024, insertBatch = 1000, cycles = 6,
    docs = 10000, planted = 1000)
  val Tiny = Sizes(corpus = 400, queryPool = 64, insertBatch = 50, cycles = 2,
    docs = 600, planted = 60)

  val QueryIdBase = 1000000000L
  val InsertIdBase = 2000000000L

  /** Token mutation rates of the planted copies: exact 3-shingle Jaccard
    * to the source falls on both sides of the 0.5 pair threshold. */
  val MutationRates: Array[Double] = Array(0.02, 0.05, 0.08, 0.12, 0.18, 0.25)

  final case class Vectors(corpus: String, queries: String, inserts: String, cycles: Int)
  final case class Docs(docs: String, planted: String)

  /** Independent stream per (workload, purpose), so adding a draw to one
    * input never shifts another. */
  private def rng(workload: String, seed: Long, purpose: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (workload + "/" + purpose).hashCode.toLong)

  private def writeOne(df: DataFrame, path: String): String = {
    df.coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  /** Clustered Gaussian vectors: corpus, held-out queries, and one insert
    * batch per lifecycle cycle, all drawn around the same centres. */
  def vectors(spark: SparkSession, workload: String, seed: Long, dir: String, n: Sizes): Vectors = {
    import spark.implicits._
    val r = rng(workload, seed, "centres")
    val centres = Array.fill(Clusters, Dim)(r.nextDouble() * 2 - 1)
    def draw(r: SplittableRandom): Array[Float] = {
      val c = centres(r.nextInt(Clusters))
      Array.tabulate(Dim)(j => (c(j) + Noise * gaussian(r)).toFloat)
    }
    val rc = rng(workload, seed, "corpus")
    val corpus = (0 until n.corpus).map(i => (i.toLong, draw(rc)))
    val rq = rng(workload, seed, "queries")
    val queries = (0 until n.queryPool).map(i => (QueryIdBase + i, draw(rq)))
    // insert batches only where a workload inserts
    val cycles = if (workload == "ann_lifecycle") n.cycles else 0
    if (cycles > 0) {
      val ri = rng(workload, seed, "inserts")
      val inserts = (0 until n.insertBatch * cycles).map(i => (InsertIdBase + i, i / n.insertBatch, draw(ri)))
      writeOne(inserts.toDF("vec_id", "cycle", "embedding"), s"$dir/inserts.parquet")
    }
    Vectors(
      writeOne(corpus.toDF("vec_id", "embedding"), s"$dir/corpus.parquet"),
      writeOne(queries.toDF("vec_id", "embedding"), s"$dir/queries.parquet"),
      s"$dir/inserts.parquet", cycles)
  }

  /** Synthetic corpus over a skewed vocabulary plus planted near-copies
    * (doc_id, source_id, rate) of random base docs. */
  def docs(spark: SparkSession, workload: String, seed: Long, dir: String, n: Sizes): Docs = {
    import spark.implicits._
    val r = rng(workload, seed, "docs")
    def token(r: SplittableRandom): String =
      "w" + (Vocab * r.nextDouble() * r.nextDouble()).toInt
    val base = Array.fill(n.docs)(Array.fill(DocTokens)(token(r)))
    val rp = rng(workload, seed, "planted")
    // distinct sources: every planted pair is its own component, so the
    // component iterations do not depend on the seed
    val sources = Array.range(0, n.docs)
    for (i <- 0 until n.planted) {
      val j = i + rp.nextInt(n.docs - i)
      val t = sources(i); sources(i) = sources(j); sources(j) = t
    }
    val planted = (0 until n.planted).map { i =>
      val src = sources(i)
      val rate = MutationRates(i % MutationRates.length)
      val toks = base(src).map(t => if (rp.nextDouble() < rate) token(rp) else t)
      (n.docs.toLong + i, src.toLong, rate, toks.mkString(" "))
    }
    val all = base.indices.map(i => (i.toLong, base(i).mkString(" "))) ++
      planted.map(p => (p._1, p._4))
    Docs(
      writeOne(all.toDF("doc_id", "text"), s"$dir/docs.parquet"),
      writeOne(planted.map(p => (p._1, p._2, p._3)).toDF("doc_id", "source_id", "rate"),
        s"$dir/planted.parquet"))
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian of its own
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Generate every input of `workload` under `dir`. */
  def generate(spark: SparkSession, workload: String, seed: Long, dir: String,
      n: Sizes): Either[Vectors, Docs] =
    if (workload == "corpus_dedup") Right(docs(spark, workload, seed, dir, n))
    else Left(vectors(spark, workload, seed, dir, n))
}
