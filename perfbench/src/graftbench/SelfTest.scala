package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.crypto.VersionedCrypto

/**
 * Self-test of the benchmark's own machinery (no timing):
 *  - the input generator is a pure function of (workload, seed);
 *  - each checker reports corrupted results as failures.
 * `graftbench.SelfTest <work dir>`; exits 1 on the first failed case.
 */
object SelfTest {
  private var failures = 0

  private def expect(name: String, ok: Boolean): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  /** Parquet part files of every input under `dir`, by relative name
    * with the writer's random part-file token removed. */
  private def parts(dir: Path): Map[String, Seq[Byte]] =
    Files.walk(dir).iterator().asScala.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => dir.relativize(p.getParent).toString -> Files.readAllBytes(p).toSeq).toMap

  def main(argv: Array[String]): Unit = {
    val work = argv(0)
    val spark = Main.session(work)
    import spark.implicits._

    for (w <- Main.Workloads) {
      def gen(seed: Long, tag: String) = {
        val d = Paths.get(s"$work/gen-$w-$tag")
        Inputs.generate(spark, w, seed, d.toString, Inputs.Tiny)
        parts(d)
      }
      val a = gen(7, "a")
      val b = gen(7, "b")
      val c = gen(8, "c")
      expect(s"$w: same seed gives byte-identical inputs", a.nonEmpty && a == b)
      expect(s"$w: another seed gives other inputs", a.keySet == c.keySet && a.keys.forall(k => a(k) != c(k)))
    }

    // ANN checker: a correct answer passes, each corruption fails
    val rnd = new java.util.SplittableRandom(1)
    val live = (0 until 200).map(i => i.toLong -> Array.fill(8)(rnd.nextDouble().toFloat)).toMap
    val queries = (0 until 4).map(i => (1000L + i) -> Array.fill(8)(rnd.nextDouble().toFloat)).toMap
    val k = 5
    val good = queries.toSeq.flatMap { case (q, v) =>
      Check.exactKnn(v, live, k).zipWithIndex.map { case ((id, d), i) =>
        Check.Hit(q, id, math.round(d * 10000) / 10000.0, i + 1)
      }
    }
    def annFails(hits: Seq[Check.Hit]) = Check.ann(hits, queries, live, k)._1.nonEmpty
    expect("ann: exact answer passes with recall 1",
      !annFails(good) && Check.ann(good, queries, live, k)._2.recall.forall(_ == 1.0))
    expect("ann: a dropped row fails", annFails(good.tail))
    expect("ann: a wrong rank fails", annFails(good.updated(0, good.head.copy(rank = 3))))
    expect("ann: a wrong distance fails", annFails(good.updated(0, good.head.copy(dist = good.head.dist + 0.5))))
    expect("ann: a non-live id fails", annFails(good.updated(0, good.head.copy(id = 999999L))))
    expect("ann: a duplicated id fails", annFails(good.updated(1, good(1).copy(id = good.head.id))))
    expect("visibility: a missing insert fails", Check.visible(good, Seq(good.head.qid)).nonEmpty)
    expect("deletes: an answered deleted id fails", Check.absent(good, Set(good.head.id)).nonEmpty)
    expect("restore: a changed answer fails", Check.sameAnswers(good, good.tail).nonEmpty)

    // rotation checker over real ciphertexts from graft's store format
    val vecs = (1L to 6L).map(i => i -> Array.fill(4)(rnd.nextDouble().toFloat)).toMap
    val df = vecs.toSeq.toDF("id", "vec")
    def sealedAt(v: Int, ids: Set[Long]) =
      VersionedCrypto.encrypt(df.filter(col("id").isin(ids.toSeq: _*)), "id", "vec", v).collect().toSeq
        .map(x => Check.Sealed(x.getAs[Long]("id"), x.getAs[Int]("kv"), x.getAs[Array[Byte]]("iv"),
          x.getAs[Array[Byte]]("ct")))
    val key = (v: Int) => VersionedCrypto.deriveKey(VersionedCrypto.MasterKeyHex, v)
    val touched = Set(1L, 2L)
    val rotated = sealedAt(2, touched) ++ sealedAt(1, vecs.keySet -- touched)
    expect("rotation: migrated store passes", Check.rotated(rotated, touched, 2, vecs, key).isEmpty)
    val stale = sealedAt(1, vecs.keySet)
    expect("rotation: a stale key version fails", Check.rotated(stale, touched, 2, vecs, key).nonEmpty)
    val swapped = rotated.map(s => if (s.id == 1L) s.copy(ct = rotated.find(_.id == 2L).get.ct) else s)
    expect("rotation: a record that decrypts wrong fails", Check.rotated(swapped, touched, 2, vecs, key).nonEmpty)

    // dedup checkers
    val text = Map(1L -> "a b c d e f", 2L -> "a b c d e g", 3L -> "x y z w v u", 4L -> "a b c d e f")
    val pairs = Seq(Check.Pair(1, 2, math.floor(Check.jaccard(text(1), text(2)) * 10000) / 10000),
      Check.Pair(1, 4, 1.0))
    val labels = Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 1L)
    expect("dedup: exact pairs pass", Check.pairs(pairs, text, Seq(1L -> 4L), 0.5)._1.isEmpty)
    expect("dedup: a wrong jaccard fails",
      Check.pairs(pairs.updated(0, pairs.head.copy(jaccard = 0.9)), text, Nil, 0.5)._1.nonEmpty)
    expect("dedup: a missed planted pair lowers recall", Check.pairs(pairs.tail, text, Seq(1L -> 2L), 0.5)._2 == 0.0)
    expect("dedup: min-id keepers pass", Check.keepers(labels, pairs).isEmpty)
    expect("dedup: a non-minimum keeper fails", Check.keepers(labels.updated(1, 2L -> 2L), pairs).nonEmpty)
    expect("dedup: applied keepers pass", Check.applied(Seq(1L, 3L), labels).isEmpty)
    expect("dedup: a kept non-keeper fails", Check.applied(Seq(1L, 2L, 3L), labels).nonEmpty)

    spark.stop()
    println(s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
