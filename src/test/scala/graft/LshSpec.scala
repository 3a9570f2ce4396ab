package graft

import org.apache.spark.sql.functions._

import graft.index.LshIndex
import graft.lsh.{Lsh, LshParams}
import graft.query.AnnQuery

class LshSpec extends SparkSpecBase {

  lazy val emb = Tables.embeddings(spark, sf)
  lazy val model = Lsh.fit(emb, "embedding", LshParams())

  test("model shape matches params (8 tables x 3 divisions, m=25, unit-norm alpha)") {
    assert(model.gfs.length == 8 && model.gfs.head.length == 3)
    val g = model.g(0, 0)
    assert(g.m == 25)
    g.alpha.foreach { a =>
      val norm = math.sqrt(a.map(x => x * x).sum)
      assert(math.abs(norm - 1.0) < 1e-9)
    }
    g.omega.foreach(w => assert(w > 0))
    g.r.indices.foreach(j => assert(model.g(0, 0).r(j) >= 0 && model.g(0, 0).r(j) < model.g(0, 0).omega(j)))
  }

  test("seed schedule differentiates (table, division) functions") {
    assert(Lsh.computeSeed(13, 0, 0) != Lsh.computeSeed(13, 0, 1))
    assert(Lsh.computeSeed(13, 1, 0) == 13 + 1000003L)
    // different seeds -> different projections
    assert(model.g(0, 0).alpha(0)(0) != model.g(1, 0).alpha(0)(0))
  }

  test("codes: one row per (vector, t, d); key is first 63 bits of code") {
    val c = LshIndex.codes(emb, "vec_id", "embedding", model)
    val n = emb.count()
    assert(c.count() == n * 24)
    val rows = c.limit(100).collect()
    rows.foreach { r =>
      val key = r.getLong(3)
      val words = r.getSeq[Long](4)
      assert(key == (words.head >>> 1))
      assert(key >= 0)
    }
  }

  test("codes are deterministic across evaluations") {
    val a = LshIndex.codes(emb, "vec_id", "embedding", model).orderBy("id", "t", "d").collect()
    val b = LshIndex.codes(emb, "vec_id", "embedding", model).orderBy("id", "t", "d").collect()
    assert(a.map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).sameElements(
      b.map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))))
  }

  test("codes equal the two-step projection (aliased tdc, then explode) row for row") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val corpus = (0 until 400).map(i => (i.toLong, Seq.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val m = Lsh.fit(corpus, "embedding", LshParams())
    // the coding plan before the kernel moved inline into explode
    val twoStep = corpus
      .select(col("vec_id").cast("long").as("id"), Lsh.lshCodes(col("embedding"), m).as("tdc"))
      .select(col("id"), explode(col("tdc")).as("c"))
      .select(col("id"), col("c.t").as("t"), col("c.d").as("d"),
        col("c.key").as("key"), col("c.code").as("code"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.orderBy("id", "t", "d").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getSeq[Long](4)))
    val got = rows(LshIndex.codes(corpus, "vec_id", "embedding", m))
    assert(got.length == 400 * 24)
    assert(got.sameElements(rows(twoStep)), "inline coding diverged from the two-step projection")
  }

  test("partition build: blocks of <= 64, sorted non-overlapping key ranges per (t,d)") {
    val built = LshIndex.build(LshIndex.codes(emb, "vec_id", "embedding", model), 64)
    val summ = built.summaries.orderBy("t", "d", "block").collect()
    summ.foreach { r => assert(r.getLong(5) <= 64 && r.getLong(5) > 0) }
    summ.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case (_, rows) =>
      rows.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(4) <= b.getLong(3)) // prev max_key <= next min_key
        case _ =>
      }
    }
    // every vector is a member of exactly one block per (t, d)
    val dup = built.membership.groupBy("id", "t", "d").count().filter(col("count") > 1).count()
    assert(dup == 0)
  }

  test("scalable prefix-sum build is identical to the windowed oracle build") {
    val codes = LshIndex.codes(emb, "vec_id", "embedding", model)
    val a = LshIndex.build(codes, 64)
    val b = LshIndex.buildWindowed(codes, 64)
    assert(a.membership.exceptAll(b.membership).count() == 0)
    assert(b.membership.exceptAll(a.membership).count() == 0)
    val sa = a.summaries.select("t", "d", "block", "min_key", "max_key", "n", "rep_code")
    val sb = b.summaries.select("t", "d", "block", "min_key", "max_key", "n", "rep_code")
    assert(sa.exceptAll(sb).count() == 0)
    assert(sb.exceptAll(sa).count() == 0)
  }

  test("findNearestBlock: in-range hit, boundary fallbacks") {
    val s = LshIndex.TdSummary(Array(10L, 50L, 100L), Array(20L, 60L, 110L),
      Array(Array(0L), Array(0L), Array(0L)))
    assert(LshIndex.findNearestBlock(s, 15) == 0)
    assert(LshIndex.findNearestBlock(s, 55) == 1)
    assert(LshIndex.findNearestBlock(s, 5) == 0)   // below all
    assert(LshIndex.findNearestBlock(s, 200) == 2) // above all
    assert(LshIndex.findNearestBlock(s, 30) == 0)  // gap: closer to [10,20]
    assert(LshIndex.findNearestBlock(s, 45) == 1)  // gap: closer to [50,60]
  }

  test("hamming over packed words") {
    assert(Lsh.hamming(Array(0L), Array(0L)) == 0)
    assert(Lsh.hamming(Array(-1L), Array(0L)) == 64)
    assert(Lsh.hamming(Array(5L, 3L), Array(4L, 0L)) == 3)
  }

  test("distributed join-based probe: recall >= broadcast best-first probe at equal budget") {
    import org.apache.spark.sql.functions._
    val data = emb
    val built = LshIndex.build(LshIndex.codes(data, "vec_id", "embedding", model), 64)
    val queries = data.filter(col("vec_id") < 20)
    // the distributed window is a superset of best-first expansion:
    // every (qid, t, d, block) the broadcast probe visits must appear
    // in the distributed candidate window before Hamming ranking
    val bcast = AnnQuery.probeBlocks(spark, queries, model, built)
      .select("qid", "t", "d", "block")
    val dist = AnnQuery.probeBlocksDistributed(spark, queries, model, built)
      .select("qid", "t", "d", "block")
    assert(dist.count() == bcast.count(), "equal probe budget per (query, t, d)")
    // end-to-end recall vs ground truth, distributed probe feeding the same refine
    val probed = AnnQuery.probeBlocksDistributed(spark, queries, model, built)
    val cands = probed.join(built.membership, Seq("t", "d", "block"))
      .groupBy(col("qid"), col("id")).agg(min(col("score")).as("hamming"))
    val gt = AnnQuery.bruteTopK(data, queries, 10)
    val hits = cands.select(col("qid").as("query_id"), col("id").as("vec_id"))
      .join(gt.select(col("query_id"), col("vec_id")), Seq("query_id", "vec_id")).count()
    val recall = hits.toDouble / (20 * 10)
    assert(recall >= 0.8, s"distributed-probe candidate recall@10 = $recall")
  }

  test("adaptive retry: starved queries rerun with widened probes, no duplicate results") {
    import org.apache.spark.sql.functions._
    val built = LshIndex.build(LshIndex.codes(emb, "vec_id", "embedding", model), 64)
    val queries = emb.filter(col("vec_id") < 3)
    val n = emb.count()
    // k beyond the corpus starves every query -> the retry branch runs
    val res = AnnQuery.lshTopKAdaptive(spark, emb, queries, n.toInt + 100, model, built).cache()
    assert(res.groupBy("query_id").count().collect().forall(_.getLong(1) <= n))
    val dup = res.groupBy("query_id", "vec_id").count().filter(col("count") > 1).count()
    assert(dup == 0, "retry union must not duplicate (query, result) pairs")
    assert(res.select("query_id").distinct().count() == 3)
    // non-starved path: identical to the plain query
    val plain = AnnQuery.lshTopK(spark, emb, queries, 10, model, built)
    val adaptive = AnnQuery.lshTopKAdaptive(spark, emb, queries, 10, model, built)
    assert(adaptive.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(adaptive).count() == 0)
  }

  test("soft delete: deleted neighbor vanishes from results, k results still returned") {
    import org.apache.spark.sql.functions._
    val data = emb
    val built = LshIndex.build(LshIndex.codes(data, "vec_id", "embedding", model), 64)
    val queries = data.filter(col("vec_id") === 0)
    val before = AnnQuery.lshTopK(spark, data, queries, 10, model, built)
      .orderBy("rnk").collect()
    val victim = before(1).getLong(1) // rank-2 neighbor (rank 1 is self)
    import spark.implicits._
    val deleted = Seq(victim).toDF("id")
    val after = AnnQuery.lshTopK(spark, data, queries, 10, model, built, Some(deleted))
      .orderBy("rnk").collect()
    assert(after.length == 10)
    assert(!after.map(_.getLong(1)).contains(victim))
    // remaining order preserved: old rank-3 becomes rank-2
    assert(after(1).getLong(1) == before(2).getLong(1))
  }

  test("candidate HARD_CAP bounds per-query candidates; k results still returned") {
    val built = LshIndex.build(LshIndex.codes(emb, "vec_id", "embedding", model), 64)
    val queries = emb.filter(col("vec_id") < 5)
    val tiny = model.params.copy(refinementLimit = 40, maxGlobalCandidates = 40)
    val probed = AnnQuery.probeBlocks(spark, queries, model, built)
    // the uncapped probe surface is far larger than the cap
    val uncapped = AnnQuery.candidateCounts(probed, built).collect()
    assert(uncapped.forall(_.getLong(1) > 40))
    val perQ = AnnQuery.cappedCandidates(probed, built, tiny)
      .groupBy("qid").count().collect()
    assert(perQ.length == 5 && perQ.forall(_.getLong(1) <= 40),
      s"capped candidate counts: ${perQ.mkString(",")}")
    // end-to-end under the cap: still k results per query
    val res = AnnQuery.lshTopK(spark, emb, queries, 10, model.copy(params = tiny), built)
    assert(res.groupBy("query_id").count().collect().forall(_.getLong(1) == 10))
  }

  test("filtered search: every result matches the query's label; recall vs filtered brute") {
    val built = LshIndex.build(LshIndex.codes(emb, "vec_id", "embedding", model), 64)
    val queries = emb.filter(col("vec_id") < 20)
    val got = AnnQuery.lshTopKSameLabel(spark, emb, queries, 10, model, built).cache()
    // predicate holds on every row
    val labels = emb.select(col("vec_id"), col("label"))
    val violations = got
      .join(labels.select(col("vec_id").as("query_id"), col("label").as("qlabel")), "query_id")
      .join(labels, "vec_id")
      .filter(col("label") =!= col("qlabel")).count()
    assert(violations == 0, s"$violations results violate the label filter")
    // self still rank 1 (a query trivially shares its own label)
    got.filter(col("rnk") === 1).collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // recall@10 against the exact filtered oracle
    val gt = AnnQuery.bruteTopKSameLabel(emb, queries, 10)
    val hits = got.select("query_id", "vec_id")
      .join(gt.select("query_id", "vec_id"), Seq("query_id", "vec_id")).count()
    val recall = hits.toDouble / gt.count()
    assert(recall >= 0.7, s"filtered recall@10 = $recall")
    got.unpersist()
  }

  test("lsh top-k: self-match at rank 1 and recall@10 >= 0.8 vs brute force") {
    val recall = AnnQuery.annRecallEval(spark, sf).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(recall(1) >= 0.9, s"recall@1 = ${recall(1)}")
    assert(recall(10) >= 0.8, s"recall@10 = ${recall(10)}")
    val topk = AnnQuery.annLshTopK(spark, sf)
    val self = topk.filter(col("rnk") === 1).collect()
    self.foreach { r => assert(r.getLong(0) == r.getLong(1), s"rank-1 not self: $r") }
  }
}
