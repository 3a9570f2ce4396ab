package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSystem
import graft.crypto.VersionedCrypto
import graft.index.{IndexMaintenance, LshIndex}
import graft.lsh.{Lsh, LshParams}
import graft.query.AnnQuery

/** The two FSPANN workloads, driven through the `GraftSystem` facade. */
object Ann {
  val K = 10
  val Batch = 8
  val Deletes = 100
  val TouchShare = 0.1
  val Sample = 32

  private def key(v: Int): Array[Byte] = VersionedCrypto.deriveKey(VersionedCrypto.MasterKeyHex, v)

  /** SETUP + INDEX + FINALIZE until the first query is answered, three
    * times; `setup_s` is their median. Returns the last system. */
  private def setUp(r: Run, corpus: DataFrame, first: DataFrame): GraftSystem = {
    r.phase("set-up")
    var sys: GraftSystem = null
    for (i <- 0 until 3) {
      val (_, ms) = r.timed(r.tr.span("graft", "GraftSystem.setup", s"setup-$i") {
        sys = GraftSystem.setup(r.spark, corpus)
        sys.query(first, K).collect()
      })
      r.setupS += ms / 1000
      r.record("graft.setup_ms", ms)
    }
    sys
  }

  /** Traced only: GraftSystem.setup split into its public calls, over the
    * same corpus and params. Returns the index rebuilt from `sys.model`. */
  private def splitSetUp(r: Run, sys: GraftSystem, corpus: DataFrame): LshIndex.Built = {
    val d = corpus.select(col("vec_id"), col("embedding"))
    val (_, fit) = r.timed(r.tr.span("lsh", "Lsh.fit", "setup-split")(Lsh.fit(d, "embedding", LshParams())))
    r.record("lsh.fit_ms", fit)
    val codes = LshIndex.codes(d, "vec_id", "embedding", sys.model)
    val (_, code) = r.timed(r.tr.span("lsh", "LshIndex.codes", "setup-split")(r.noop(codes)))
    r.record("lsh.code_ms", code)
    r.record("lsh.code_rows", codes.count().toDouble)
    val (built, build) = r.timed(r.tr.span("index", "LshIndex.build", "setup-split") {
      val b = LshIndex.build(codes, sys.blockSize)
      r.noop(b.membership); r.noop(b.summaries)
      b
    })
    r.record("index.build_ms", build)
    r.record("index.blocks", built.summaries.count().toDouble)
    val (_, collect) = r.timed(r.tr.span("index", "LshIndex.collectSummaries", "setup-split")(
      LshIndex.collectSummaries(built.summaries)))
    r.record("index.summary_collect_ms", collect)
    val (_, enc) = r.timed(r.tr.span("crypto", "VersionedCrypto.encrypt", "setup-split")(
      r.noop(VersionedCrypto.encrypt(d, "vec_id", "embedding", 1))))
    r.record("crypto.encrypt_ms", enc)
    r.record("crypto.store_bytes",
      sys.encryptedStore.agg(sum(length(col("ct")))).head().getLong(0).toDouble)
    built
  }

  def serve(r: Run, in: Inputs.Vectors): Unit = {
    val corpusDf = r.spark.read.parquet(in.corpus)
    val corpus = r.vecs(corpusDf).toMap
    val pool = r.vecs(r.spark.read.parquet(in.queries)).sortBy(_._1).toIndexedSeq
    def batch(i: Int) = pool.slice((i * Batch) % pool.size, (i * Batch) % pool.size + Batch)
    val sys = setUp(r, corpusDf, r.frame(batch(0)))
    val built = if (r.tracing) splitSetUp(r, sys, corpusDf) else null
    // warm-up: the first batches after set-up still pay JIT and codegen
    r.phase("warm-up")
    for (i <- 1 to 4) sys.query(r.frame(batch(i)), K).collect()
    r.steady { i =>
      val b = batch(i + 5)
      val q = r.frame(b)
      // the op is the facade call; in the traced run its batch span also
      // holds the split steps
      val (rows, ms) = r.tr.span("bench", "serve.batch", s"batch-$i") {
        val answer = r.timed(r.tr.span("graft", "GraftSystem.query")(sys.query(q, K).collect()))
        if (r.tracing) splitQuery(r, sys, built, corpusDf, q, b.size, answer._1)
        answer
      }
      r.op(ms)
      r.items += b.size
      val (problems, quality) = Check.ann(r.hits(rows), b.toMap, corpus, K)
      r.check(s"batch $i")(problems)
      r.recall ++= quality.recall
      r.record("query.distance_ratio_at_10", quality.ratio.sum / quality.ratio.size)
      true
    }
    r.residentMb = r.storageMb()
  }

  /** Traced only: one batch through AnnQuery's public steps over the
    * rebuilt index (as GraftSystemSpec does); the answer must equal the
    * facade's. The membership the candidate join reads is materialised
    * on its own to time its re-derivation. */
  private def splitQuery(r: Run, sys: GraftSystem, built: LshIndex.Built, corpus: DataFrame,
      q: DataFrame, nq: Double, facade: Array[org.apache.spark.sql.Row]): Unit = {
    val (codes, qc) = r.timed(r.tr.span("lsh", "AnnQuery.queryCodes")(
      AnnQuery.localized(AnnQuery.queryCodes(q, sys.model))))
    r.record("lsh.query_code_ms", qc)
    val (probed, probe) = r.timed(r.tr.span("query", "AnnQuery.probeBlocksCoded")(
      AnnQuery.localized(AnnQuery.probeBlocksCoded(r.spark, codes, sys.model, built))))
    r.record("query.probe_ms", probe)
    r.record("query.probed_blocks_per_query", probed.count() / nq)
    val (counts, cand) = r.timed(r.tr.span("query", "AnnQuery.candidateCounts")(
      AnnQuery.candidateCounts(probed, built).collect()))
    r.record("query.candidates_ms", cand)
    val n = counts.map(_.getAs[Long]("n_candidates"))
    val p = sys.model.params
    r.record("query.candidates_per_query", n.sum / nq)
    r.record("query.cap_hit_queries", n.count(_ > p.hardCap).toDouble)
    val stab = graft.config.GraftConfig.active.stabilization
    val limit = (c: Long) =>
      if (!stab.enabled) math.min(c, p.refinementLimit.toLong)
      else math.min(p.refinementLimit.toLong,
        math.max(math.max(K, stab.minCandidates).toLong, math.min(c, math.ceil(K * stab.targetRatio).toLong)))
    r.record("query.refine_ratio", n.map(c => math.min(c, limit(c)).toDouble / K).sum / nq)
    val (split, refine) = r.timed(r.tr.span("query", "AnnQuery.refineFromProbes")(
      AnnQuery.refineFromProbes(probed, corpus, q, K, sys.model, built).collect()))
    r.record("query.refine_ms", refine)
    val (_, mem) = r.timed(r.tr.span("index", "LshIndex.membership")(r.noop(built.membership)))
    r.record("index.membership_ms_per_batch", mem)
    r.check("split query")(Check.sameAnswers(r.hits(facade), r.hits(split)))
  }

  def lifecycle(r: Run, in: Inputs.Vectors): Unit = {
    val spark = r.spark
    import spark.implicits._
    val corpusDf = spark.read.parquet(in.corpus)
    val original = mutable.HashMap.empty[Long, Array[Float]] ++= r.vecs(corpusDf)
    val insertsDf = spark.read.parquet(in.inserts)
    val inserts = insertsDf.select(col("cycle"), col("vec_id"), col("embedding")).collect()
      .groupBy(_.getInt(0)).map { case (c, rows) =>
        c -> rows.map(x => (x.getLong(1), x.getSeq[Float](2).toArray)).sortBy(_._1).toSeq
      }
    inserts.values.foreach(original ++= _)
    val pool = r.vecs(spark.read.parquet(in.queries)).sortBy(_._1).toIndexedSeq
    val live = mutable.HashMap.empty[Long, Array[Float]] ++= r.vecs(corpusDf)
    val deleted = mutable.HashSet.empty[Long]
    val pick = new java.util.SplittableRandom(r.seed)
    def sample[A](xs: IndexedSeq[A], n: Int): IndexedSeq[A] = {
      val a = xs.toBuffer
      for (i <- 0 until math.min(n, a.length)) {
        val j = i + pick.nextInt(a.length - i)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.take(n).toIndexedSeq
    }
    def ids(xs: Iterable[Long]) = xs.toSeq.toDF("id")

    val sys = setUp(r, corpusDf, r.frame(pool.take(Batch)))
    r.steady { c =>
      val req = s"cycle-$c"
      val batch = inserts(c)
      val visQ = sample(batch.toIndexedSeq, Batch)
      // the op is the sum of the verbs' wall times; checks in between
      // are not timed
      var opMs = 0.0
      def verb[A](layer: String, name: String, metric: String)(body: => A): A = {
        val (a, ms) = r.timed(r.tr.span(layer, name)(body))
        opMs += ms
        if (metric.nonEmpty) r.record(metric, ms)
        a
      }
      r.tr.span("bench", "lifecycle.cycle", req) {
        verb("graft", "GraftSystem.insert", "graft.insert_ms")(sys.insert(insertsDf.filter(col("cycle") === c)))
        val visible = verb("graft", "GraftSystem.query+delta", "graft.query_delta_ms")(sys.query(r.frame(visQ), K).collect())
        live ++= batch
        r.check(s"$req insert")(Check.visible(r.hits(visible), visQ.map(_._1)) ++
          Check.ann(r.hits(visible), visQ.toMap, live, K)._1)
        val gone = sample(live.keys.toIndexedSeq.sorted, Deletes)
        verb("graft", "GraftSystem.delete", "")(sys.delete(ids(gone)))
        live --= gone
        deleted ++= gone
        val touched = sample(live.keys.toIndexedSeq.sorted, (live.size * TouchShare).toInt).toSet
        verb("crypto", "GraftSystem.touch+rotateKeys", "crypto.rotate_ms") {
          sys.touch(ids(touched))
          sys.rotateKeys()
          r.noop(sys.encryptedStore)
        }
        val probe = sample(touched.toIndexedSeq.sorted, Sample) ++
          sample(live.keys.filterNot(touched).toIndexedSeq.sorted, Sample)
        val store = sys.encryptedStore.filter(col("id").isin(probe: _*)).collect().toSeq
          .map(x => Check.Sealed(x.getAs[Long]("id"), x.getAs[Int]("kv"),
            x.getAs[Array[Byte]]("iv"), x.getAs[Array[Byte]]("ct")))
        r.check(s"$req rotate")(Check.rotated(store, touched, sys.currentVersion, original, key) ++
          (if (store.size == probe.size) Nil else Seq(s"${store.size} records for ${probe.size} ids")))
        val q2 = sample(gone.map(i => (i, original(i))), Batch / 2) ++ sample(pool, Batch / 2)
        val after = verb("graft", "GraftSystem.compactNow+query", "graft.compact_ms") {
          sys.compactNow()
          sys.query(r.frame(q2), K).collect()
        }
        val (problems, quality) = Check.ann(r.hits(after), q2.toMap, live, K)
        r.check(s"$req compact")(Check.absent(r.hits(after), deleted) ++ problems)
        r.recall ++= quality.recall
        r.op(opMs)
        r.items += batch.size
      }
      if (r.tracing) {
        val staged = IndexMaintenance.stageCodes(insertsDf.filter(col("cycle") === c),
          "vec_id", "embedding", sys.model)
        val (_, code) = r.timed(r.tr.span("lsh", "IndexMaintenance.stageCodes", req)(r.noop(staged)))
        r.record("lsh.code_ms", code)
        r.record("lsh.code_rows", staged.count().toDouble)
        val (_, delta) = r.timed(r.tr.span("index", "IndexMaintenance.buildDelta", req) {
          val d = IndexMaintenance.buildDelta(staged, sys.blockSize)
          r.noop(d.membership); r.noop(d.summaries)
        })
        r.record("index.delta_build_ms", delta)
        val kv = sys.keyUsage().collect().map(x => (x.getInt(0), x.getLong(1))).toMap
        val moved = kv.getOrElse(sys.currentVersion, 0L)
        r.record("crypto.records_reencrypted", moved.toDouble)
        r.record("crypto.records_carried", (kv.values.sum - moved).toDouble)
      }
      c + 1 < in.cycles
    }
    r.residentMb = r.storageMb()
    finish(r, sys, pool, live, deleted)
  }

  /** Once per run: export, load into a fresh system, re-apply the
    * session's deletes (trackers are not exported), and answer exactly
    * as before. */
  private def finish(r: Run, sys: GraftSystem, pool: IndexedSeq[(Long, Array[Float])],
      live: collection.Map[Long, Array[Float]], deleted: collection.Set[Long]): Unit = {
    val spark = r.spark
    import spark.implicits._
    val q = r.frame(pool.takeRight(Batch))
    val before = sys.query(q, K).collect()
    val dir = s"${r.work}/export"
    val (_, ex) = r.timed(r.tr.span("graft", "GraftSystem.export", "restore")(sys.export(dir)))
    r.record("graft.export_ms", ex)
    val (after, load) = r.timed(r.tr.span("graft", "GraftSystem.load+query", "restore") {
      val loaded = GraftSystem.load(spark, dir)
      loaded.delete(deleted.toSeq.toDF("id"))
      loaded.query(q, K).collect()
    })
    r.record("graft.load_ms", load)
    r.check("restore")(Check.sameAnswers(r.hits(before), r.hits(after)) ++
      Check.ann(r.hits(after), pool.takeRight(Batch).toMap, live, K)._1)
    if (r.tracing) {
      val cur = sys.encryptedStore.filter(col("kv") === sys.currentVersion)
      val (_, dec) = r.timed(r.tr.span("crypto", "VersionedCrypto.decrypt", "restore")(
        r.noop(VersionedCrypto.decrypt(cur, sys.currentVersion))))
      r.record("crypto.decrypt_ms", dec)
      r.record("crypto.store_bytes",
        sys.encryptedStore.agg(sum(length(col("ct")))).head().getLong(0).toDouble)
    }
  }
}
