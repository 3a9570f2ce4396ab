package graft

import org.apache.spark.sql.functions._

/** The ForwardSecureANNSystem lifecycle through the one-handle facade:
  * setup → query parity → staged insert visibility → compact →
  * soft delete → rotation + selective re-encryption → restore. */
class GraftSystemSpec extends SparkSpecBase {
  import spark.implicits._

  private def corpus = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding"))
  // query frames carry the corpus schema (vec_id, embedding) — the
  // AnnQuery convention; results key them as query_id
  private def queries(n: Int) = corpus.filter(col("vec_id") < n)

  test("setup serves exactly the library's lshTopK plan") {
    val sys = GraftSystem.setup(spark, corpus)
    val got = sys.query(queries(5), k = 10)
      .select("query_id", "vec_id", "rnk").collect().toSet
    val model = sys.model
    val codes = graft.index.LshIndex.codes(corpus, "vec_id", "embedding", model)
    val direct = graft.query.AnnQuery.lshTopK(spark, corpus, queries(5), 10,
        model, graft.index.LshIndex.build(codes, 64))
      .select("query_id", "vec_id", "rnk").collect().toSet
    assert(got == direct)
  }

  test("staged inserts are immediately searchable; compact preserves results") {
    val sys = GraftSystem.setup(spark, corpus)
    // a fresh point far outside the corpus id space, equal to an
    // existing vector: it must come back for a query at that vector
    val seed = corpus.filter(col("vec_id") === 3)
      .select(lit(900001L).as("vec_id"), col("embedding"))
    sys.insert(seed)
    val q = corpus.filter(col("vec_id") === 3)
    val served = sys.query(q, k = 10).select("vec_id").as[Long].collect().toSet
    assert(served.contains(900001L), s"staged insert invisible: $served")
    // the store now carries the insert too
    assert(sys.encryptedStore.filter(col("id") === 900001L).count() == 1)
    val before = sys.query(queries(5), k = 10)
      .select("query_id", "vec_id", "rnk").collect().toSet
    sys.compactNow()
    val after = sys.query(queries(5), k = 10)
      .select("query_id", "vec_id", "rnk").collect().toSet
    assert(before == after, "compact changed serving results")
  }

  test("repeated tiny inserts stay lazy until query, then all serve") {
    val sys = GraftSystem.setup(spark, corpus)
    // three sequential one-row inserts: each clones an existing vector
    // under a fresh id. Batches are DEFINED up front: `corpus` is a def
    // over spark.read.parquet, whose schema inference runs a 1-task job
    // that would otherwise be misattributed to insert()
    val batches = (0 until 3).map(i => corpus.filter(col("vec_id") === i)
      .select(lit(910000L + i).as("vec_id"), col("embedding")))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      batches.foreach(sys.insert)
      Thread.sleep(1000) // listener bus is async; drain before reading
      assert(jobs.get() == 0,
        s"insert must not run Spark jobs (delta build is deferred): ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
    // all three staged rows serve in one delta
    for (i <- 0 until 3) {
      val served = sys.query(corpus.filter(col("vec_id") === i), k = 10)
        .select("vec_id").as[Long].collect().toSet
      assert(served.contains(910000L + i), s"staged insert $i invisible: $served")
    }
  }

  test("soft deletes drop from results without touching store or index") {
    val sys = GraftSystem.setup(spark, corpus)
    val q = queries(3)
    val full = sys.query(q, k = 5).select("vec_id").as[Long].collect().toSet
    val victim = full.head
    sys.delete(Seq(victim).toDF("id"))
    val pruned = sys.query(q, k = 5).select("vec_id").as[Long].collect().toSet
    assert(!pruned.contains(victim))
    assert(sys.encryptedStore.filter(col("id") === victim).count() == 1)
  }

  test("delete + staged insert combined: deletions filter before the cap in the delta path") {
    val sys = GraftSystem.setup(spark, corpus)
    val q = queries(3)
    val victim = sys.query(q, k = 5).select("vec_id").as[Long].collect().toSet.head
    // enter the staged-delta serving path, then delete a MAIN id
    val seed = corpus.filter(col("vec_id") === 3)
      .select(lit(900002L).as("vec_id"), col("embedding"))
    sys.insert(seed)
    sys.delete(Seq(victim).toDF("id"))
    val delta = sys.query(q, k = 5)
      .select("query_id", "vec_id", "rnk").collect()
    assert(!delta.map(_.getLong(1)).contains(victim))
    // full k rows with contiguous ranks per query — a post-top-k
    // anti-join would leave short results and holes in rnk
    delta.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      assert(rows.length == 5, s"query $qid returned ${rows.length} rows, wanted 5")
      assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to 5), s"rnk holes for $qid")
    }
    // and the delta path agrees with the compacted (non-delta) path
    sys.compactNow()
    val compacted = sys.query(q, k = 5)
      .select("query_id", "vec_id", "rnk").collect()
    assert(delta.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      compacted.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet,
      "delta and compacted paths diverged for identical state")
  }

  test("streamed serving through the facade equals the batch query") {
    import java.nio.file.{Files, Paths}
    def tmp(name: String): String = {
      val d = s"/root/repo/target/tmp/graftsys/$name"
      val p = Paths.get(d)
      if (Files.exists(p))
        Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      Files.createDirectories(p)
      d
    }
    val sys = GraftSystem.setup(spark, corpus)
    val in = tmp("in"); val ckpt = tmp("ckpt"); val out = tmp("out")
    queries(5).coalesce(1).write.mode("overwrite").parquet(s"$in/batch=0")
    val stream = spark.readStream.schema(queries(5).schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$in/batch=*")
    val q = sys.serveStream(stream.toDF(), k = 10, out, ckpt)
    q.awaitTermination(120000)
    val streamed = spark.read.parquet(out)
      .select("query_id", "vec_id", "rnk").collect().toSet
    val batch = sys.query(queries(5), k = 10)
      .select("query_id", "vec_id", "rnk").collect().toSet
    assert(streamed == batch)
  }

  test("a touched row that fell behind still migrates: decrypt under its actual kv") {
    val sys = GraftSystem.setup(spark, corpus)
    val victim = 7L
    // two rotations pass the victim by (untouched, stays at kv 1)
    sys.rotateKeys(); sys.rotateKeys()
    assert(sys.currentVersion == 3)
    assert(sys.encryptedStore.filter(col("id") === victim)
      .head().getAs[Int]("kv") == 1)
    // now touched: the next rotation must migrate it from kv 1 to kv 4
    sys.touch(Seq(victim).toDF("id"))
    sys.rotateKeys()
    assert(sys.encryptedStore.filter(col("id") === victim)
      .head().getAs[Int]("kv") == 4, "behind row left unmigrated")
    // and it still decrypts correctly through the restore path
    val q = corpus.filter(col("vec_id") === victim)
    val got = sys.restore().query(q, k = 1).select("vec_id").as[Long].head()
    assert(got == victim)
  }

  test("export + load round-trips the full system state into a fresh handle") {
    import java.nio.file.{Files, Paths}
    val dir = "/root/repo/target/tmp/graftsys/export"
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    val sys = GraftSystem.setup(spark, corpus)
    sys.touch(Seq(1L, 2L).toDF("id"))
    sys.rotateKeys() // exported state carries two key versions
    sys.export(dir)
    val loaded = GraftSystem.load(spark, dir)
    assert(loaded.currentVersion == sys.currentVersion)
    assert(loaded.blockSize == sys.blockSize)
    assert(loaded.model.params == sys.model.params)
    val q = queries(5)
    val live = sys.query(q, k = 10).select("query_id", "vec_id", "rnk").collect().toSet
    val fresh = loaded.query(q, k = 10).select("query_id", "vec_id", "rnk").collect().toSet
    assert(live == fresh, "loaded system diverged from the exporting one")
  }

  test("answers do not depend on corpus partitioning, also after export + load") {
    // setup spreads a one-split corpus before coding; block numbering
    // is a global sort, so the spread must be result-neutral
    def answer(sys: GraftSystem) = sys.query(queries(5), k = 10).collect()
      .map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")).toSeq
    val one = GraftSystem.setup(spark, corpus.coalesce(1))
    val eight = GraftSystem.setup(spark, corpus.repartition(8))
    val expected = answer(one)
    assert(expected.nonEmpty)
    assert(answer(eight) == expected, "an 8-split corpus answered differently")
    val dir = java.nio.file.Files.createTempDirectory("graftsys-spread").toString
    try {
      eight.export(dir)
      assert(answer(GraftSystem.load(spark, dir)) == expected,
        "export + load diverged from the one-split answer")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("rotation migrates exactly the touched set; restore rebuilds from the store") {
    val sys = GraftSystem.setup(spark, corpus)
    sys.touch(Seq(1L, 2L, 3L).toDF("id"))
    sys.rotateKeys()
    assert(sys.currentVersion == 2)
    val kv = sys.encryptedStore.groupBy("kv").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(kv(2) == 3, s"migrated rows: $kv")
    assert(kv(1) == corpus.count() - 3)
    // only the already-rotated version is safe to delete... none here:
    // v1 still carries records, so nothing is deletable
    assert(sys.deletableVersions(1).filter(col("deleted") === 1).count() == 0)
    // restore from the encrypted store alone: same serving results
    val q = queries(5)
    val live = sys.query(q, k = 10).select("query_id", "vec_id", "rnk").collect().toSet
    val restored = sys.restore().query(q, k = 10)
      .select("query_id", "vec_id", "rnk").collect().toSet
    assert(live == restored, "restore diverged from live serving")
  }

  test("refresh loop (production API): a healthy merge keeps the frozen state, publish swaps serving") {
    import graft.operators.Embeddings
    import graft.query.{IvfSearch, MrlSearch}
    import graft.streaming.{AnnServe, MrlLifecycle, RefreshLoop}
    val base = corpus.cache()
    val dim = base.select(size(col("embedding"))).head().getInt(0)
    val cents1 = IvfSearch.fitCentroids(base, 16, Some("gs-refresh-c1"))
    val comps1 = Embeddings.mrlRotationOf(base, dim / MrlSearch.PrefixShare)
    val idx1 = MrlSearch.buildIndexOn(spark, base, cents1, comps1)
    val dir = "/root/repo/target/tmp/gs-refresh"
    graft.util.Io.deleteRecursively(dir)
    val life = new MrlLifecycle(spark, base, idx1, dir, 1000000L)
    val ref = new AnnServe.MrlIndexRef(idx1)
    val loop = new RefreshLoop(spark, life, ref)
    // a HEALTHY merge: 5 exact recrawl copies of residents — identical
    // vectors land in the original's cell under ANY fit, so both the
    // frozen and the refit assignment see exactly the same 5 pairs
    // (guard pinned wide so neither side's cell statistics interfere)
    val delta = base.filter(col("vec_id") < 5)
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))
    val merged = base.unionByName(delta).cache()
    val cents2 = loop.refit(merged, delta)
    val rep = loop.report(merged, cents1, cents2, guardOverride = Some(100000))
    assert(rep.pairsFrozen == 5 && rep.pairsRefit == 5 && rep.pairsCommon == 5,
      s"both fits must see exactly the 5 recrawl pairs: $rep")
    assert(!rep.shouldThaw && rep.gained == 0 && rep.lost == 0,
      s"a healthy merge must read keep-frozen: $rep")
    assert(loop.thawIfGained(merged, cents2, rep).isEmpty,
      "no thaw may execute on a keep-frozen report")
    // zero-downtime publish: the serving ref flips to the lifecycle's
    // gen-2 index only when the caller says so
    assert(ref.idx eq idx1, "publish must not happen implicitly in refit")
    loop.publish()
    assert(ref.idx eq life.current, "publish must point serving at gen-2")
    merged.unpersist(); base.unpersist()
    ()
  }
}
